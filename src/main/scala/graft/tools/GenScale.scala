package graft.tools

import org.apache.spark.sql.SparkSession
import java.util.Random

/** Deterministic scale-fixture generator for the BENCH_SCALE exponent
  * measurement (VERDICT r3 "next round" #1): the driver's testdata stops
  * at sf0.1, so scaling exponents need self-consistent corpora at two
  * scales FROM THE SAME GENERATIVE PROCESS — comparing driver-sf0.1
  * against a differently-distributed sf1 would measure distribution
  * drift, not scaling.
  *
  * Tables mirror the driver schemas ([[graft.core.Tables]]) for the
  * scale-family queries (documents / embeddings / lineitem), with the
  * driver's shapes preserved where they matter and made realistic where
  * the driver's fixture is deliberately adversarial:
  *
  *  - `documents`: token count U[10,100], 20 sources, planted near-dup
  *    clusters of 5 docs (~J 0.9 pairwise) with cluster COUNT ∝ corpus
  *    (cluster SIZE constant — growing clusters would make even the true
  *    pair set quadratic). Vocabulary grows by Heaps' law
  *    (V ≈ 2.2·sqrt(total tokens), Zipf s≈1.07 token draw) — real
  *    corpora grow vocabulary with size; the driver's fixed 31-word
  *    vocabulary at 50k docs would make EVERY operator's candidate set
  *    explode, measuring the fixture, not the operator.
  *  - `embeddings`: 64-dim gaussians, 10 labels, planted near-identical
  *    pairs (cosine ≥ 0.99) ∝ corpus.
  *  - `lineitem`: rows/parts/suppliers all ∝ sf (driver ratios:
  *    6M/200k/10k per sf=1), so suppliers-per-part stays ~constant —
  *    the q21/q68 workload grows linearly in sf by construction.
  *
  * Determinism: every row is generated from `new Random(mix(seed, id))`
  * — independent of partitioning and parallelism; same (sf, seed) →
  * byte-identical tables.
  *
  * Usage: `runMain graft.tools.GenScale <outDir> <sf> [seed]`.
  */
object GenScale {

  def mix(seed: Long, id: Long): Long = {
    var x = seed ^ (id * 0x9E3779B97F4A7C15L)
    x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 27; x *= 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Zipf(s) cumulative distribution over ranks 1..v. */
  private def zipfCdf(v: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(v)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    val cdf = new Array[Double](v)
    var acc = 0.0
    var i = 0
    while (i < v) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf(v - 1) = 1.0
    cdf
  }

  private def zipfDraw(cdf: Array[Double], r: Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else -(i + 1)
  }

  case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  case class Li(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: java.sql.Timestamp)

  val Langs: Array[String] = Array("en", "zh", "es", "fr", "de")
  val ClusterSize = 5

  def nDocs(sf: Double): Int = (50000 * sf).toInt
  def nClusters(sf: Double): Int = math.max(1, nDocs(sf) / 80)

  private def docText(vocab: Array[String], cdf: Array[Double], r: Random): Array[String] = {
    val len = 10 + r.nextInt(91)
    Array.fill(len)(vocab(zipfDraw(cdf, r)))
  }

  /** `fixedVocab = Some(v)` freezes the vocabulary at v words with a
    * uniform draw — the driver fixture's deliberately adversarial shape
    * (31 words at every sf), where every shingle is high-df and ANY
    * exact all-pairs method degrades toward quadratic. Default (None) is
    * the realistic model: Heaps-law vocabulary growth + Zipf draw. */
  def documents(spark: SparkSession, sf: Double, seed: Long,
      fixedVocab: Option[Int] = None) = {
    import spark.implicits._
    val n = nDocs(sf)
    val clusters = nClusters(sf)
    val totalTokens = n * 55.0
    val v = fixedVocab.getOrElse(
      math.max(400, (2.2 * math.sqrt(totalTokens)).toInt))
    val vocab = Array.tabulate(v)(i => s"w$i")
    val cdf = zipfCdf(v, if (fixedVocab.isDefined) 0.0 else 1.07)
    spark.range(n).map { id =>
      val inCluster = id < clusters.toLong * ClusterSize
      val base =
        if (inCluster) docText(vocab, cdf, new Random(mix(seed, 7_000_000_000L + id / ClusterSize)))
        else docText(vocab, cdf, new Random(mix(seed, id)))
      val r = new Random(mix(seed, 3_000_000_000L + id))
      val text =
        if (inCluster && id % ClusterSize != 0) {
          // non-representative member: perturb ~1% of tokens -> J ~0.9
          base.map(t => if (r.nextDouble() < 0.01) vocab(zipfDraw(cdf, r)) else t)
        } else base
      val s = text.mkString(" ")
      Doc(id, s, Langs(r.nextInt(Langs.length)), s"src${id % 20}", s.length.toLong)
    }
  }

  val Dim = 64

  def nVecs(sf: Double): Int = (20000 * sf).toInt
  def nDupPairs(sf: Double): Int = math.max(1, nVecs(sf) / 25)

  def embeddings(spark: SparkSession, sf: Double, seed: Long) = {
    import spark.implicits._
    val n = nVecs(sf)
    val pairs = nDupPairs(sf)
    spark.range(n).map { id =>
      val planted = id < 2L * pairs
      val baseR =
        if (planted) new Random(mix(seed, 9_000_000_000L + id / 2))
        else new Random(mix(seed, 5_000_000_000L + id))
      val vec = Array.fill(Dim)(baseR.nextGaussian().toFloat)
      val r = new Random(mix(seed, 6_000_000_000L + id))
      if (planted && id % 2 == 1) {
        var i = 0
        while (i < Dim) { vec(i) += (r.nextGaussian() * 0.01).toFloat; i += 1 }
      }
      Emb(id, vec, r.nextInt(10))
    }
  }

  def nLineitem(sf: Double): Long = (6000000L * sf).toLong
  def nParts(sf: Double): Int = math.max(1, (200000 * sf).toInt)
  def nSupps(sf: Double): Int = math.max(1, (10000 * sf).toInt)

  def lineitem(spark: SparkSession, sf: Double, seed: Long) = {
    import spark.implicits._
    val n = nLineitem(sf)
    val (parts, supps) = (nParts(sf), nSupps(sf))
    val flags = Array("R", "A", "N")
    val statuses = Array("O", "F")
    val t0 = java.sql.Timestamp.valueOf("1994-01-01 00:00:00").getTime
    val span = 4L * 365 * 86400 * 1000
    spark.range(n).map { id =>
      val r = new Random(mix(seed, 100_000_000_000L + id))
      val qty = 1 + r.nextInt(50)
      Li(id / 4, r.nextInt(parts).toLong, r.nextInt(supps).toLong,
        (id % 4).toInt + 1, qty.toDouble,
        math.round(qty * (900.0 + r.nextDouble() * 100.0) * 100.0) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        flags(r.nextInt(3)), statuses(r.nextInt(2)),
        new java.sql.Timestamp(t0 + (r.nextDouble() * span).toLong))
    }
  }

  /** `tables` subsets what is written (GRAFT_GEN_TABLES env in main) —
    * a CandVol-only decade needs documents+embeddings and can skip the
    * dominant lineitem generation (180M rows at sf=30). */
  def generate(spark: SparkSession, outDir: String, sf: Double, seed: Long = 42L,
      fixedVocab: Option[Int] = None,
      tables: Set[String] = Set("documents", "embeddings", "lineitem")): Unit = {
    if (tables("documents"))
      documents(spark, sf, seed, fixedVocab).write.mode("overwrite")
        .parquet(s"$outDir/documents.parquet")
    if (tables("embeddings"))
      embeddings(spark, sf, seed).write.mode("overwrite")
        .parquet(s"$outDir/embeddings.parquet")
    if (tables("lineitem"))
      lineitem(spark, sf, seed).write.mode("overwrite")
        .parquet(s"$outDir/lineitem.parquet")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenScale <outDir> <sf> [seed] [fixedVocab]")
    val (outDir, sf) = (args(0), args(1).toDouble)
    val seed = if (args.length > 2) args(2).toLong else 42L
    val fixedVocab = if (args.length > 3) Some(args(3).toInt) else None
    val spark = Timing.session("GenScale")
    val tables = sys.env.get("GRAFT_GEN_TABLES")
      .map(_.split(",").toSet)
      .getOrElse(Set("documents", "embeddings", "lineitem"))
    generate(spark, outDir, sf, seed, fixedVocab, tables)
    println(s"generated sf=$sf at $outDir (docs=${nDocs(sf)}, vecs=${nVecs(sf)}, lineitem=${nLineitem(sf)}; tables=${tables.toSeq.sorted.mkString(",")})")
    spark.stop()
  }
}
