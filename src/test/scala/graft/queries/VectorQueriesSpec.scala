package graft.queries

import graft.SparkSpec
import graft.core.Pin
import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-validation of the deterministic integer k-means against an
  * independent in-memory Lloyd implementation (the PageRankReference
  * pattern: same seeding and integer arithmetic, different code path). */
class VectorQueriesSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private def quantized: Map[Long, Array[Long]] =
    quantize(graft.core.Tables.embeddings(spark, d))

  private def quantize(e: DataFrame): Map[Long, Array[Long]] =
    e.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) =>
        val sc = math.max(v.map(x => math.abs(x.toDouble)).max, 1e-30) / 127.0
        // HALF_UP (away from zero), matching Spark/DuckDB round — NOT
        // Math.round, which sends -2.5 to -2 instead of -3
        id -> v.map(x => BigDecimal(x.toDouble / sc)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
      }.toMap

  private def lloyd(q: Map[Long, Array[Long]], k: Int, iters: Int)
      : (Map[Long, Int], Map[Int, Array[Long]]) = {
    var cents: Map[Int, Array[Long]] =
      (0 until k).map(i => i -> q(i.toLong)).toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(): Map[Long, Int] = q.map { case (id, v) =>
      id -> cents.toSeq.map { case (cid, cv) => (dist(v, cv), cid) }.min._2
    }
    for (_ <- 1 to iters) {
      val a = assign()
      cents = a.groupBy(_._2).map { case (cid, members) =>
        val vs = members.keys.map(q).toSeq
        cid -> Array.tabulate(vs.head.length) { i =>
          math.floor(vs.map(_(i)).sum.toDouble / vs.size).toLong
        }
      }
    }
    (assign(), cents)
  }

  test("q99 integer k-means equals an independent in-memory Lloyd run") {
    val q = quantized
    val (assign, cents) = lloyd(q, VectorQueries.KmK, VectorQueries.KmIters)
    val wantByCluster = assign.groupBy(_._2).map { case (cid, m) =>
      val members = m.keys.toSeq
      val inertia = members.map { id =>
        val cv = cents(cid)
        q(id).zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum
      cid -> (members.size.toLong, inertia, members.min, cents(cid).sum)
    }
    val got = VectorQueries.q99Kmeans(spark, d)
      .as[(Int, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got == wantByCluster,
      "distributed and in-memory integer k-means must agree bit-for-bit")
    assert(got.size > 1, "fixture must split into multiple clusters")
    assert(got.values.map(_._1).sum == q.size, "every vector assigned once")
  }

  /** In-memory twin of the engine's TWO-LEVEL clustering: coarse k1
    * Lloyd (seeded by vec_id < k1, via [[lloyd]]), then a fine k2 fit
    * within each coarse cell seeded by the cell's k2 lowest vec_ids;
    * composite cid = ccid·k2 + fid. Same integer arithmetic and
    * (dist, id) tie-breaks as the distributed path. */
  private def twoLevelClusters(q: Map[Long, Array[Long]]): Map[Long, Int] = {
    val k = VectorQueries.semKFor(q.size)
    val k1 = VectorQueries.semK1For(k)
    val k2 = (k + k1 - 1) / k1
    val (coarse, _) = lloyd(q, k1, VectorQueries.KmIters)
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    coarse.groupBy(_._2).flatMap { case (ccid, members) =>
      val ids = members.keys.toSeq.sorted
      val sub = ids.map(id => id -> q(id)).toMap
      var cents: Map[Int, Array[Long]] =
        ids.take(k2).zipWithIndex.map { case (id, i) => i -> q(id) }.toMap
      def assign(): Map[Long, Int] = sub.map { case (id, v) =>
        id -> cents.toSeq.map { case (fid, cv) => (dist(v, cv), fid) }.min._2
      }
      for (_ <- 1 to VectorQueries.KmIters) {
        val a = assign()
        cents = a.groupBy(_._2).map { case (fid, ms) =>
          val vs = ms.keys.map(sub).toSeq
          fid -> Array.tabulate(vs.head.length) { i =>
            math.floor(vs.map(_(i)).sum.toDouble / vs.size).toLong
          }
        }
      }
      assign().map { case (id, fid) => id -> (ccid * k2 + fid) }
    }
  }

  test("q115 semantic dedup equals an independent in-memory SemDeDup") {
    val q = quantized
    val assign: Map[Long, Int] = twoLevelClusters(q)
    val vecs: Map[Long, Array[Double]] =
      graft.core.Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
        .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    // mirror the engine exactly: left-to-right double fold for dot/norm,
    // HALF_UP round(4) before the threshold compare
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
    def cos4(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      BigDecimal(dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = assign.groupBy(_._2).flatMap { case (cid, m) =>
      val members = m.keys.toSeq.sorted
      val inPlay = members.size <= VectorQueries.SemMaxCluster
      members.map { b =>
        val removed = inPlay && members.exists(a =>
          a < b && cos4(a, b) >= VectorQueries.SemTau)
        b -> ((cid, !removed))
      }
    }
    val got = VectorQueries.q115SemanticDedup(spark, d)
      .as[(Long, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == want,
      "distributed and in-memory semantic dedup must agree exactly")
    assert(got.values.exists(!_._2) && got.values.exists(_._2),
      "fixture must exercise both keep and remove paths")
    // the lowest id of every cluster is always kept (the keep-one rule)
    assign.groupBy(_._2).foreach { case (_, m) =>
      assert(got(m.keys.min)._2, "cluster minimum must be kept")
    }
  }

  test("q117 capped near-dup equals q113 while the corpus needs <= cap planes") {
    // fixture corpora need at most 8 planes, so the probe cap is
    // inactive and the declared capped form must be bit-identical to the
    // uncapped one (the cap's divergence at depth is pinned by
    // CandVolSpec's probe-set test and measured by CandVol at g3/g10)
    val (_, scheme) = graft.operators.Dedup.adaptiveBuckets(
      graft.core.Tables.embeddings(spark, d))
    assert(scheme.planesUsed <= VectorQueries.CappedProbePlanes)
    val a = VectorQueries.q113EmbedNearDupAdaptive(spark, d)
      .as[(Long, Long, Double)].collect().toSet
    val b = VectorQueries.q117EmbedNearDupCapped(spark, d)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("VecSum and posexplode centroid updates produce identical clusters") {
    // the engine's VecSum updates (floorDiv(sum, n)) must match the
    // in-memory twin's posexplode-style per-component floor(sum/count
    // as double) BIT for bit — VecSum's scaladoc argues it, this asserts
    // it end-to-end — including on clusters whose component sums are
    // negative: the fixture embeddings carry negative components, and
    // the singleton check below forces an explicit negative-sum division
    val e = graft.core.Tables.embeddings(spark, d)
    val got = VectorQueries.semanticClusters(e)
      .as[(Long, Int)].collect().sorted.toSeq
    assert(got == twoLevelClusters(quantized).toSeq.sorted,
      "VecSum updates diverged from the in-memory Lloyd twin")
    // floorDiv-vs-truncation corner: a group with a negative odd sum
    // (sum = -3, n = 2) must floor to -2, not truncate to -1
    val neg = Seq((0L, Seq(-1, 3)), (1L, Seq(-2, 3))).toDF("id", "qv")
      .groupBy(lit(1).as("g"))
      .agg(graft.functions.VecSum(col("qv")).as("sums"), count(lit(1)).as("n"))
      .select(col("sums"), col("n")).as[(Seq[Long], Long)].head()
    assert(neg._1 == Seq(-3L, 6L) && neg._2 == 2L)
    assert(Math.floorDiv(neg._1.head, neg._2) == -2L,
      "floor semantics on negative sums")
  }

  test("Pin.free on semanticClusters' result releases the checkpoint blocks") {
    val e = graft.core.Tables.embeddings(spark, d)
    // start from a clean slate so the block count isolates this call
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val df = VectorQueries.semanticClusters(e)
    val got = df.as[(Long, Int)].collect().sorted.toSeq
    assert(got == twoLevelClusters(quantized).toSeq.sorted)
    // the coarse assignment's localCheckpoint is resident after execution
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected a resident checkpoint RDD before Pin.free")
    Pin.free(df)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "Pin.free on the result must release the checkpoint blocks it reads " +
        "(Dataset.unpersist is a no-op on checkpointed frames)")
  }

  test("codegen QuantizeExpr equals the aggregate+transform Column form") {
    val e = graft.core.Tables.embeddings(spark, d)
    val cols = e.select(col("vec_id"),
        V.quantize(col("embedding"), V.quantScale(col("embedding"))).as("qv"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    val expr = VectorQueries.quantizedFrame(e)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(cols == expr, "quantization forms diverged")
    assert(cols.nonEmpty && cols.exists(_._2.exists(_ < 0)),
      "fixture must exercise negative components")
  }

  test("k1 > 1 coarse branch equals the in-memory two-level Lloyd twin") {
    // the fixtures hold 500 vectors (k = 16, k1 = 1); 20,001 vectors give
    // k = 17, so the coarse fit runs with k1 = 5 cells of k2 = 4
    val n = 20001
    val rnd = new scala.util.Random(115)
    val rows = (0 until n).map(i =>
      (i.toLong, Seq.fill(64)((rnd.nextGaussian() + (i % 3) - 1).toFloat)))
    val dir = java.nio.file.Files.createTempDirectory("semclusters").toString
    try {
      rows.toDF("vec_id", "embedding").repartition(4)
        .write.parquet(s"$dir/embeddings")
      val e = spark.read.parquet(s"$dir/embeddings")
      assert(VectorQueries.semK1For(VectorQueries.semKFor(n)) > 1)
      val clusters = VectorQueries.semanticClusters(e)
      val got = clusters.as[(Long, Int)].collect().sorted.toSeq
      Pin.free(clusters)
      val want = twoLevelClusters(quantize(e)).toSeq.sorted
      assert(got == want, "two-level clusters diverged from the in-memory twin")
      assert(got.map(_._2).distinct.size > 5, "fine level must split the coarse cells")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q99 is invariant to shuffle partitioning (the determinism claim)") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val a = VectorQueries.q99Kmeans(spark, d)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val b = VectorQueries.q99Kmeans(spark, d)
        .as[(Int, Long, Long, Long, Long)].collect().toSeq
      assert(a == b, "k-means output must not depend on partition count")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
