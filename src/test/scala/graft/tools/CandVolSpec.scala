package graft.tools

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Tables
import graft.operators.Dedup

/** The candidate-volume diagnostic is only trustworthy if its aggregate
  * formulas equal the row counts the operators' joins actually produce —
  * each test enumerates the join from the SAME key frame CandVol
  * aggregates and asserts exact equality on the fixture corpus. */
class CandVolSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, dir)
  private lazy val embs = Tables.embeddings(spark, dir)

  /** id_a < id_b self-equijoin row count on `keyCols` — the work the
    * candidate stage feeds into its verify filters. */
  private def enumerated(keys: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): Long = {
    val a = keys.select(keyCols.map(col) :+ col("id").as("id_a"): _*)
    val b = keys.select(keyCols.map(col) :+ col("id").as("id_b"): _*)
    a.join(b, keyCols).filter(col("id_a") < col("id_b")).count()
  }

  test("minhash band volume equals the enumerated band join") {
    val keys = Dedup.minhashBandKeys(docs, k = 16, bands = 4, n = 3)
      .select("id", "band", "band_hash")
    assert(CandVol.selfJoinVolume(keys, Seq("band", "band_hash")) ===
      enumerated(keys, Seq("band", "band_hash")))
  }

  test("simhash chunk volumes equal the enumerated chunk joins (q36 + q114 widths)") {
    val k36 = Dedup.simhashChunkKeys(Dedup.simhashDocs(docs), maxDist = 12,
      bits = graft.functions.SimHash.Bits)
    assert(CandVol.selfJoinVolume(k36, Seq("chunk_idx", "chunk")) ===
      enumerated(k36, Seq("chunk_idx", "chunk")))
    val k114 = Dedup.simhashChunkKeys(Dedup.simhashDocsPortable(docs),
      maxDist = 3, bits = Dedup.PortableSimHashBits)
    assert(CandVol.selfJoinVolume(k114, Seq("chunk_idx", "chunk")) ===
      enumerated(k114, Seq("chunk_idx", "chunk")))
  }

  test("simhash combo volume equals the enumerated combination-table join (q116)") {
    val keys = Dedup.simhashComboKeys(Dedup.simhashDocsPortable(docs),
      maxDist = 3, bits = Dedup.PortableSimHashBits, nBlocks = 6)
    assert(CandVol.selfJoinVolume(keys, Seq("combo_idx", "combo_key")) ===
      enumerated(keys, Seq("combo_idx", "combo_key")))
  }

  test("cross-band volume equals the enumerated corpus-x-probe band join (q119)") {
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val probe = docs.filter(col("doc_id") % 7 === 0)
    val ka = Dedup.minhashBandKeys(corpus)
    val kb = Dedup.minhashBandKeys(probe)
    val enumeratedCross = ka.select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(kb.select(col("band"), col("band_hash"), col("id").as("id_b")),
        Seq("band", "band_hash"))
      .count()
    assert(CandVol.crossJoinVolume(ka, kb, Seq("band", "band_hash")) ===
      enumeratedCross)
  }

  test("prefix volume equals the enumerated prefix join") {
    val keys = Dedup.prefixKeys(docs, threshold = 0.5)
    assert(CandVol.selfJoinVolume(keys, Seq("shingle")) ===
      enumerated(keys, Seq("shingle")))
  }

  test("adaptive probe volume equals the enumerated multiprobe join") {
    val (bounded, scheme) = Dedup.adaptiveBuckets(embs)
    val (vol, nVec, _, maxPop) = CandVol.adaptiveProbeVolume(bounded, scheme)
    // enumerate exactly the operator's join: side B exploded over its
    // deduped coarsened probe set (no id filter — the volume counts
    // rows INTO the filters)
    val a = bounded.select(col("blk"))
    val b = bounded
      .select(explode(Dedup.probeBuckets(col("full"), scheme)).as("blk"))
    assert(vol === a.join(b, Seq("blk")).count())
    assert(nVec === embs.count()) // nothing over maxItemsPerBlock here
    assert(maxPop <= 10000L)
  }

  test("semantic-dedup block volume equals the enumerated within-cluster join") {
    val keys = CandVol.semanticBlockKeys(embs)
    assert(CandVol.selfJoinVolume(keys, Seq("cid")) ===
      enumerated(keys, Seq("cid")))
  }

  test("probe-plane cap freezes the probe set to the capped planes' flips") {
    import spark.implicits._
    // a deep scheme the fixture can't reach: p = 9 low planes + a
    // partial top plane (m = 3) -> planesUsed = 10 > the cap of 8
    val scheme = Dedup.AdaptiveScheme(9, 3)
    assert(scheme.planesUsed === 10)
    def coarsen(x: Int): Int = {
      val low = x & ((1 << 9) - 1)
      val top = (x >> 9) & 1
      if (low < 3) low | (top << 9) else low
    }
    val fulls = Seq(0, 1, 2, 5, 513, 700, 1023)
    val got = fulls.toDF("full")
      .select(col("full"), Dedup.probeBuckets(col("full"), scheme, 8).as("capped"),
        Dedup.probeBuckets(col("full"), scheme).as("uncapped"))
      .as[(Int, Seq[Int], Seq[Int])].collect()
    got.foreach { case (full, capped, uncapped) =>
      val wantCapped = (0 +: (0 until 8).map(1 << _)).map(f => coarsen(full ^ f)).distinct
      val wantFull = (0 +: (0 until 10).map(1 << _)).map(f => coarsen(full ^ f)).distinct
      assert(capped == wantCapped, s"full=$full capped probes")
      assert(uncapped == wantFull, s"full=$full uncapped probes")
      assert(capped.toSet.subsetOf(uncapped.toSet))
    }
  }

  test("even stepping holds bucket populations near target at every n") {
    // synthetic gaussian corpora straddling a power-of-two boundary in
    // bucket count: under round-5 power-of-two stepping the mean pop
    // would sawtooth down to target/2 after the jump; even stepping
    // keeps the bucket count at ceil(n/target) so the EXPECTED pop
    // stays in (target-ish) band and the scheme's bucket count steps
    // by ones, not doublings
    val rnd = new scala.util.Random(5)
    import spark.implicits._
    for (n <- Seq(4000, 5000, 6000, 8200)) {
      val embs = (0 until n)
        .map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat), 0))
        .toDF("vec_id", "embedding", "label")
      val (_, scheme) = Dedup.adaptiveBuckets(embs, targetPerBucket = 256L)
      assert(scheme.nBuckets === math.max(16, (n + 255) / 256),
        s"n=$n bucket count must step by one")
      val expectedMean = n.toDouble / scheme.nBuckets
      assert(expectedMean <= 256.0 && expectedMean > 128.0,
        s"n=$n expected mean pop $expectedMean outside (128, 256]")
    }
  }
}
