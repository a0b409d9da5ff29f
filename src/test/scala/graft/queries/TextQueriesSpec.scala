package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic checks for TextQueries members whose properties the DuckDB
  * hash-match can't express directly (here: the posting-intersection
  * plan vs a naive in-memory scan, including overlapping matches). */
class TextQueriesSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("q98 posting intersection equals a naive sliding-window scan") {
    val docs = graft.core.Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect()
    val want = docs.flatMap { case (id, text) =>
      val t = text.split(" ", -1)
      val starts = t.indices.dropRight(TextQueries.Phrase.size - 1).filter { i =>
        TextQueries.Phrase.indices.forall(j => t(i + j) == TextQueries.Phrase(j))
      }
      if (starts.isEmpty) None
      else Some((id, starts.size.toLong, starts.min + 1))
    }.sortBy(_._1).toSeq
    val got = TextQueries.q98PhraseSearch(spark, d)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == want, "posting-intersection hits must equal the direct scan")
    assert(got.nonEmpty, "fixture must contain the phrase")
  }

  test("q100 pipeline stages compose: counts conserve and near-dups collapse") {
    val docs = graft.core.Tables.documents(spark, d)
    val total = docs.count()
    val qualityPass = docs
      .filter(size(split(col("text"), " ")) >= TextQueries.MinTokensE2e).count()
    val got = TextQueries.q100PipelineE2e(spark, d)
      .as[(String, String, Long, Long, String)].collect()
    val kept = got.map(_._3).sum
    assert(kept <= qualityPass && qualityPass < total,
      s"stage monotonicity: $kept <= $qualityPass < $total")
    // the planted near-dup cluster (q34's pairs) must collapse: each
    // cluster among the quality survivors keeps exactly its representative
    val pairRows = TextQueries.q34NgramJaccard(spark, d)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val dupDocs = pairRows.flatMap(p => Seq(p._1, p._2)).toSet
    assert(dupDocs.nonEmpty, "fixture must contain near-dups")
    assert(kept < qualityPass || dupDocs.forall { id =>
      docs.filter(col("doc_id") === id)
        .filter(size(split(col("text"), " ")) >= TextQueries.MinTokensE2e).count() == 0
    }, "near-dup removal must drop at least one quality-passing duplicate")
    got.foreach { case (split, _, n, tok, fp) =>
      assert(Seq("train", "val", "test").contains(split))
      assert(n > 0 && tok >= n * TextQueries.MinTokensE2e, "token floor holds")
      assert(fp.length == 32)
    }
  }

  test("q98 plan shape counts repeated occurrences and 1-based offsets") {
    val df = Seq(
      (1L, "data table scan data table scan"),
      (2L, "data data table scan table"),
      (3L, "no phrase here at all")).toDF("doc_id", "text")
    // route the synthetic frame through the same plan shape
    val posting = df
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "term")))
      .filter(col("term").isin(TextQueries.Phrase: _*))
    val starts = TextQueries.Phrase.zipWithIndex.map { case (t, i) =>
      posting.filter(col("term") === t)
        .select(col("doc_id"), (col("p") - i).as("start"))
    }.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
    val got = starts.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), (min("start") + 1).as("fp"))
      .as[(Long, Long, Int)].collect()
      .map { case (id, n, fp) => id -> ((n, fp)) }.toMap
    assert(got == Map(1L -> ((2L, 1)), 2L -> ((1L, 2))))
  }

  test("q120 incremental dedup equals the brute-force exact classification") {
    // truth: ALL exact J >= 0.5 pairs (uncapped ngramJaccard), classified
    // per batch doc with the operator's priority (history > lower-id batch)
    val pairs = graft.operators.Dedup
      .ngramJaccard(graft.core.Tables.documents(spark, d), n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val batchIds = graft.core.Tables.documents(spark, d)
      .filter(pmod(col("doc_id"), lit(TextQueries.IngestMod)) === 0)
      .select("doc_id").as[Long].collect().sorted
    def partners(b: Long): Seq[Long] =
      pairs.collect { case (x, y) if x == b => y; case (x, y) if y == b => x }.toSeq
    val want = batchIds.map { b =>
      val hist = partners(b).filter(_ % TextQueries.IngestMod != 0)
      val lower = partners(b).filter(p => p % TextQueries.IngestMod == 0 && p < b)
      if (hist.nonEmpty) (b, "dup_history", hist.min)
      else if (lower.nonEmpty) (b, "dup_batch", lower.min)
      else (b, "kept", -1L)
    }.toSeq
    val got = TextQueries.q120IncrementalDedup(spark, d)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == want, "incremental verdicts must equal exact-pair truth")
    assert(got.size == batchIds.length, "exactly one verdict per batch doc")
    assert(got.exists(_._2 == "kept"), "fixture must keep some batch docs")
  }

  test("q121 quality filter equals the in-memory linear model") {
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val stop = graft.functions.TextFunctions.langProfiles("en").toSet
    val docs = graft.core.Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect()
    val want = docs.map { case (id, text) =>
      val t = text.split(" ", -1)
      val sr = r4(t.count(stop.contains).toDouble / t.length)
      val df = r4(1.0 - t.distinct.length.toDouble / t.length)
      val score = r4(0.01 * t.length + 10.0 * sr - 2.0 * df)
      (id, t.length, sr, df, score, score >= 0)
    }.sortBy(_._1).toSeq
    val got = TextQueries.q121QualityFilter(spark, d)
      .as[(Long, Int, Double, Double, Double, Boolean)].collect().toSeq
    assert(got == want, "scores must equal the in-memory model")
    assert(got.exists(_._6) && got.exists(!_._6),
      "both verdicts must occur on the fixture")
  }
}
