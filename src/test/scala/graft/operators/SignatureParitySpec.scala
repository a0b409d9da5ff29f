package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.functions.{SimHash, TextFunctions => T}

/** The explode + group-by signature forms that the per-row MinHash and
  * SimHash expressions replaced, kept only as the parity reference. */
object GroupBySignatures {

  /** k `min(xxhash64(i, xxhash64(shingle)))` aggregates per id. */
  def minhash(docs: DataFrame, k: Int, n: Int): DataFrame = {
    val sh = docs.select(col("doc_id").as("id"),
      explode(T.shingles(col("text"), n)).as("shingle"))
      .withColumn("h", xxhash64(col("shingle")))
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    sh.groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** 64 signed bit counters over the distinct shingles' feature hashes,
    * as a typed Aggregator. */
  private object Agg extends Aggregator[Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](SimHash.Bits)
    def reduce(b: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < SimHash.Bits) {
        if (((h >>> i) & 1L) == 1L) b(i) += 1 else b(i) -= 1
        i += 1
      }
      b
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < SimHash.Bits) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Int]): Long = {
      var r = 0L
      var i = 0
      while (i < SimHash.Bits) { if (b(i) > 0) r |= (1L << i); i += 1 }
      r
    }
    def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  def simhash(docs: DataFrame, n: Int, md5: Boolean): DataFrame =
    docs.select(col("doc_id").as("id"),
        explode(array_distinct(T.shingles(col("text"), n))).as("tok"))
      .select(col("id"),
        (if (md5) T.hash60(col("tok")) else xxhash64(col("tok"))).as("h"))
      .groupBy("id")
      .agg(udaf(Agg).apply(col("h")).as("simhash"))
}

/** The per-row signatures equal the group-by forms row for row, in both
  * the generated-code and the interpreted (`eval`) paths. */
class SignatureParitySpec extends SparkSpec {
  import spark.implicits._

  /** Empty, null, fewer than n tokens, repeated shingles, leading /
    * trailing / double spaces, multi-byte UTF-8 — written to parquet so
    * the plans read a file scan (a local relation's projections are
    * folded on the driver, which would test `eval` only). */
  private lazy val adversarial: DataFrame = {
    val texts = Seq("", null, "solo", "two words", "a b c", " lead", "trail ",
      "double  space here", "  ", "x y x y x y x y", "a a a a a a a",
      "héllo wörld düo héllo wörld düo", "日本 語 テスト 日本 語 テスト x",
      "same same same same", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w1 w2 w3")
    val dir = Files.createTempDirectory("sigparity").resolve("docs").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def corpora: Seq[(String, DataFrame)] = Seq(
    "adversarial" -> adversarial,
    "sf0.01" -> Tables.documents(spark, "/root/testdata/sf0.01").select("doc_id", "text"),
    "sf0.1" -> Tables.documents(spark, "/root/testdata/sf0.1").select("doc_id", "text"))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** CODEGEN_ONLY runs the signatures in whole-stage generated code;
    * NO_CODEGEN with whole-stage codegen off runs every expression
    * through `eval`. */
  private val modes = Seq(
    ("codegen", true, Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")),
    ("eval", false, Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")))

  private def assertMode(df: DataFrame, wholeStage: Boolean, what: String): Unit = {
    val plan = df.queryExecution.executedPlan
    val hasWscg = plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
    assert(hasWscg == wholeStage, s"$what: whole-stage codegen = $hasWscg\n$plan")
  }

  test("per-row MinHash and SimHash equal the group-by forms, generated and interpreted") {
    for ((name, docs) <- corpora; n <- Seq(1, 3, 5)) {
      // the per-row frame is built inside each mode: a Dataset plans once
      val refs: Seq[(String, Seq[Row], () => DataFrame)] =
        Seq(1, 16).map(k => (s"minhash k=$k", rows(GroupBySignatures.minhash(docs, k, n)),
          () => Dedup.minhashSignatures(docs, k = k, n = n))) ++
        Seq(false, true).map(md5 => (s"simhash md5=$md5",
          rows(GroupBySignatures.simhash(docs, n, md5)),
          () => if (md5) Dedup.simhashDocsPortable(docs, n = n)
                else Dedup.simhashDocs(docs, n = n)))
      for ((label, ref, perRow) <- refs) {
        assert(ref.nonEmpty, s"$name n=$n $label: empty reference")
        for ((mode, wholeStage, conf) <- modes) withConf(conf: _*) {
          val what = s"$name n=$n $label $mode"
          val df = perRow()
          assertMode(df, wholeStage, what)
          assert(rows(df) == ref, what)
        }
      }
    }
  }
}
