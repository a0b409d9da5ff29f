package graft.perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.TextFunctions
import graft.streaming.IncrementalDedup

/** Streaming incremental dedup: `IncrementalDedup.processBatch` driven by
  * `foreachBatch` over a seeded `rate-micro-batch` document stream, with
  * in-band index compaction every [[StreamDedup.CompactEvery]] batches. The
  * pass is a fresh stream of [[StreamDedup.Batches]] batches of `rpb`
  * documents; its operations are the batches. */
class StreamDedup(work: String, seed: Long, rpb: Long) extends Workload {
  import StreamDedup._
  require(rpb > 0 && rpb % 10 == 0, "documents per batch must be a positive multiple of 10")

  private case class Batch(id: Long, ingest: Double, probe: Double, compact: Option[Double],
      indexFiles: Int)
  private var batches = Seq.empty[Batch]
  private var indexMb = 0.0
  private var verdicts = Map.empty[String, Long]
  private var inputBytes = 0L

  def open(spark: SparkSession): Unit = allDocs(spark).queryExecution.executedPlan

  /** Same shape as the repo's stream benchmark documents, drawn from the
    * seed: every id ≡ 9 (mod 10) near-copies id−9 of its own batch, and
    * from the third batch on every id ≡ 5 (mod 10) near-copies a doc two
    * batches back. The near-copy appends one marker token (J ≈ 0.93). */
  def withText(ids: DataFrame): DataFrame =
    ids
      .withColumn("base",
        when(pmod(col("doc_id"), lit(10)) === 5 && col("doc_id") >= 2L * rpb,
          col("doc_id") - 2L * rpb - 1)
          .when(pmod(col("doc_id"), lit(10)) === 9, col("doc_id") - 9)
          .otherwise(col("doc_id")))
      .withColumn("text", concat(
        array_join(transform(
          sequence(lit(0L), pmod(xxhash64(col("base"), lit(seed)), lit(21)) + 29),
          j => concat(lit("w"), pmod(xxhash64(col("base"), j, lit(seed)), lit(5000)))), " "),
        when(col("base") =!= col("doc_id"),
          concat(lit(" x"), col("doc_id"))).otherwise(lit(""))))
      .select("doc_id", "text")

  /** The whole stream of one pass as a batch frame. */
  def allDocs(spark: SparkSession): DataFrame =
    withText(spark.range(Batches * rpb).select(col("id").as("doc_id")))

  private def parquetFiles(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  def pass(ctx: PassCtx): Unit = {
    val spark = ctx.spark
    val dir = s"$work/stream"
    val (indexDir, outDir) = (s"$dir/index", s"$dir/out")
    val recs = mutable.ArrayBuffer.empty[Batch]
    val done = new CountDownLatch(Batches)
    val source = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rpb).load().select(col("value").as("doc_id"))
    val q = withText(source).writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (id < Batches) {
          val s = b.sparkSession
          ctx.op("streaming.batch", ctx.root.id) {
            val files = parquetFiles(s, s"$indexDir/bands")
            val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
            val t0 = System.nanoTime()
            val v = ctx.span("streaming.ingest") {
              IncrementalDedup.processBatch(s, b, id, indexDir, threshold = 0.5)
            }
            val t1 = System.nanoTime()
            ctx.span("streaming.probe")(v.write.mode("overwrite").parquet(s"$outDir/batch_id=$id"))
            val t2 = System.nanoTime()
            val compact =
              if (id > 0 && id % CompactEvery == 0) {
                ctx.span("streaming.compact")(IncrementalDedup.compactIndex(s, indexDir, id))
                Some((System.nanoTime() - t2) / 1e9)
              } else None
            s.sparkContext.getPersistentRDDs.foreach { case (rid, rdd) =>
              if (!persistedBefore.contains(rid)) rdd.unpersist(blocking = false)
            }
            recs.synchronized {
              recs += Batch(id, (t1 - t0) / 1e9, (t2 - t1) / 1e9, compact, files)
            }
          }
          done.countDown()
        }
        ()
      }
      .start()
    try {
      while (!done.await(100, TimeUnit.MILLISECONDS) && q.isActive) ()
      q.exception.foreach(e => throw e)
      require(done.getCount == 0, s"only ${recs.size}/$Batches batches finished")
    } finally { q.stop(); q.awaitTermination() }
    batches = recs.synchronized(recs.toSeq)
  }

  override def afterPass(ctx: PassCtx, probe: Probe): Unit = {
    val spark = ctx.spark
    val dir = s"$work/stream"
    indexMb = Workloads.fileBytes(s"$dir/index") / 1e6
    val got = spark.read.parquet(s"$dir/out").groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    verdicts = got
    // MinHash banding can miss a planted pair (P ~ 1e-3 per pair at
    // J ~ 0.95), never invent one: each duplicate count is at most the
    // planted one and at least MinFound of it
    val perTenth = rpb / 10
    val planted = Map("dup_batch" -> Batches * perTenth, "dup_history" -> (Batches - 2) * perTenth)
    val ok = got.values.sum == Batches * rpb && planted.forall { case (k, n) =>
      val g = got.getOrElse(k, 0L)
      g <= n && g >= MinFound * n
    }
    ctx.assertThat("stream verdicts match the planted duplicates", ok,
      s"got $got, planted $planted of ${Batches * rpb}")
    inputBytes = allDocs(spark).agg(sum(octet_length(col("text")))).head().getLong(0)
    Main.deleteTree(dir)
    ctx.extra("write_amp") =
      probe.total(ctx.trace.subtree(ctx.root.id)).output.toDouble / inputBytes
  }

  def layers(spark: SparkSession, probe: Probe, trace: Trace, pass: PassCtx): Map[String, Double] = {
    // ops are in batch order; four batches leave no tail to take a
    // percentile of, so the first (cold) batch is reported on its own
    val latencies = pass.ops.map(_._2).toSeq
    Map(
      "streaming.batch_p50_s" -> Main.median(latencies),
      "streaming.first_batch_s" -> latencies.headOption.getOrElse(0.0),
      "streaming.ingest_s" -> Main.median(batches.map(_.ingest)),
      "streaming.probe_s" -> Main.median(batches.map(_.probe)),
      "streaming.compact_s" -> Main.median(batches.flatMap(_.compact)),
      "streaming.index_files" -> Main.median(batches.map(_.indexFiles.toDouble)),
      "streaming.index_mb" -> indexMb,
      "streaming.verdicts_kept" -> verdicts.getOrElse("kept", 0L).toDouble,
      "streaming.verdicts_dup_history" -> verdicts.getOrElse("dup_history", 0L).toDouble,
      "streaming.verdicts_dup_batch" -> verdicts.getOrElse("dup_batch", 0L).toDouble,
      "streaming.write_amp" -> pass.extra.getOrElse("write_amp", 0.0),
      "functions.shingles.rows_per_s" -> Workloads.rate(trace, "functions.shingles",
        allDocs(spark), TextFunctions.shingles(col("text"), 3))) ++
      Workloads.scanFloor(trace, Seq(() => allDocs(spark)), inputBytes)
  }
}

object StreamDedup {
  val Batches = 4
  val CompactEvery = 2
  val MinFound = 0.9
}
