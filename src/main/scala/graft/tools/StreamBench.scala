package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Pin
import graft.streaming.EventStreams

/** Streaming throughput/state evidence (VERDICT r4 #7): the functional
  * streaming story is spec-complete but carried no rate number. This
  * measures rows/s and state-store rows/bytes for the two stateful
  * ingest-path operators — sessionize (flatMapGroupsWithState) and
  * watermarked dedup — on a gen-scale synthetic stream over the RocksDB
  * state store, and asserts the property that makes them 100 TB-safe:
  * STATE PLATEAUS while rows keep flowing, because the watermark evicts
  * what the operator no longer needs.
  *
  * Stream shape: the deterministic `rate-micro-batch` source (public
  * Spark source made for exactly this: fixed rowsPerBatch, no
  * wall-clock coupling). Event time is SIMULATED from the row counter —
  * `value` is globally consecutive across batches, so
  * ts = epoch0 + value·msPerRow sweeps event time forward at a constant
  * simulated rate and the watermark cycles many times per run,
  * regardless of how fast the host executes batches (the same
  * decoupling trick GenScale uses for data scale). Users are BURSTY
  * (user_id = (value / burst) % nUsers): a user is active for `burst`
  * consecutive rows, then idle long past the session gap, so sessions
  * genuinely close and session state turns over; dedup sees every id
  * twice (value >> 1) so the dropDuplicates path does real work.
  *
  * Run: sbt "runMain graft.tools.StreamBench [rowsPerBatch] [nBatches]"
  * — prints one JSON line (saved as STREAM_r{N}.json by the round). */
object StreamBench {

  import Timing.{fmt, p50}

  case class Metrics(rows: Long, seconds: Double, rowsPerSec: Double,
      peakStateRows: Long, finalStateRows: Long, stateBytes: Long,
      batches: Int, rocksDb: Boolean, outputRows: Long)

  /** Drive `query` (built from the synthetic event frame) until
    * `nBatches` micro-batches have state metrics, then stop and report.
    * Shared by the bench main and the bounded-state spec. */
  def measure(spark: SparkSession, q: StreamingQuery, nBatches: Int,
      timeoutMs: Long = 300000L): Metrics = {
    // recentProgress is a ring buffer (spark.sql.streaming
    // .numRecentProgressUpdates, default 100): asking for more batches
    // than it retains would spin to the timeout and then silently
    // measure a smaller window — fail loudly instead
    val retained = spark.conf
      .getOption("spark.sql.streaming.numRecentProgressUpdates")
      .map(_.toInt).getOrElse(100)
    require(nBatches <= retained,
      s"nBatches $nBatches exceeds the progress retention $retained; " +
        "raise spark.sql.streaming.numRecentProgressUpdates before the run")
    val deadline = System.currentTimeMillis() + timeoutMs
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      val n = q.recentProgress.count(_.stateOperators.nonEmpty)
      if (n >= nBatches) done = true else Thread.sleep(200)
    }
    q.stop()
    q.awaitTermination()
    val ps = q.recentProgress.filter(_.stateOperators.nonEmpty).take(nBatches)
    require(ps.nonEmpty, s"no stateful progress within ${timeoutMs} ms")
    val rows = ps.map(_.numInputRows).sum
    val secs = ps.map(_.batchDuration).sum / 1000.0
    val stateRows = ps.map(_.stateOperators.map(_.numRowsTotal).sum)
    val last = ps.last.stateOperators
    val rocks = last.exists(_.customMetrics.keySet().toString.contains("rocksdb"))
    val bytes = last.map(_.memoryUsedBytes).sum
    Metrics(rows, secs, if (secs > 0) rows / secs else 0.0,
      stateRows.max, stateRows.last, bytes, ps.length, rocks,
      ps.map(_.sink.numOutputRows).filter(_ >= 0).sum)
  }

  /** Synthetic document stream for the incremental-dedup bench:
    * deterministic token text from the row counter, with planted
    * near-dups — every id ≡ 9 (mod 10) near-duplicates id−9 (same
    * micro-batch when docsPerBatch is a multiple of 10) and every id ≡ 5
    * (mod 10) past the second batch near-duplicates the doc two batches
    * earlier (a HISTORY dup: exercises the persisted-index leg). The
    * near-copy appends one marker token, so J ≈ 0.93 — above the 0.5
    * verify threshold but not exact. */
  def syntheticDocs(spark: SparkSession, docsPerBatch: Long) = {
    val rpb = docsPerBatch
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", docsPerBatch)
      .load()
      .select(col("value").as("doc_id"))
      .withColumn("base",
        // −1 lands on an id ≡ 4 (mod 10), which is never itself
        // rewritten — copying id−2·rpb (≡ 5) would chase a chain of
        // rewrites and only match for the first two eligible batches
        when(pmod(col("doc_id"), lit(10)) === 5 && col("doc_id") >= 2L * rpb,
          col("doc_id") - 2L * rpb - 1)
          .when(pmod(col("doc_id"), lit(10)) === 9, col("doc_id") - 9)
          .otherwise(col("doc_id")))
      .withColumn("text", concat(
        array_join(transform(
          sequence(lit(0L), pmod(xxhash64(col("base")), lit(21)) + 29),
          j => concat(lit("w"), pmod(xxhash64(col("base"), j), lit(5000)))), " "),
        when(col("base") =!= col("doc_id"),
          concat(lit(" x"), col("doc_id"))).otherwise(lit(""))))
      .select("doc_id", "text")
  }

  /** Parquet data-file count under `dir` — the probe's read surface
    * (each file is an open+footer parse per history scan). */
  private def countParquetFiles(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  private case class BatchRec(id: Long, ingestSec: Double, dedupSec: Double,
      compactSec: Double, preBandFiles: Int)

  /** Measure the streaming incremental dedup (VERDICT r6 #7, long-run
    * evidence VERDICT r7 #2): `nBatches` micro-batches through the
    * foreachBatch + persisted-band-index path, with the per-batch wall
    * DECOMPOSED inside foreachBatch —
    *   - `ingest_sec`: signature computation + the batch's own index
    *     partition writes (batch-local; must be flat by construction);
    *   - `dedup_sec`: the history band probe + candidate verification +
    *     verdict write (the term that could grow with the corpus: its
    *     only corpus-dependent cost is the columnar index scan);
    *   - `compact_sec`: the out-of-band compaction's share of the batch
    *     path when `compactEvery` > 0 — the deferred source deletes at
    *     batch start plus the fold submission (0 on non-compacting
    *     batches);
    * plus `pre_band_files`, the band-index parquet file count each batch
    * probes — the many-small-files growth compaction exists to stop.
    *
    * Batch completions are counted by the instrumented foreachBatch
    * itself (ADVICE r7: `recentProgress` is a bounded ring buffer —
    * default 100 — so polling it undercounts past the retention limit
    * and silently measures "last N" instead of "first N"). The body
    * mirrors [[graft.streaming.IncrementalDedup.stream]]'s wiring exactly
    * (same writes, same compaction trigger, same release of the
    * verdicts' pins), adding only timestamps, so a flat `batch_sec +
    * compact_sec` with no multi-second spikes at the trigger batches
    * shows the fold stays off the batch path. The in-band fold it
    * replaced measured 400 s against 367 s out of band over 120 batches
    * (STREAM_r09). */
  def incrementalDedupRun(spark: SparkSession, docsPerBatch: Long,
      nBatches: Int, compactEvery: Int, label: String,
      timeoutMs: Long = 3600000L): String = {
    val tmp = java.nio.file.Files.createTempDirectory(s"sb_$label").toString
    val (indexDir, outDir) = (s"$tmp/index", s"$tmp/out")
    val recs = scala.collection.mutable.ArrayBuffer.empty[BatchRec]
    val done = new java.util.concurrent.CountDownLatch(nBatches)
    val q = syntheticDocs(spark, docsPerBatch).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val enough = recs.synchronized { recs.length >= nBatches }
        if (!enough) {
          val td0 = System.nanoTime()
          if (compactEvery > 0)
            graft.streaming.IncrementalDedup.deleteCompactedSources(
              b.sparkSession, indexDir)
          val deleteSec = (System.nanoTime() - td0) / 1e9
          val pre = countParquetFiles(b.sparkSession, s"$indexDir/bands")
          val t0 = System.nanoTime()
          val v = graft.streaming.IncrementalDedup.processBatch(
            b.sparkSession, b, id, indexDir, threshold = 0.5)
          val t1 = System.nanoTime()
          try v.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
          finally Pin.free(v)
          val t2 = System.nanoTime()
          if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
            graft.streaming.IncrementalDedup.compactIndexAsync(
              b.sparkSession, indexDir, id)
          val t3 = System.nanoTime()
          recs.synchronized {
            recs += BatchRec(id, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
              (t3 - t2) / 1e9 + deleteSec, pre)
          }
          done.countDown()
        }
        ()
      }
      .start()
    val finished = done.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    q.stop(); q.awaitTermination()
    require(finished, s"only ${recs.length}/$nBatches batches within $timeoutMs ms")
    // drain any in-flight out-of-band fold so the closing file/row counts
    // report the post-compaction index
    if (compactEvery > 0)
      graft.streaming.IncrementalDedup.awaitCompaction(spark, indexDir)
    val rs = recs.synchronized { recs.sortBy(_.id).take(nBatches).toSeq }
    val batchSec = rs.map(r => r.ingestSec + r.dedupSec)
    val rows = docsPerBatch * rs.length
    val secs = batchSec.sum + rs.map(_.compactSec).sum
    // growth statistic: p50 per-batch wall of the 2nd vs 1st half
    // (warm-up batches 0-1 excluded) — ~1.0 means flat per-batch cost
    val steady = batchSec.drop(2)
    val (h1, h2) = steady.splitAt(steady.length / 2)
    val indexRows = spark.read.parquet(s"$indexDir/bands").count()
    val verdicts = spark.read.parquet(outDir)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    System.err.println(s"[streambench] $label: $rows docs in ${fmt(secs)} s " +
      s"= ${fmt(rows / secs)} docs/s over ${rs.length} batches; " +
      s"p50 half1 ${fmt(p50(h1))} half2 ${fmt(p50(h2))}; verdicts=$verdicts; " +
      s"band files ${rs.last.preBandFiles} -> ${countParquetFiles(spark, s"$indexDir/bands")}")
    s""""$label":{"rows":$rows,"sec":${fmt(secs)},""" +
      s""""docs_per_sec":${fmt(rows / secs)},"batches":${rs.length},""" +
      s""""docs_per_batch":$docsPerBatch,"compact_every":$compactEvery,""" +
      s""""batch_sec":${batchSec.map(fmt).mkString("[", ",", "]")},""" +
      s""""ingest_sec":${rs.map(r => fmt(r.ingestSec)).mkString("[", ",", "]")},""" +
      s""""dedup_sec":${rs.map(r => fmt(r.dedupSec)).mkString("[", ",", "]")},""" +
      s""""compact_sec":${rs.map(r => fmt(r.compactSec)).mkString("[", ",", "]")},""" +
      s""""pre_band_files":${rs.map(_.preBandFiles).mkString("[", ",", "]")},""" +
      s""""p50_batch_sec_half1":${fmt(p50(h1))},"p50_batch_sec_half2":${fmt(p50(h2))},""" +
      s""""index_band_rows":$indexRows,""" +
      s""""kept":${verdicts.getOrElse("kept", 0L)},""" +
      s""""dup_history":${verdicts.getOrElse("dup_history", 0L)},""" +
      s""""dup_batch":${verdicts.getOrElse("dup_batch", 0L)}}"""
  }

  /** The synthetic event stream (see object doc for the shape). */
  def syntheticEvents(spark: SparkSession, rowsPerBatch: Long,
      nUsers: Int = 1000, burst: Int = 1000, msPerRow: Long = 100L) = {
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .load()
      .select(
        col("value").as("event_id"),
        timestamp_millis(lit(1700000000000L) + col("value") * msPerRow).as("ts"),
        ((col("value") / burst) % nUsers).cast("long").as("user_id"),
        when(col("value") % 3 === 0, "view")
          .when(col("value") % 3 === 1, "click").otherwise("purchase").as("event_type"),
        (col("value") % 97).cast("double").as("value"))
  }

  def main(args: Array[String]): Unit = {
    // long-run mode (VERDICT r7 #2): the incremental-dedup path alone,
    // 100+ batches, with and without (out-of-band) compaction, per-batch
    // decomposition
    if (args.headOption.contains("longrun")) {
      val docsPerBatch = args.lift(1).map(_.toLong).getOrElse(2000L)
      val nBatches = args.lift(2).map(_.toInt).getOrElse(120)
      val compactEvery = args.lift(3).map(_.toInt).getOrElse(20)
      val spark = Timing.session("graft-streambench")
      val noCompact = incrementalDedupRun(spark, docsPerBatch, nBatches,
        compactEvery = 0, label = "longrun_nocompact")
      val withCompact = incrementalDedupRun(spark, docsPerBatch, nBatches,
        compactEvery = compactEvery, label = "longrun_compact_async")
      val json =
        s"""{"metric":"stream_longrun",$noCompact,$withCompact}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("streambench_longrun_out.json"), json + "\n")
      spark.stop()
      println(json)
      return
    }
    val rowsPerBatch = args.headOption.map(_.toLong).getOrElse(200000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(25)
    val spark = Timing.session("graft-streambench")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (nBatches + 10).toString)
    EventStreams.rocksDbStateStoreConf.foreach { case (k, v) => spark.conf.set(k, v) }
    import spark.implicits._

    def runOne(name: String)(build: SparkSession => StreamingQuery): String = {
      val m = measure(spark, build(spark), nBatches)
      System.err.println(s"[streambench] $name: ${m.rows} rows in ${fmt(m.seconds)} s " +
        s"= ${fmt(m.rowsPerSec)} rows/s, state peak ${m.peakStateRows} final " +
        s"${m.finalStateRows} (${m.stateBytes} B), rocksdb=${m.rocksDb}")
      s""""$name":{"rows":${m.rows},"sec":${fmt(m.seconds)},""" +
        s""""rows_per_sec":${fmt(m.rowsPerSec)},"peak_state_rows":${m.peakStateRows},""" +
        s""""final_state_rows":${m.finalStateRows},"state_bytes":${m.stateBytes},""" +
        s""""batches":${m.batches},"rocksdb":${m.rocksDb},"output_rows":${m.outputRows}}"""
    }

    val sessionJson = runOne("sessionize") { s =>
      EventStreams.sessionize(
        syntheticEvents(s, rowsPerBatch).as[EventStreams.Event],
        watermarkDelay = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sb_sess").toString)
        .start()
    }
    val dedupJson = runOne("dedup") { s =>
      // every id arrives twice (value >> 1): half the input is duplicate
      EventStreams.dedupEvents(
        syntheticEvents(s, rowsPerBatch)
          .withColumn("event_id", (col("event_id") / 2).cast("long")),
        watermark = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sb_dedup").toString)
        .start()
    }
    val incJson = incrementalDedupRun(spark, docsPerBatch = 5000L,
      nBatches = 12, compactEvery = 0, label = "incremental_dedup")

    val json = s"""{"metric":"stream_bench","rows_per_batch":$rowsPerBatch,""" +
      s""""n_batches":$nBatches,$sessionJson,$dedupJson,$incJson}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("streambench_out.json"), json + "\n")
    spark.stop()
    println(json)
  }
}
