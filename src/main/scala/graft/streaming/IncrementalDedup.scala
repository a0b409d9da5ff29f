package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Pin
import graft.operators.Dedup

/** Streaming incremental-ingest dedup — [[Dedup.incrementalNearDup]]'s
  * production wiring (VERDICT r6 #7): an unbounded stream of documents is
  * deduped micro-batch by micro-batch against everything ingested before
  * it, via `foreachBatch` over a PERSISTED history band index (the
  * "materialized index" the batch operator's scaladoc names).
  *
  * Index layout under `indexDir` (both partitioned by ingest batch):
  *   - `bands/batch_id=N/`  (band INT, band_hash LONG, id LONG) — the
  *     MinHash band keys of batch N, schema = [[Dedup.minhashBandKeys]];
  *   - `docs/batch_id=N/`   (doc_id LONG, text STRING) — the corpus
  *     registry, read back only for exact verification of candidates.
  *   - `batch_id=-W/` (either side) — a COMPACTED GENERATION holding the
  *     consolidated rows of every batch before W (see [[compactIndex]]).
  *     Negative ids can never collide with stream batch ids, and every
  *     `batch_id < N` history read naturally includes them.
  *
  * Exactly-once contract (the [[EventStreams.exactlyOnceParquetSink]]
  * pattern): Structured Streaming replays a crashed micro-batch with the
  * SAME batch id, so every write is an overwrite of one `batch_id=N`
  * directory, and every history read filters `batch_id < N` — a replay
  * that finds its own half-written partitions simply ignores and
  * overwrites them. Verdicts are therefore deterministic per (stream,
  * batch id) no matter how many times a batch is attempted. Compaction
  * preserves the contract: generation −W is only ever consulted by reads
  * with N >= W (it is created while batch W is in flight, and committed
  * batches below W are never re-run), and for those reads it contributes
  * exactly the batches 0..W−1 that `batch_id < N` demands.
  *
  * Scale shape at 100 TB/day: per micro-batch the work is |batch|
  * signature computations — ONE pass, whose band keys are written to
  * `bands/batch_id=N` and read back from there as the batch's probe
  * keys — + one probe join of those keys (|batch|·bands rows, broadcast)
  * against the index scan + the batch's internal candidate join + exact
  * verification bounded by the candidate set
  * ([[Dedup.incrementalNearDupIndexed]]'s left-semi doc fetch against
  * pinned candidate ids, which number at most |batch| × bands × history
  * bucket population and broadcast while they fit the session's
  * threshold — a hot bucket makes them large, and then the fetch plans a
  * sort-merge join; see that operator's envelope). The EXECUTOR state is
  * zero — no stateful operator, no watermark, no state store: the only
  * state is the on-disk index. Nothing ever re-signatures history, and
  * while the candidate ids broadcast nothing history-sized is shuffled:
  * a batch's shuffles are bounded by the batch and its candidates,
  * however large the history (IncrementalDedupStreamSpec pins it). The
  * per-batch terms that do grow with the corpus are the two history
  * SCANS — the band index, and the registry's (id, text) read under the
  * semi-join — which [[compactIndex]] keeps dense few-file reads instead
  * of one small parquet directory per micro-batch ever ingested.
  * All filesystem probing goes through the Hadoop FileSystem API
  * (ADVICE r7: the earlier java.nio probe resolved only local paths, so
  * an HDFS/S3 index silently deduped every batch against an EMPTY
  * history).
  */
object IncrementalDedup {

  // the documents schema (FIXTURES.md): the batch's id and text columns
  private val DocId = "doc_id"
  private val Text = "text"

  /** Hadoop filesystem + path of `dir` under the session's configuration
    * — resolves local paths and HDFS/S3A/ABFS URIs alike. */
  private def fsPath(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** batch_id partition values present under one index side: stream
    * batches (>= 0) and compacted generations (< 0). */
  private def partitionIds(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, p) = fsPath(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
  }

  /** History predicate for a read as of batch `batchId`: stream batches
    * strictly before it, plus any compacted generation −W whose coverage
    * [0, W) lies within that range (W <= batchId — always true for the
    * live stream, where generations are created while batch W is in
    * flight; kept explicit so a read can never over-include). */
  private def historyPred(batchId: Long): org.apache.spark.sql.Column =
    (col("batch_id") >= 0 && col("batch_id") < batchId) ||
      (col("batch_id") < 0 && -col("batch_id") <= batchId)

  private def isHistoryId(id: Long, batchId: Long): Boolean =
    (id >= 0 && id < batchId) || (id < 0 && -id <= batchId)

  /** Read one index side (bands/docs) as of BEFORE `batchId`, or None if
    * no prior batch has committed a partition yet (first batch / fresh
    * index — a genuinely reachable case: the check looks for partitions
    * BELOW `batchId`, so the batch's own just-written partition doesn't
    * mask an empty history). The basePath option keeps `batch_id` as a
    * partition column so the history filter is partition-PRUNED, not
    * scanned. */
  private def readIndexSide(spark: SparkSession, dir: String,
      batchId: Long): Option[DataFrame] = {
    val hasHistory = partitionIds(spark, dir).exists(isHistoryId(_, batchId))
    if (!hasHistory) None
    else Some(spark.read.option("basePath", dir).parquet(dir)
      .filter(historyPred(batchId))
      .drop("batch_id"))
  }

  /** Process one ingest batch against the on-disk index: write the
    * batch's registry+band partitions, compute verdicts vs history
    * (`batch_id < batchId`), and return them. Idempotent on `batchId`
    * (every write overwrites its own partition; every read excludes
    * partitions at or after `batchId`).
    *
    * The batch frame is written FIRST and re-read from its own parquet
    * partition: foreachBatch hands a view that re-executes per action,
    * and this operator references the batch in four places (band keys,
    * both verify legs, the final left joins) — one write pins one
    * consistent, re-scannable copy, which is also what makes a crash
    * replay byte-deterministic. The batch's band keys are computed once,
    * from that copy, written to `bands/batch_id=N`, and the operator
    * probes with that partition read back — already a stable copy, so it
    * needs no checkpoint, and the batch is never signatured twice. The
    * first batch (no partition below `batchId`) takes the same single
    * call with empty history frames.
    *
    * Executor loss: the verdicts come from the operator's pinned `pairs`
    * checkpoint (see [[Dedup.incrementalNearDupIndexed]]); losing
    * its blocks before the verdicts are written fails the write loudly,
    * and a replay of the batch id recomputes identical verdicts.
    *
    * `keptOnlyHistory` picks the index-growth semantics (VERDICT r7 #5):
    *  - `false` (default): the index registers EVERY processed doc, so a
    *    later ingest is compared against everything ever seen —
    *    transitive-chain collapse (A≈B≈C with B dropped still drops C via
    *    B), matching the batch pipeline's connected-components keep-set.
    *    Index size grows with total ingest.
    *  - `true` (dedup-as-you-go): after verdicts are computed, the
    *    batch's index partitions are rewritten to KEPT docs only, so
    *    history is the retained corpus — greedy representative matching
    *    (C is kept unless it matches a doc that was itself kept; chains
    *    do NOT collapse through dropped intermediates). Index size is
    *    bounded by the kept corpus — the 100 TB index-size lever — at
    *    the cost of less aggressive chain dedup. Replay-deterministic:
    *    a replay rewrites the full partitions, recomputes the same
    *    verdicts (history below `batchId` is unchanged), and re-filters.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexDir: String, threshold: Double = 0.5, k: Int = 16,
      bands: Int = 4, n: Int = 3,
      keptOnlyHistory: Boolean = false): DataFrame = {
    val bandsDir = s"$indexDir/bands"
    val docsDir = s"$indexDir/docs"
    batch.select(col(DocId), col(Text))
      .write.mode("overwrite").parquet(s"$docsDir/batch_id=$batchId")
    val pinned = spark.read.parquet(s"$docsDir/batch_id=$batchId")
    Dedup.minhashBandKeys(pinned, k, bands, n)
      .select(col("band"), col("band_hash"), col("id"))
      .write.mode("overwrite").parquet(s"$bandsDir/batch_id=$batchId")
    val batchBands = spark.read.parquet(s"$bandsDir/batch_id=$batchId")
    // no partition below batchId (first batch / fresh index): empty
    // history, so every verdict is within-batch
    val verdicts = Dedup.incrementalNearDupIndexed(
      readIndexSide(spark, bandsDir, batchId).getOrElse(batchBands.limit(0)),
      readIndexSide(spark, docsDir, batchId).getOrElse(pinned.limit(0)),
      pinned, batchBands, threshold, n)
    if (!keptOnlyHistory) verdicts
    else {
      // Materialize the verdicts BEFORE rewriting the partitions their
      // plan reads (overwriting a directory a lazy plan still scans is a
      // torn-read hazard), then shrink the batch's index partitions to
      // the kept docs. Rewriting `bands/batch_id=N` — the verdict plan's
      // own probe keys — is safe after this point: the checkpoint is
      // eager, so every scan of the partition the verdicts need has run
      // before the rewrite starts, and its lineage is cut, so nothing
      // ever re-scans the partition for `out` (a lost block fails
      // loudly instead of recomputing from the kept-only rewrite). A
      // crash between the two rewrites is benign: a dropped doc whose
      // band keys linger but whose registry row is gone can surface as
      // a candidate but never as a verified pair (no shingles to
      // match), which is exactly kept-only semantics.
      val out = Pin(verdicts)
      // `out` cuts the lineage, so freeing it later would not reach the
      // operator's `pairs` pin that `verdicts` reads: free that one now
      Pin.free(verdicts)
      val keptIds = out.filter(col("status") === "kept").select(col(DocId))
      val keptDocs = Pin(pinned.join(keptIds, Seq(DocId), "left_semi"))
      keptDocs.write.mode("overwrite").parquet(s"$docsDir/batch_id=$batchId")
      val keptBands = Pin(batchBands
        .join(keptIds.withColumnRenamed(DocId, "id"), Seq("id"), "left_semi")
        .select(col("band"), col("band_hash"), col("id")))
      keptBands.write.mode("overwrite").parquet(s"$bandsDir/batch_id=$batchId")
      // real frees (Dataset.unpersist is a no-op on checkpoints)
      Pin.free(keptDocs)
      Pin.free(keptBands)
      out
    }
  }

  /** Fold every index partition strictly before `upToBatchId` — stream
    * batches 0..upTo−1 plus any older compacted generation — into ONE
    * consolidated generation partition `batch_id=−upTo` per side, then
    * delete the sources. Without this the index accumulates one parquet
    * directory per micro-batch forever, and the per-batch history probe
    * degrades into a many-small-files listing+open storm (the VERDICT r7
    * #1 gap); after compaction the history scan is a dense few-file
    * columnar read no matter how many batches have ever run.
    *
    * Correctness/crash contract, piece by piece:
    *  - a generation id is NEGATIVE, so it can never collide with a
    *    stream batch id, every `batch_id < N` read includes it, and
    *    [[historyPred]]'s `−id <= N` guard makes its coverage explicit;
    *  - the consolidated write lands in a FRESH directory (no compaction
    *    ever overwrites a partition that is the sole holder of data);
    *    sources are deleted only after that write committed (_SUCCESS);
    *  - therefore every crash window leaves the index a SUPERSET of the
    *    true history (a committed generation plus not-yet-deleted
    *    sources). Duplicate index rows are semantically inert by
    *    construction of the operator: candidate pairs are `distinct()`ed
    *    after the band join, and the verify leg reads each doc's distinct
    *    shingles as one array per row, so a duplicated registry row
    *    duplicates a pair's row with the same Jaccard and never
    *    double-counts a shingle (the two verdict aggregates take a min) —
    *    asserted by the duplicate-tolerance specs;
    *  - re-running compaction at the same `upTo` is idempotent: a
    *    committed generation skips the write and only finishes the
    *    source deletes (whose content it provably contains — sources
    *    below upTo can only have existed before the generation was
    *    written, since batch ids are monotone).
    *
    * Call it only with `upToBatchId` at or below the id of the batch
    * currently in flight (the [[stream]] wiring uses the in-flight id
    * itself): committed batches below it are never replayed, so no
    * future read needs the pre-compaction layout. */
  def compactIndex(spark: SparkSession, indexDir: String, upToBatchId: Long,
      targetRecordsPerFile: Long = 4000000L): Unit = {
    validateUpTo(spark, indexDir, upToBatchId)
    Seq("bands", "docs").foreach { side =>
      compactSideWrite(spark, s"$indexDir/$side", upToBatchId, targetRecordsPerFile)
      deleteCoveredSources(spark, s"$indexDir/$side")
    }
  }

  /** Fail loudly on an out-of-range `upTo` (ADVICE r8): a manual call
    * with upTo beyond the next in-flight batch id would delete source
    * partitions while [[historyPred]] excludes generation −upTo for
    * every batch N < upTo — those batches would silently dedupe against
    * an EMPTY history. Valid upTo: at most max(stream partition id)+1;
    * a committed generation −upTo also legitimizes its own upTo (the
    * documented idempotent re-run, where the stream partitions may
    * already be deleted). */
  private def validateUpTo(spark: SparkSession, indexDir: String,
      upToBatchId: Long): Unit = {
    require(upToBatchId > 0, s"upToBatchId must be positive, got $upToBatchId")
    val ids = Seq("bands", "docs")
      .flatMap(s => partitionIds(spark, s"$indexDir/$s"))
    val bound = math.max(
      ids.filter(_ >= 0).maxOption.map(_ + 1L).getOrElse(0L),
      ids.filter(_ < 0).map(-_).maxOption.getOrElse(0L))
    require(upToBatchId <= bound,
      s"upToBatchId $upToBatchId is beyond the index frontier $bound " +
        s"(max stream partition + 1, or an existing generation): batches " +
        s"between the frontier and $upToBatchId would lose their history")
  }

  /** The FOLD half of [[compactIndex]] for one side: write generation
    * −upTo if not already committed. Never deletes anything — safe to
    * run on a side thread while later micro-batches read the index
    * (sources are immutable committed partitions; a concurrent history
    * read that lists a partially-committed generation sees whole
    * duplicate files, which the operator makes inert — the same
    * superset argument as the crash windows). */
  private def compactSideWrite(spark: SparkSession, dir: String, upTo: Long,
      targetRecordsPerFile: Long): Unit = {
    val (fs, _) = fsPath(spark, dir)
    // sources: stream batches below upTo, and STRICTLY OLDER generations
    // (−id < upTo). The target generation itself is never a source.
    val sources = partitionIds(spark, dir)
      .filter(id => (id >= 0 && id < upTo) || (id < 0 && -id < upTo))
    if (sources.isEmpty) return
    val genPath = new Path(s"$dir/batch_id=${-upTo}")
    if (!fs.exists(new Path(genPath, "_SUCCESS"))) {
      // mode=overwrite clears any uncommitted garbage from a crashed
      // attempt; the read targets explicit source directories, never the
      // generation being written, so there is no read-what-you-overwrite
      // hazard and no checkpoint is needed.
      val src = spark.read.parquet(sources.map(id => s"$dir/batch_id=$id"): _*)
      val rows = src.count()
      val nFiles = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile)
      src.coalesce(nFiles.toInt)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", targetRecordsPerFile)
        .parquet(genPath.toString)
    }
  }

  /** The DELETE half for one side: drop every partition covered by the
    * newest COMMITTED generation (stream batches below its coverage W,
    * and older generations). Idempotent; a no-op when no generation has
    * committed. Must only run from a thread that is not mid-read of the
    * index — the [[stream]] wiring calls it at the START of each
    * micro-batch, on the foreachBatch thread itself, so no history scan
    * is in flight when sources disappear (a file deleted between a
    * Spark plan's file listing and its read is a task failure). */
  private def deleteCoveredSources(spark: SparkSession, dir: String): Unit = {
    val (fs, _) = fsPath(spark, dir)
    val committed = partitionIds(spark, dir)
      .filter(id => id < 0 &&
        fs.exists(new Path(s"$dir/batch_id=$id", "_SUCCESS")))
    if (committed.isEmpty) return
    val cover = committed.map(-_).max
    partitionIds(spark, dir)
      .filter(id => (id >= 0 && id < cover) || (id < 0 && -id < cover))
      .foreach(id => fs.delete(new Path(s"$dir/batch_id=$id"), true))
  }

  /** Deferred-delete entry for the out-of-band compaction path: finish
    * any committed fold by dropping its now-covered sources (both index
    * sides). See [[deleteCoveredSources]] for the threading contract. */
  def deleteCompactedSources(spark: SparkSession, indexDir: String): Unit =
    Seq("bands", "docs").foreach(s => deleteCoveredSources(spark, s"$indexDir/$s"))

  /** One daemon fold thread per index (lazily, via a cached pool +
    * per-index in-flight guard): the fold is pure extra I/O off the
    * batch critical path, so a slow fold must never block a trigger. */
  private val compactPool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-compact")
      t.setDaemon(true)
      t
    })
  private val inflightFolds =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.Future[_]]()

  /** OUT-OF-BAND compaction (VERDICT r8 #3): submit the fold for
    * `upToBatchId` to a side thread and return immediately — the
    * micro-batch that triggered it pays only this submission. Source
    * deletion is NOT done here: it is deferred to the next micro-batch
    * start ([[deleteCompactedSources]] on the foreachBatch thread), so
    * a history scan never races a delete. Until then the index is a
    * committed-generation + sources SUPERSET — exactly the crash-window
    * state the duplicate-tolerance spec pins as inert. If a previous
    * fold for this index is still running the call is skipped; the next
    * trigger catches up with a larger upTo (folds are cumulative).
    * Residue of a skipped window: at most one extra generation's rows
    * duplicated into the next fold — inert and bounded.
    *
    * Latency accounting for anyone quoting async per-batch numbers
    * (STREAM_r09, decomposed in NOTES r9 #5): out-of-band does not make
    * the fold's CPU vanish — locally it SPREADS over the batches the
    * fold overlaps, and folds grow with the index, so later overlapped
    * batches absorb more. Measured drift is in the INGEST leg only
    * (+0.4 s half-over-half, 2.55 → 2.97 s p50 at 120 batches) while
    * dedup and on-path compaction cost stay flat; totals still favor
    * async (367 s vs 400 in-band vs 509 no-compact, identical
    * verdicts). On a real cluster the fold's tasks run on whatever
    * executors are free, so the overlap tax is capacity, not critical
    * path. Quote per-batch async latency as a band, not a point. */
  def compactIndexAsync(spark: SparkSession, indexDir: String,
      upToBatchId: Long, targetRecordsPerFile: Long = 4000000L): Unit = {
    validateUpTo(spark, indexDir, upToBatchId)
    val cur = inflightFolds.get(indexDir)
    if (cur == null || cur.isDone) {
      inflightFolds.put(indexDir, compactPool.submit(new Runnable {
        def run(): Unit =
          try {
            // the pool thread inherits the SUBMITTING (streaming) thread's
            // job group and tags (InheritableThreadLocal, copied at thread
            // creation) — query.stop() cancels every job carrying the
            // query's tag, which would kill a fold mid-write. The fold is
            // index maintenance, not query work: detach it.
            spark.sparkContext.clearJobGroup()
            spark.sparkContext.clearJobTags()
            Seq("bands", "docs").foreach { side =>
              compactSideWrite(spark, s"$indexDir/$side", upToBatchId,
                targetRecordsPerFile)
            }
          } catch {
            case e: Throwable =>
              // a failed fold leaves only sources (or an uncommitted
              // generation dir the next attempt overwrites) — correctness
              // unaffected; surface it and let the next trigger retry
              System.err.println(
                s"[incdedup] async compaction at upTo=$upToBatchId failed: $e")
          }
      }))
    }
  }

  /** Block until any in-flight fold for `indexDir` finishes, WITHOUT
    * running the deferred deletes — exposes the committed-generation +
    * sources superset window the crash/concurrency contract rides on
    * (the out-of-band spec observes it directly). */
  private[graft] def awaitFoldOnly(indexDir: String): Unit =
    Option(inflightFolds.get(indexDir)).foreach(_.get())

  /** Block until any in-flight fold for `indexDir` finishes, then run
    * the deferred source deletes — the drain hook tests and benches use
    * to observe the post-compaction index deterministically. */
  def awaitCompaction(spark: SparkSession, indexDir: String): Unit = {
    awaitFoldOnly(indexDir)
    deleteCompactedSources(spark, indexDir)
  }

  /** Wire a streaming (doc_id, text) document frame through
    * [[processBatch]]: verdicts for micro-batch N land in
    * `outDir/batch_id=N` (overwrite → exactly-once observable output),
    * and the index under `indexDir` grows one partition per batch.
    * `compactEvery > 0` triggers compaction after every
    * `compactEvery`-th batch (upTo = the in-flight id, so only committed
    * history is folded) — OUT-OF-BAND (VERDICT r8 #3: the fold runs on a
    * side thread via [[compactIndexAsync]], deferred deletes run at the
    * next batch start, so batch latency never pays the fold; a caller
    * that needs the index fully compacted drains with
    * [[awaitCompaction]], or folds in band with [[compactIndex]] outside
    * the stream). `keptOnlyHistory` selects the dedup-as-you-go index
    * semantics (see [[processBatch]]). */
  def stream(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, threshold: Double = 0.5, k: Int = 16,
      bands: Int = 4, n: Int = 3,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      compactEvery: Int = 0,
      keptOnlyHistory: Boolean = false): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val spark = b.sparkSession
        // finish any committed out-of-band fold BEFORE this batch's
        // history scan plans its file listing (delete-vs-read safety)
        if (compactEvery > 0)
          deleteCompactedSources(spark, indexDir)
        val verdicts = processBatch(spark, b, id, indexDir, threshold, k,
          bands, n, keptOnlyHistory)
        // Free the pins the verdicts read (the operator's `pairs`, or
        // keptOnlyHistory's `out`) as soon as the write ends, failed or
        // not (ADVICE r8): otherwise they wait for the ContextCleaner to
        // GC the DataFrames — on a long-running low-heap-pressure driver
        // that can be thousands of micro-batches of executor storage.
        // Nothing re-reads them once the verdicts are on disk.
        try verdicts.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        finally Pin.free(verdicts)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          compactIndexAsync(spark, indexDir, id)
        ()
      }
      .start()
}
