package graft.streaming

import java.nio.file.Files

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.ShuffleBytes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.core.{Pin, Sessions, Tables}
import graft.functions.MinHashExpr
import graft.operators.Dedup

/** Top-level so Catalyst can generate its encoder (inner classes can't
  * be instantiated from codegen). */
case class Doc(doc_id: Long, text: String)

/** Streaming incremental dedup (VERDICT r6 #7): parity of the
  * foreachBatch + persisted-band-index path against the batch operator
  * on the same document slices, plus the exactly-once replay property
  * (reprocessing a batch id yields byte-identical verdicts). */
class IncrementalDedupStreamSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  private def slices: Seq[Seq[Doc]] = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[Doc]
    // mod-3 slices of the fixture corpus, replayed as three ingest
    // batches; planted near-dup clusters are 5 consecutive ids, so every
    // slice pair has cross-slice near-dups (non-vacuous on both legs)
    (0 until 3).map(m => docs.filter(d => d.doc_id % 3 == m).collect().toSeq)
  }

  private def sortedRows(df: DataFrame): Seq[(Long, String, Long)] =
    df.select(col("doc_id"), col("status"), col("dup_of"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
      .toSeq

  test("streamed verdicts equal the batch operator on the same slices") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("incdedup").toString
    val (indexDir, outDir, ckpt) =
      (s"$tmp/index", s"$tmp/out", s"$tmp/ckpt")
    val sl = slices
    val mem = MemoryStream[Doc]
    // compactEvery = 2: batch 2's foreachBatch triggers the fold of
    // batches 0-1 into generation -2 through the PRODUCTION wiring —
    // the stream always folds out of band, so the assert drains via
    // awaitCompaction (reads THROUGH a generation are covered by the
    // dedicated compaction test below)
    val q = IncrementalDedup.stream(mem.toDF(), indexDir, outDir, ckpt,
      threshold = 0.5, compactEvery = 2)
    try {
      sl.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()
    IncrementalDedup.awaitCompaction(spark, indexDir)
    assert(new java.io.File(s"$indexDir/bands/batch_id=-2").isDirectory,
      "stream wiring did not compact at batch 2")

    // batch twin per slice: history = all docs of the EARLIER slices
    // (the registry appends every processed doc, kept or dup)
    var history = sl.head.toDF().limit(0)
    sl.zipWithIndex.foreach { case (s, i) =>
      val streamed = spark.read.parquet(s"$outDir/batch_id=$i")
      val twin = Dedup.incrementalNearDup(history, s.toDF(), threshold = 0.5)
      assert(sortedRows(streamed) == sortedRows(twin),
        s"batch $i diverged from the batch operator")
      history = history.unionByName(s.toDF())
    }
    // non-vacuous: at least one dup_history and one dup_batch verdict
    // across the replay (the fixture's planted clusters guarantee both)
    val all = spark.read.parquet(s"$outDir")
    assert(all.filter(col("status") === "dup_history").count() > 0)
    assert(all.filter(col("status") === "dup_batch").count() > 0)
  }

  test("replaying a batch id is idempotent (exactly-once verdicts)") {
    val tmp = Files.createTempDirectory("incdedup_replay").toString
    val indexDir = s"$tmp/index"
    val sl = slices.take(2)
    val first = IncrementalDedup.processBatch(spark, sl.head.toDF(), 0L, indexDir)
    val r0 = sortedRows(first)
    val second = IncrementalDedup.processBatch(spark, sl(1).toDF(), 1L, indexDir)
    val r1 = sortedRows(second)
    // crash-replay of batch 1: its own half-written partitions already
    // exist on disk — reprocessing must ignore them (batch_id < 1 reads)
    // and overwrite, yielding identical verdicts
    val replay = IncrementalDedup.processBatch(spark, sl(1).toDF(), 1L, indexDir)
    assert(sortedRows(replay) == r1)
    // and batch 0's verdicts were computed against an EMPTY history
    assert(r0.forall(v => v._2 == "kept" || v._2 == "dup_batch"))
  }

  private def partitionNames(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Set.empty
    else d.listFiles().filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
  }

  private def dataFileCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }

  test("compaction preserves verdicts, survives replay, and shrinks the index") {
    val sl = slices
    val tmpA = Files.createTempDirectory("incdedup_nocompact").toString
    val tmpB = Files.createTempDirectory("incdedup_compact").toString
    // reference run: no compaction
    val ref = sl.zipWithIndex.map { case (s, i) =>
      sortedRows(IncrementalDedup.processBatch(spark, s.toDF(), i.toLong, tmpA))
    }
    // compacted run: fold history after batch 1 (upTo = 2, the NEXT
    // in-flight id, as the stream wiring does) — batch 2 then reads its
    // history through the generation partition
    val got = sl.zipWithIndex.map { case (s, i) =>
      val rows = sortedRows(IncrementalDedup.processBatch(spark, s.toDF(), i.toLong, tmpB))
      if (i == 1) IncrementalDedup.compactIndex(spark, tmpB, 2L)
      rows
    }
    assert(got == ref, "compaction changed a verdict")
    assert(partitionNames(s"$tmpB/bands") == Set("batch_id=-2", "batch_id=2"))
    assert(partitionNames(s"$tmpB/docs") == Set("batch_id=-2", "batch_id=2"))
    // a batch AFTER compaction still sees the full history through the
    // generation partition: its verdicts match a fresh uncompacted twin
    val extra = sl.head.map(d => Doc(d.doc_id + 1000000L, d.text))
    val viaGen = sortedRows(
      IncrementalDedup.processBatch(spark, extra.toDF(), 3L, tmpB))
    val viaParts = sortedRows(
      IncrementalDedup.processBatch(spark, extra.toDF(), 3L, tmpA))
    assert(viaGen == viaParts, "generation read diverged from partition read")
    // compaction while batch 3 is in flight (upTo = 3: folds generation
    // -2 and batch 2), then crash-replay of batch 3 — the valid replay
    // scenario — must resolve its history identically through the new
    // generation
    IncrementalDedup.compactIndex(spark, tmpB, 3L)
    val replay = sortedRows(
      IncrementalDedup.processBatch(spark, extra.toDF(), 3L, tmpB))
    assert(replay == viaGen, "replay across compaction diverged")
    // re-running compaction at the same upTo is an idempotent no-op
    IncrementalDedup.compactIndex(spark, tmpB, 3L)
    assert(partitionNames(s"$tmpB/bands") == Set("batch_id=-3", "batch_id=3"))
    assert(dataFileCount(s"$tmpB/bands") < dataFileCount(s"$tmpA/bands"),
      "compaction should reduce the band index file count")
  }

  test("out-of-band compaction: fold off the batch path, deferred deletes, parity") {
    // The VERDICT r8 #3 path: compactIndexAsync writes the generation on
    // a side thread (no deletes); deleteCompactedSources finishes the job
    // from the batch thread. Interleaved exactly as the stream wiring
    // runs it, verdicts must match the in-band twin at every step, and
    // the superset window (generation committed + sources present) must
    // be observable and harmless.
    val sl = slices
    val tmpA = Files.createTempDirectory("incdedup_inband").toString
    val tmpB = Files.createTempDirectory("incdedup_async").toString
    val ref = sl.zipWithIndex.map { case (s, i) =>
      val rows = sortedRows(IncrementalDedup.processBatch(spark, s.toDF(), i.toLong, tmpA))
      if (i == 1) IncrementalDedup.compactIndex(spark, tmpA, 2L)
      rows
    }
    val got = sl.zipWithIndex.map { case (s, i) =>
      // the stream wiring's batch-start deferred delete
      IncrementalDedup.deleteCompactedSources(spark, tmpB)
      val rows = sortedRows(IncrementalDedup.processBatch(spark, s.toDF(), i.toLong, tmpB))
      if (i == 1) {
        IncrementalDedup.compactIndexAsync(spark, tmpB, 2L)
        // drain the fold ONLY (no deletes yet): batch 2 above the loop
        // then reads the superset state — committed generation -2 plus
        // sources 0,1 still on disk — before its own delete phase
        IncrementalDedup.awaitFoldOnly(tmpB)
        assert(new java.io.File(s"$tmpB/bands/batch_id=-2/_SUCCESS").isFile,
          "async fold did not commit")
        assert(partitionNames(s"$tmpB/bands")
          .intersect(Set("batch_id=0", "batch_id=1")).size == 2,
          "async fold must not delete sources")
      }
      rows
    }
    assert(got == ref, "out-of-band compaction changed a verdict")
    // wait: batch 2's delete phase ran BEFORE the fold committed only if
    // the fold was slow; force the deferred delete now and assert the
    // covered sources are gone
    IncrementalDedup.awaitCompaction(spark, tmpB)
    assert(partitionNames(s"$tmpB/bands")
      .intersect(Set("batch_id=0", "batch_id=1")).isEmpty,
      "deferred delete left covered sources")
    assert(partitionNames(s"$tmpB/bands").contains("batch_id=-2"))
    // out-of-range upTo fails loudly instead of orphaning history
    // (ADVICE r8): frontier is max stream id 2 + 1 = 3
    intercept[IllegalArgumentException] {
      IncrementalDedup.compactIndexAsync(spark, tmpB, 99L)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.compactIndex(spark, tmpB, 99L)
    }
    // idempotent re-run at an upTo whose generation already committed is
    // legal even after its stream partitions were deleted
    IncrementalDedup.compactIndex(spark, tmpB, 2L)
  }

  test("duplicate index rows are semantically inert (crash-window contract)") {
    // compaction's only crash residue is a committed generation PLUS
    // not-yet-deleted source partitions — i.e. every history row
    // duplicated. Simulate exactly that and assert verdicts unchanged.
    val sl = slices.take(2)
    val tmp = Files.createTempDirectory("incdedup_dup").toString
    val r0 = IncrementalDedup.processBatch(spark, sl.head.toDF(), 0L, tmp)
    Sessions.materialize(r0)
    val clean = sortedRows(IncrementalDedup.processBatch(spark, sl(1).toDF(), 1L, tmp))
    // duplicate batch 0's partitions wholesale into a fake generation
    for (side <- Seq("bands", "docs")) {
      val src = spark.read.parquet(s"$tmp/$side/batch_id=0")
      src.write.mode("overwrite").parquet(s"$tmp/$side/batch_id=-1")
    }
    val withDups = sortedRows(IncrementalDedup.processBatch(spark, sl(1).toDF(), 1L, tmp))
    assert(withDups == clean, "duplicated history rows changed a verdict")
  }

  test("a duplicated history row does not flip a borderline verdict") {
    // A history read that lands after out-of-band compaction committed a
    // generation, but before its sources are deleted, sees every history
    // row twice. History doc 1 and batch doc 100 have 12 distinct
    // trigrams each and share 6: J = 6/18 = 0.33 < 0.5. The hand-made
    // band keys put doc 1 in every bucket of doc 100 (an LSH false
    // positive), so only exact verification keeps doc 100; counting
    // doc 1's shingles twice reads 12/24 = 0.5 and blames it.
    val shared = (0 until 8).map(i => s"s$i")
    val hist = Doc(1L, ((0 until 6).map(i => s"h$i") ++ shared).mkString(" "))
    val doc = Doc(100L, (shared ++ (0 until 6).map(i => s"b$i")).mkString(" "))
    val batchBands = (0 until 4).map(b => (b, 7L + b, 100L)).toDF("band", "band_hash", "id")
    val histBands = batchBands.withColumn("id", lit(1L))
    for (copies <- Seq(1, 2)) {
      val got = sortedRows(Dedup.incrementalNearDupIndexed(
        Seq.fill(copies)(histBands).reduce(_ unionByName _),
        Seq.fill(copies)(hist).toDF(), Seq(doc).toDF(), batchBands))
      assert(got == Seq((100L, "kept", -1L)), s"$copies copies of the history row")
    }
  }

  test("keptOnlyHistory gives representative-only matching (A~B~C chains)") {
    // Chain fixture: A ~ B (J >= 0.5), B ~ C, but A vs C below threshold.
    // Batch 0 = {A, B}: B is dup_batch of A and (in kept-only mode)
    // leaves the index. Batch 1 = {C}:
    //   default: history = {A, B} -> C is dup_history of B (transitive
    //            chain collapse, the batch-CC keep-set semantics);
    //   kept-only: history = {A} -> C is KEPT (greedy representative
    //            matching; the index holds only the retained corpus).
    // Sliding 32-token windows with stride 6: adjacent windows share 24
    // of 36 distinct 3-gram shingles (J = 0.667 >= 0.5), windows two
    // apart share 18 of 42 (J = 0.429 < 0.5). bands = 8 (2 rows each)
    // keeps candidate recall high at J = 0.667 (P[band match] = J^2,
    // eight tries) — the A-C candidate may also surface, but exact
    // verification rejects it, which is the operator's exactness
    // contract.
    val toks = (0 until 44).map(i => s"t$i")
    val a = Doc(1L, toks.slice(0, 32).mkString(" "))
    val b = Doc(2L, toks.slice(6, 38).mkString(" "))
    val c = Doc(3L, toks.slice(12, 44).mkString(" "))
    for ((keptOnly, expectC) <- Seq(false -> "dup_history", true -> "kept")) {
      val tmp = Files.createTempDirectory(s"incdedup_kept_$keptOnly").toString
      val r0 = IncrementalDedup.processBatch(spark, Seq(a, b).toDF(), 0L, tmp,
        bands = 8, keptOnlyHistory = keptOnly)
      Sessions.materialize(r0)
      assert(sortedRows(r0) == Seq((1L, "kept", -1L), (2L, "dup_batch", 1L)))
      if (keptOnly) {
        // the dropped doc left the index
        val reg = spark.read.parquet(s"$tmp/docs/batch_id=0")
        assert(reg.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
      }
      val r1 = sortedRows(IncrementalDedup.processBatch(spark, Seq(c).toDF(), 1L, tmp,
        bands = 8, keptOnlyHistory = keptOnly))
      assert(r1.head._2 == expectC,
        s"keptOnlyHistory=$keptOnly: expected C=$expectC, got ${r1.head}")
    }
  }

  /** Batch `i` of a synthetic stream of `size` docs per batch (ids
    * [i·size, (i+1)·size), 30-49 words of a 5000-word vocabulary): id ≡ 9
    * (mod 10) near-copies id − 9 of its own batch, and from batch 1 on
    * id ≡ 5 (mod 10) near-copies a doc of the previous batch. Every batch
    * after the first carries the same number of planted pairs on both
    * legs, so between them only the size of the history differs. */
  private def streamBatch(i: Int, size: Int): DataFrame = {
    def words(base: Long): String = {
      val r = new scala.util.Random(base)
      Seq.fill(30 + r.nextInt(20))(s"w${r.nextInt(5000)}").mkString(" ")
    }
    (i.toLong * size until (i + 1L) * size).map { id =>
      val base =
        if (id % 10 == 9) id - 9
        else if (id % 10 == 5 && i > 0) id - size - 1
        else id
      Doc(id, words(base) + (if (base != id) s" x$id" else ""))
    }.toDF()
  }

  /** Shuffle bytes written by finished tasks, and the executed plan of
    * every finished SQL execution (queries, writes, checkpoints), from
    * `body` only. */
  private def observed(body: => Unit): (Long, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val queries = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.listenerManager.register(queries)
    try {
      val (bytes, _) = ShuffleBytes(spark.sparkContext)(body)
      (bytes, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(queries)
  }

  /** processBatch plus its verdict write, the stream wiring's unit of
    * work, then the wiring's release of the pins the verdicts read. */
  private def runBatch(indexDir: String, outDir: String, i: Int,
      docs: DataFrame): Unit = {
    val verdicts = IncrementalDedup.processBatch(spark, docs, i.toLong, indexDir)
    try verdicts.write.mode("overwrite").parquet(s"$outDir/batch_id=$i")
    finally Pin.free(verdicts)
  }

  test("a failed verdict write leaves no persistent RDD the batch created") {
    // outDir is a regular file, so the verdict write of batch 0 fails
    // after processBatch has pinned its intermediates; the wiring must
    // free them on that path too
    implicit val sqlCtx = spark.sqlContext
    for (keptOnly <- Seq(false, true)) {
      val tmp = Files.createTempDirectory(s"incdedup_failwrite_$keptOnly").toString
      val outFile = Files.createFile(java.nio.file.Paths.get(tmp, "out")).toString
      val mem = MemoryStream[Doc]
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val q = IncrementalDedup.stream(mem.toDF(), s"$tmp/index", outFile,
        s"$tmp/ckpt", keptOnlyHistory = keptOnly)
      try {
        mem.addData(streamBatch(0, 100).as[Doc].collect().toSeq: _*)
        intercept[StreamingQueryException](q.processAllAvailable())
      } finally q.stop()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"keptOnlyHistory=$keptOnly: persistent RDDs $leaked")
    }
  }

  test("per-batch shuffle does not grow with history, and the registry is never shuffled") {
    val tmp = Files.createTempDirectory("incdedup_scale").toString
    val (indexDir, outDir) = (s"$tmp/index", s"$tmp/out")
    val docsDir = new Path(s"$indexDir/docs").toUri.getPath
    // the history registry is read through its root (basePath) — the
    // batch's own partition is read by its batch_id=N path
    def scansRegistry(p: SparkPlan): Boolean = find(p) {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == docsDir)
      case _ => false
    }.isDefined
    val perBatch = (0 until 5).map { i =>
      val (bytes, plans) = observed(runBatch(indexDir, outDir, i, streamBatch(i, 300)))
      val shuffled = plans.flatMap(p => collect(p) {
        case e: ShuffleExchangeExec if scansRegistry(e) => e
      })
      assert(shuffled.isEmpty,
        s"batch $i shuffles the history registry:\n${shuffled.headOption.map(_.treeString)}")
      if (i > 0) assert(plans.exists(scansRegistry), s"batch $i never read its history")
      bytes
    }
    // non-vacuous: both legs found their planted pairs in the last batch
    val last = spark.read.parquet(s"$outDir/batch_id=4").groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last.getOrElse("dup_history", 0L) > 0 && last.getOrElse("dup_batch", 0L) > 0, s"$last")
    info(s"shuffle bytes written per batch: ${perBatch.mkString(", ")}")
    // batch 0 has no history leg at all; batches 1..4 differ only in
    // the history they are checked against (1 to 4 batches of it)
    assert(perBatch.last <= 1.25 * perBatch(1),
      s"shuffle bytes per batch grow with history: ${perBatch.mkString(", ")}")
  }

  test("processBatch signatures the batch once") {
    val tmp = Files.createTempDirectory("incdedup_sigonce").toString
    val (indexDir, outDir) = (s"$tmp/index", s"$tmp/out")
    runBatch(indexDir, outDir, 0, streamBatch(0, 100))
    // the MinHash signature is computed in the row by MinHashExpr; no
    // other operator in the batch's plans evaluates it
    def signs(p: SparkPlan): Boolean =
      find(p)(_.expressions.exists(_.exists(_.isInstanceOf[MinHashExpr]))).isDefined
    for (i <- 1 to 2) {
      val (_, plans) = observed(runBatch(indexDir, outDir, i, streamBatch(i, 100)))
      assert(plans.count(signs) == 1,
        s"batch $i: ${plans.count(signs)} executed plans compute MinHash signatures")
    }
  }
}
