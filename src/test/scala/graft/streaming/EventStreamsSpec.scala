package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.EventStreams.Event

/** One-shot failure injection for the exactly-once test: the first
  * evaluation after arm() throws, failing the in-flight micro-batch. */
object CrashOnce {
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  def arm(): Unit = armed.set(true)
  val udf = org.apache.spark.sql.functions.udf { (_: Long) =>
    if (armed.compareAndSet(true, false)) throw new RuntimeException("injected crash")
    true
  }
}

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("tumbling streaming counts equal the batch formulation on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(70), 2, "view", 3.0),
      Event(4, ts(80), 1, "click", 4.0))
    mem.addData(events: _*)
    val q = EventStreams.tumblingCounts(mem.toDF(), watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("tumbling_out")
      .start()
    // advance the watermark past all open windows so append emits them
    mem.addData(Event(99, ts(600), 9, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tumbling_out")
      .filter(col("event_type") =!= "flush")
      .orderBy("hour_start", "event_type")
      .select("event_type", "n", "sum_value")
      .as[(String, Long, Double)].collect().toSeq
    val want = events.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
      .orderBy(col("window.start"), col("event_type"))
      .select("event_type", "n", "s").as[(String, Long, Double)].collect().toSeq
    assert(got == want)
    assert(got == Seq(("click", 2L, 3.0), ("click", 1L, 4.0), ("view", 1L, 3.0)))
  }

  test("tumbling agg streams to a parquet sink with checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("stream-sink").toString
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(70), 2, "view", 3.0))
    val q = EventStreams.tumblingCounts(mem.toDF(), watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    mem.addData(Event(99, ts(600), 9, "flush", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$tmp/out")
      .filter(col("event_type") =!= "flush")
      .orderBy("hour_start", "event_type")
      .select("event_type", "n", "sum_value")
      .as[(String, Long, Double)].collect().toSeq
    assert(back == Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
    // restart from the checkpoint: no reprocessing, no duplicate output
    val q2 = EventStreams.tumblingCounts(mem.toDF(), watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(s"$tmp/out")
      .filter(col("event_type") =!= "flush").count() == 2)
  }

  test("streaming dedup drops replayed event ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupEvents(mem.toDF(), watermark = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .start()
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 1, "click", 2.0),
      Event(1, ts(0), 1, "click", 1.0)) // in-batch duplicate
    q.processAllAvailable()
    // replay of event 2 in a LATER micro-batch (an at-least-once source
    // redelivering) — state must still remember it
    mem.addData(Event(2, ts(1), 1, "click", 2.0), Event(3, ts(2), 2, "view", 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").select("event_id")
      .as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L, 3L), s"duplicates survived: $got")
  }

  test("stream-stream interval join pairs purchases with recent clicks only") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.clickPurchaseJoin(mem.toDF(), lookback = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("ssjoin_out")
      .start()
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),   // 40 min before purchase → outside
      Event(2, ts(25), 1, "click", 2.0),  // 15 min before → inside
      Event(3, ts(35), 1, "click", 3.0),  // 5 min before → inside
      Event(4, ts(40), 1, "purchase", 9.0),
      Event(5, ts(30), 2, "click", 4.0),  // other user
      Event(6, ts(50), 1, "click", 5.0))  // AFTER the purchase → excluded
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin_out")
      .select("purchase_id", "click_value").as[(Long, Double)].collect().toSet
    assert(got == Set((4L, 2.0), (4L, 3.0)), s"wrong click set: $got")
  }

  test("streaming as-of join equals the batch AsOfJoin operator row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(5), 1, "click", 2.5),    // latest click before purchase 4
      Event(3, ts(5), 1, "click", 2.0),    // same-ts tie: 2.5 must win
      Event(4, ts(10), 1, "purchase", 9.0),
      Event(5, ts(20), 1, "click", 3.0),   // after purchase 4, before 8
      Event(6, ts(1), 2, "purchase", 7.0), // user 2: NO prior click → nulls
      Event(7, ts(2), 2, "click", 4.0),
      Event(8, ts(30), 1, "purchase", 8.0),
      Event(9, ts(40), 2, "purchase", 6.0))
    val q = EventStreams.asOfClickPurchase(mem.toDS(), watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("asof_out")
      .start()
    // two micro-batches split in event-time order (rows behind the
    // watermark would be dropped as late, as streaming semantics demand):
    // purchases arrive before the watermark passes them, then later
    // batches advance the watermark and release them
    val (batch1, batch2) = events.sortBy(_.ts.getTime).partition(_.ts.getTime <= ts(10).getTime)
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    mem.addData(Event(99, ts(600), 9, "click", 0.0)) // watermark flush
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_out")
      .select("event_id", "user_id", "purchase_ts", "click_ts", "click_value")
      .as[(Long, Long, Timestamp, Option[Timestamp], Option[Double])]
      .collect().toSet
    val ev = events.toDF()
    val want = graft.operators.AsOfJoin.backward(
      ev.filter(col("event_type") === "purchase").select("user_id", "ts", "event_id"),
      ev.filter(col("event_type") === "click").select("user_id", "ts", "value"),
      on = Seq("user_id"), leftTs = "ts", rightTs = "ts",
      rightCols = Map("ts" -> "click_ts", "value" -> "click_value"))
      .select("event_id", "user_id", "ts", "click_ts", "click_value")
      .as[(Long, Long, Timestamp, Option[Timestamp], Option[Double])]
      .collect().toSet
    assert(got == want, s"streaming $got vs batch $want")
    assert(got.contains((4L, 1L, ts(10), Some(ts(5)), Some(2.5)))) // tie-break
    assert(got.contains((6L, 2L, ts(1), None, None)))              // no prior click
  }

  test("exactly-once sink: batch replay after a mid-batch crash leaves no duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("stream-eo").toString
    val target = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(70), 2, "view", 3.0))

    // first run: a crash injected into the batch lineage fails the query
    // mid-batch (foreachBatch is at-least-once: the batch will be REPLAYED
    // with the same id on restart)
    CrashOnce.arm()
    val agg1 = EventStreams.tumblingCounts(mem.toDF(), watermark = "0 seconds")
      .filter(CrashOnce.udf(col("n")))
    val q1 = EventStreams.exactlyOnceParquetSink(agg1, target, ckpt)
    mem.addData(Event(99, ts(600), 9, "flush", 0.0)) // advance watermark
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()

    // simulate the crashed batch's partial output: plant a bogus duplicate
    // row in the batch directory the restart must overwrite
    val commits = new java.io.File(s"$ckpt/commits").list()
    val failedBatch =
      if (commits == null || commits.isEmpty) 0L
      else commits.filter(_.forall(_.isDigit)).map(_.toLong).max + 1
    Seq(("1970-01-01 00:00:00", "click", 999L, 999.0))
      .toDF("hour_start", "event_type", "n", "sum_value")
      .selectExpr("CAST(hour_start AS TIMESTAMP) AS hour_start",
        "event_type", "n", "sum_value")
      .write.mode("overwrite").parquet(s"$target/batch_id=$failedBatch")

    // restart from the checkpoint with the crash disarmed: the failed
    // batch replays under the SAME id, overwriting the partial directory
    val agg2 = EventStreams.tumblingCounts(mem.toDF(), watermark = "0 seconds")
      .filter(CrashOnce.udf(col("n")))
    val q2 = EventStreams.exactlyOnceParquetSink(agg2, target, ckpt)
    q2.processAllAvailable()
    q2.stop()

    val back = spark.read.parquet(target)
      .filter(col("event_type") =!= "flush")
      .orderBy("hour_start", "event_type")
      .select("event_type", "n", "sum_value")
      .as[(String, Long, Double)].collect().toSeq
    assert(back == Seq(("click", 2L, 3.0), ("view", 1L, 3.0)),
      s"expected exactly-once output, got $back")
  }

  test("sessionizer runs on the RocksDB state store (100 TB state path)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = EventStreams.rocksDbStateStoreConf.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    EventStreams.rocksDbStateStoreConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val mem = MemoryStream[Event]
      mem.addData(
        Event(1, ts(0), 1, "a", 1.0),
        Event(2, ts(10), 1, "a", 2.0),
        Event(4, ts(5), 2, "b", 5.0))
      val q = EventStreams.sessionize(mem.toDS(), watermarkDelay = "0 seconds")
        .writeStream.outputMode("append").format("memory").queryName("rocksdb_sessions")
        .start()
      q.processAllAvailable()
      mem.addData(Event(99, ts(600), 9, "flush", 0.0))
      q.processAllAvailable()
      // the state operator must actually be running on RocksDB
      val metrics = q.lastProgress.stateOperators.headOption
        .map(_.customMetrics.keySet())
      q.stop()
      assert(metrics.exists(_.toString.contains("rocksdb")),
        s"state operator metrics $metrics carry no rocksdb counters")
      val got = spark.table("rocksdb_sessions")
        .as[EventStreams.SessionOut].collect().toSeq
        .sortBy(s => (s.user_id, s.session_start.getTime))
      assert(got == Seq(
        EventStreams.SessionOut(1L, ts(0), 2, 3.0),
        EventStreams.SessionOut(2L, ts(5), 1, 5.0)))
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("stateful sessionizer closes sessions on the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1, "a", 1.0),
      Event(2, ts(10), 1, "a", 2.0), // same session (gap 10m < 30m)
      Event(3, ts(60), 1, "a", 3.0), // new session (gap 50m)
      Event(4, ts(5), 2, "b", 5.0))
    val q = EventStreams.sessionize(mem.toDS(), watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sessions_out")
      .start()
    q.processAllAvailable()
    // advance the watermark far past every open session → event-time
    // timeouts flush them
    mem.addData(Event(99, ts(600), 9, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions_out")
      .as[EventStreams.SessionOut].collect().toSeq
      .sortBy(s => (s.user_id, s.session_start.getTime))
    assert(got == Seq(
      EventStreams.SessionOut(1L, ts(0), 2, 3.0),   // closed by in-stream gap
      EventStreams.SessionOut(1L, ts(60), 1, 3.0),  // flushed by timeout
      EventStreams.SessionOut(2L, ts(5), 1, 5.0)))  // flushed by timeout
  }

  test("streaming heavy hitters keep the Misra-Gries guarantee across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val k = 3
    val q = EventStreams.heavyHitters(mem.toDF(), "event_type", k)
      .writeStream.outputMode("complete").format("memory").queryName("hh_out")
      .start()
    // skewed stream: 'view' dominates, 'click' is heavy, the rest are noise
    val items = Seq.fill(40)("view") ++ Seq.fill(25)("click") ++
      Seq("error", "signup", "purchase", "scroll", "hover", "focus", "blur")
    val events = items.zipWithIndex.map { case (t, i) => Event(i, ts(i), 1, t, 0.0) }
    val (b1, b2) = events.splitAt(events.length / 2)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val mg = spark.table("hh_out").select("mg")
      .as[Map[String, Long]].collect().last
    val exact = items.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = items.length
    val floor = n / (k + 1)
    assert(mg.size <= k, "summary never exceeds k counters")
    exact.filter(_._2 > floor).keys.foreach { heavy =>
      assert(mg.contains(heavy), s"guaranteed heavy hitter '$heavy' missing")
    }
    mg.foreach { case (item, est) =>
      val truth = exact.getOrElse(item, 0L)
      assert(est <= truth && est >= truth - floor,
        s"'$item' estimate $est outside [truth-n/(k+1), truth] = [${truth - floor}, $truth]")
    }
  }

  test("streaming funnel: out-of-order arrivals fold in event order; no restart after stage 3") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.funnel(mem.toDS(), watermarkDelay = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("funnel_out")
      .start()
    // user 1: click ARRIVES before its view but is AFTER it in event time
    // (must count once the watermark releases both, folded in ts order);
    // a click at the view's exact ts must NOT count (strictly-after).
    // user 2: purchase with no prior click → stuck at stage 1.
    mem.addData(
      Event(1, ts(5), 1, "click", 1.0),     // arrives first, event-time later
      Event(2, ts(3), 1, "view", 0.0),
      Event(3, ts(3), 1, "click", 0.5),     // same-ts click: not strictly after
      Event(4, ts(2), 2, "view", 0.0),
      Event(5, ts(6), 2, "purchase", 9.0))  // no click yet → no advance
    q.processAllAvailable()
    mem.addData(Event(6, ts(30), 1, "purchase", 5.0))
    q.processAllAvailable()
    // user 1 completed at stage 3; a later view/click/purchase cycle must
    // NOT restart the funnel or emit again
    mem.addData(Event(7, ts(40), 1, "view", 0.0),
      Event(8, ts(41), 1, "click", 0.0), Event(9, ts(42), 1, "purchase", 0.0))
    q.processAllAvailable()
    mem.addData(Event(99, ts(600), 9, "view", 0.0)) // watermark flush
    q.processAllAvailable()
    q.stop()
    val got = spark.table("funnel_out")
      .as[EventStreams.FunnelHit].collect().toSet
    assert(got == Set(
      EventStreams.FunnelHit(1, 1, ts(3)),
      EventStreams.FunnelHit(2, 1, ts(2)),
      EventStreams.FunnelHit(1, 2, ts(5)),
      EventStreams.FunnelHit(1, 3, ts(30))), s"got $got")
    // the flush sentinel itself stays buffered: the watermark never
    // passes the stream's max event time
  }

  test("streaming funnel equals the batch q66 funnel on the sf0.001 fixture") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.ts.getTime)
    val mem = MemoryStream[Event]
    val q = EventStreams.funnel(mem.toDS(), watermarkDelay = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("funnel_fix")
      .start()
    // feed in three event-time-ordered chunks (cross-chunk disorder would
    // be late-dropped at this delay; in-chunk order is irrelevant)
    fixture.grouped((fixture.length + 2) / 3).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    val last = fixture.last.ts.getTime
    mem.addData(Event(-1, new Timestamp(last + 3600000L), -9, "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("funnel_fix").as[EventStreams.FunnelHit].collect()
      .filter(_.user_id >= 0)
    val byUser = hits.groupBy(_.user_id)
    val batch = graft.queries.AnalyticsQueries.q66Funnel(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("view_ts"), col("click_ts"), col("purchase_ts"),
        col("stage"))
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp], Int)]
      .collect()
    batch.foreach { case (u, v, c, p, stage) =>
      val mine = byUser.getOrElse(u, Array.empty).map(h => h.stage -> h.stage_ts).toMap
      assert(mine.size == stage, s"user $u: ${mine.size} hits vs batch stage $stage")
      assert(mine.get(1) == v && mine.get(2) == c && mine.get(3) == p,
        s"user $u timestamps diverge: $mine vs ($v, $c, $p)")
    }
    assert(batch.exists(_._5 == 3), "fixture must contain full conversions")
  }

  test("streaming latest-snapshot equals batch q81 after out-of-order replay") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
      // adversarial arrival order (deterministic): no watermark, so even
      // fully-reversed arrival must fold into the same per-key max
      .sortBy(e => (e.event_id * 2654435761L) % 1000003L)
    val mem = MemoryStream[Event]
    val q = EventStreams.latestSnapshot(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("snap_out")
      .start()
    fixture.grouped((fixture.length + 2) / 3).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("snap_out")
      .orderBy("user_id")
      .as[(Long, Timestamp, Long, String, Double)].collect().toSeq
    val want = graft.queries.AnalyticsQueries
      .q81LatestSnapshot(spark, "/root/testdata/sf0.001")
      .as[(Long, Timestamp, Long, String, Double)].collect().toSeq
    assert(got == want, "streaming upsert view must equal the batch snapshot")
    assert(got.nonEmpty)
  }

  /** Event-time-ordered chunks that never split a timestamp tie group —
    * with tie groups intact, a "0 seconds" watermark after chunk k can
    * never late-drop a row of chunk k+1, so streaming sees EVERY row the
    * batch twin sees and parity is exact, not approximate. */
  private def tsChunks(sorted: IndexedSeq[Event], n: Int): Seq[IndexedSeq[Event]] = {
    val target = math.max(1, (sorted.length + n - 1) / n)
    val out = scala.collection.mutable.ListBuffer.empty[IndexedSeq[Event]]
    var i = 0
    while (i < sorted.length) {
      var end = math.min(i + target, sorted.length)
      while (end < sorted.length && sorted(end).ts.getTime == sorted(end - 1).ts.getTime)
        end += 1
      out += sorted.slice(i, end)
      i = end
    }
    out.toSeq
  }

  private def sf01Events: IndexedSeq[Event] =
    graft.core.Tables.events(spark, "/root/testdata/sf0.1")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toIndexedSeq

  test("streaming tumbling counts equal batch q25 on the sf0.1 fixture") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = sf01Events
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(mem.toDF(), watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("tumbling_sf01")
      .start()
    tsChunks(fixture, 10).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val last = fixture.last.ts.getTime
    mem.addData(Event(-1, new Timestamp(last + 24L * 3600 * 1000), -9, "__flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tumbling_sf01")
      .filter(col("event_type") =!= "__flush")
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_start", "event_type")
      .as[(String, String, Long, Double)].collect().toSeq
    val want = graft.queries.Relational.q25Tumbling(spark, "/root/testdata/sf0.1")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got.size == want.size, s"${got.size} windows vs batch ${want.size}")
    assert(got == want, "streaming tumbling output must equal batch q25 at sf0.1")
  }

  test("streaming sliding averages equal batch q26 on the sf0.1 fixture") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = sf01Events
    val mem = MemoryStream[Event]
    val q = EventStreams.slidingAvg(mem.toDF(), watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sliding_sf01")
      .start()
    tsChunks(fixture, 10).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    // the flush row's own windows end after the advanced watermark, so
    // they stay open and never reach the sink
    val last = fixture.last.ts.getTime
    mem.addData(Event(-1, new Timestamp(last + 24L * 3600 * 1000), -9, "__flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sliding_sf01")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("avg_value"))
      .orderBy("window_start")
      .as[(String, Long, Double)].collect().toSeq
    val want = graft.queries.Relational.q26Sliding(spark, "/root/testdata/sf0.1")
      .as[(String, Long, Double)].collect().toSeq
    assert(got.size == want.size, s"${got.size} windows vs batch ${want.size}")
    assert(got == want, "streaming sliding output must equal batch q26 at sf0.1")
  }

  test("streaming sessionize equals batch q27 on the sf0.1 fixture") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = sf01Events
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sessions_sf01")
      .start()
    tsChunks(fixture, 10).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val last = fixture.last.ts.getTime
    mem.addData(Event(-1, new Timestamp(last + 24L * 3600 * 1000), -9, "__flush", 0.0))
    q.processAllAvailable()
    // event-time timeouts fire on the batch AFTER the watermark advance
    mem.addData(Event(-2, new Timestamp(last + 25L * 3600 * 1000), -9, "__flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val got = spark.table("sessions_sf01")
      .as[EventStreams.SessionOut].collect().toSeq
      .filter(_.user_id >= 0)
      .map(s => (s.user_id, fmt.format(s.session_start), s.n_events, s.session_value))
      .sortBy(r => (r._1, r._2))
    val want = graft.queries.Relational.q27Sessionize(spark, "/root/testdata/sf0.1")
      .select("user_id", "session_start", "n_events", "session_value")
      .as[(Long, String, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(got.size == want.size, s"${got.size} sessions vs batch ${want.size}")
    assert(got == want, "streaming sessions must equal batch q27 at sf0.1")
  }

  test("state stays bounded across watermark cycles while rows keep flowing") {
    import graft.tools.StreamBench
    // 16 batches x 1000 rows of simulated event time (400 ms/row -> each
    // batch spans ~6.7 simulated minutes, so the 10-min watermark cycles
    // several times across the run); every id arrives twice
    val nBatches = 16
    val rowsPerBatch = 1000L
    val dedupM = StreamBench.measure(spark,
      EventStreams.dedupEvents(
        StreamBench.syntheticEvents(spark, rowsPerBatch, msPerRow = 400L)
          .withColumn("event_id", (col("event_id") / 2).cast("long")),
        watermark = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sb_spec_dedup").toString)
        .start(), nBatches)
    val totalIds = dedupM.rows / 2
    // eviction proof: ids retained at the end are far fewer than ids
    // seen — without the watermark the dedup set grows to totalIds
    assert(dedupM.finalStateRows > 0 && dedupM.finalStateRows < totalIds / 2,
      s"dedup state ${dedupM.finalStateRows} of $totalIds ids: not evicting")
    assert(dedupM.outputRows == totalIds,
      s"dedup must emit each id once: ${dedupM.outputRows} vs $totalIds")

    // bursty users: active for 20 consecutive rows (40 simulated seconds,
    // one session), then idle ~65 simulated minutes (> the 30-min gap), so
    // sessions close and session state turns over every cycle
    val sessM = StreamBench.measure(spark,
      EventStreams.sessionize(
        StreamBench.syntheticEvents(spark, rowsPerBatch,
          nUsers = 50, burst = 20, msPerRow = 2000L).as[Event],
        watermarkDelay = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sb_spec_sess").toString)
        .start(), nBatches)
    assert(sessM.peakStateRows <= 50,
      s"session state ${sessM.peakStateRows} exceeds the live-user bound 50")
    assert(sessM.outputRows > 100,
      s"only ${sessM.outputRows} sessions closed: watermark never cycled")
    assert(sessM.rows == nBatches * rowsPerBatch)
  }
}
