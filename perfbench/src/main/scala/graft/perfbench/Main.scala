package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the pass records. `ops` are the user-visible operations (queries,
  * pipeline stages, stream batches) with their latency in seconds. */
final class PassCtx(val spark: SparkSession, val trace: Trace, val traced: Boolean,
    val root: Span, val outDir: String) {
  val ops = mutable.ArrayBuffer.empty[(String, Double)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val oracle = mutable.ArrayBuffer.empty[(String, String)]
  val extra = mutable.Map.empty[String, Double]
  var planS = 0.0
  var attempted = 0L
  var failed = 0L

  /** Time one operation; in a traced pass it is also a span. A throw is
    * counted as a failed operation and rethrown. */
  def op[T](name: String, parent: Long = -1L)(body: => T): T = {
    val t0 = System.nanoTime()
    synchronized(attempted += 1)
    try {
      val r = span(name, parent)(body)
      synchronized(ops += ((name, (System.nanoTime() - t0) / 1e9)))
      r
    } catch {
      case NonFatal(e) =>
        synchronized(failed += 1)
        checks.synchronized(checks += ((name, false, s"threw: $e")))
        throw e
    }
  }

  /** A traced grouping that is not itself an operation. Untraced passes
    * still tag the thread with the pass root so its tasks are counted. */
  def span[T](name: String, parent: Long = -1L)(body: => T): T =
    if (traced) trace.span(name, parent)(body)
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Probe.SpanKey)
      sc.setLocalProperty(Probe.SpanKey, root.id.toString)
      try body finally sc.setLocalProperty(Probe.SpanKey, prev)
    }

  def assertThat(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks.synchronized {
      checks += ((name, ok, if (ok) "" else detail))
      if (!ok) synchronized(failed += 1)
    }

  /** Planning time, forced before execution; traced passes only. */
  def plan(df: DataFrame): Unit = if (traced) {
    val t0 = System.nanoTime()
    df.queryExecution.executedPlan
    planS += (System.nanoTime() - t0) / 1e9
  }

  /** Run a query to completion; its rows go to parquet for the DuckDB
    * comparison after the pass. */
  def execute(name: String, df: DataFrame): Unit = {
    plan(df)
    val dir = s"$outDir/$name"
    df.write.mode("overwrite").parquet(dir)
    oracle += ((name, dir))
  }
}

/** One workload over inputs generated before the JVM starts. */
trait Workload {
  /** Open the inputs in a fresh session (part of set-up). */
  def open(spark: SparkSession): Unit
  def pass(ctx: PassCtx): Unit
  /** Bookkeeping that needs the pass's listener events; not timed. */
  def afterPass(ctx: PassCtx, probe: Probe): Unit = ()
  /** Per-layer metrics of the traced pass (after the timed window). */
  def layers(spark: SparkSession, probe: Probe, trace: Trace, pass: PassCtx): Map[String, Double]
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 15

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** CPU time the hypervisor gave to other guests, per CPU, in seconds
    * since boot (0 where /proc/stat has no steal column). Printed beside
    * each pass: on a shared VM it is what makes one run slower than the
    * next. */
  def stealSeconds(): Double = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) 0.0
    else {
      val lines = new String(Files.readAllBytes(p), StandardCharsets.US_ASCII).split("\n")
      val cpus = lines.count(l => l.startsWith("cpu") && !l.startsWith("cpu "))
      lines.find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toDouble / 100.0 / math.max(1, cpus)).getOrElse(0.0)
    }
  }

  /** CPU time of every thread of this JVM so far, in seconds. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
  }

  /** Drop everything the pass pinned, so the checks and per-layer passes
    * after it read their inputs from storage. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def arg(args: Array[String], key: String, default: String): String = {
    val i = args.indexOf(s"--$key")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonObj(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workloadName = arg(args, "workload", "")
    val seed = arg(args, "seed", "1").toLong
    val traced = arg(args, "trace", "0") == "1"
    val data = arg(args, "data", "")
    val work = arg(args, "work", "")
    val out = arg(args, "out", "")
    val size = arg(args, "size", "0").toDouble
    require(data.nonEmpty && work.nonEmpty && out.nonEmpty, "--data, --work and --out are required")

    val workload: Workload = workloadName match {
      case "etl_relational" => new EtlRelational(data)
      case "dedup_corpus"   => new DedupCorpus(data)
      case "arxiv_pipeline" => new ArxivPipelineWorkload(data, work)
      case "stream_dedup"   => new StreamDedup(work, seed, size.toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark = session()

    // set-up, Setups times: a fresh session that opens the workload's inputs;
    // the first counts from JVM start. Set-ups and passes are measured in
    // CPU seconds of the whole JVM: on a shared VM, time the hypervisor
    // gives to other guests stretches wall time by up to 2x from one run to
    // the next, and is not charged to this process (README, Metrics).
    val setups = mutable.ArrayBuffer.empty[Double]
    val setupWalls = mutable.ArrayBuffer.empty[Double]
    workload.open(spark)
    setupWalls += (System.currentTimeMillis() - jvmStart) / 1000.0
    setups += cpuSeconds()
    for (_ <- 2 to Setups) {
      val t = System.nanoTime()
      val c = cpuSeconds()
      stopSession(spark)
      spark = session()
      workload.open(spark)
      setupWalls += (System.nanoTime() - t) / 1e9
      setups += cpuSeconds() - c
    }

    val probe = new Probe(spark.sparkContext)
    val trace = new Trace(spark.sparkContext)

    // Timed window: one pass in a fresh JVM, as the batch job runs when it
    // is launched. It is also the output-check pass; the comparisons run
    // after it. A traced run times its traced pass.
    val root = trace.add("pass", 0L, System.currentTimeMillis(), 0L)
    val ctx = new PassCtx(spark, trace, traced, root, s"$work/out")
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.SpanKey, root.id.toString)
    val steal0 = stealSeconds()
    val cpu0 = cpuSeconds()
    val t0 = System.nanoTime()
    try workload.pass(ctx)
    catch { case NonFatal(e) => ctx.assertThat("pass completes", ok = false, e.toString) }
    finally sc.setLocalProperty(Probe.SpanKey, null)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds() - cpu0
    val steal = stealSeconds() - steal0
    root.end = System.currentTimeMillis()
    release(spark)
    probe.drain()
    try trace.span("checks")(workload.afterPass(ctx, probe))
    catch { case NonFatal(e) => ctx.assertThat("checks complete", ok = false, e.toString) }
    probe.drain()

    val passTotals = probe.total(trace.subtree(root.id))
    val e2e = Seq(
      "setup_s" -> (median(setups.toSeq), "s"),
      "cpu_s" -> (cpu, "s"),
      "shuffle_mb" -> (passTotals.shuffleWrite / 1e6, "MB"))

    val layer: Map[String, Double] = if (!traced) Map.empty else {
      // What tracing adds to a pass is the work on the submitting thread
      // that an untraced pass skips: forcing each plan before its run and the span
      // bookkeeping (the listener runs in both).
      val added = ctx.planS + trace.bookkeepingSeconds
      val base = trace.span("layers")(workload.layers(spark, probe, trace, ctx))
      probe.drain()
      base ++ Map(
        "plans.plan_s" -> ctx.planS,
        "trace.wall_s" -> wall,
        "trace.overhead_frac" -> added / (wall - added),
        "trace.busy_s" -> passTotals.busyMs / 1000.0,
        "trace.peak_task_mem_mb" -> passTotals.peakMem / 1e6,
        "trace.wait_s" -> passTotals.waitMs / 1000.0)
    }

    // span dump, with self time and inclusive task counts
    val spanJson = trace.all.map { s =>
      val c = probe.total(trace.subtree(s.id))
      jsonObj(Seq("id" -> s.id.toString, "name" -> jsonStr(s.name),
        "parent" -> s.parent.toString, "start_ms" -> s.start.toString,
        "end_ms" -> s.end.toString, "self_s" -> jsonNum(trace.selfSeconds(s)),
        "busy_s" -> jsonNum(c.busyMs / 1000.0), "wait_s" -> jsonNum(c.waitMs / 1000.0),
        "shuffle_mb" -> jsonNum(c.shuffleWrite / 1e6), "spill_mb" -> jsonNum(c.spill / 1e6),
        "input_mb" -> jsonNum(c.input / 1e6), "write_mb" -> jsonNum(c.output / 1e6),
        "tasks" -> c.tasks.toString, "failed_tasks" -> c.failedTasks.toString))
    }
    val everything = probe.grandTotal
    val result = jsonObj(Seq(
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "setups_s" -> setups.map(jsonNum).mkString("[", ",", "]"),
      "wall_s" -> jsonNum(wall),
      "steal_s" -> jsonNum(steal),
      "cpu_s" -> jsonNum(cpu),
      "setup_walls_s" -> setupWalls.map(jsonNum).mkString("[", ",", "]"),
      "e2e" -> jsonObj(e2e.map { case (k, (v, u)) =>
        k -> jsonObj(Seq("value" -> jsonNum(v), "unit" -> jsonStr(u))) }),
      "layer" -> jsonObj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> jsonNum(v) }),
      "checks" -> ctx.checks.map { case (n, ok, d) =>
        jsonObj(Seq("name" -> jsonStr(n), "ok" -> ok.toString, "detail" -> jsonStr(d))) }
        .mkString("[", ",", "]"),
      "oracle" -> ctx.oracle.map { case (n, d) =>
        jsonObj(Seq("name" -> jsonStr(n), "dir" -> jsonStr(d),
          "sql" -> jsonStr(graft.SparkEntry.oracleSql.getOrElse(n, "")))) }.mkString("[", ",", "]"),
      "listener_total" -> jsonObj(Seq(
        "busy_s" -> jsonNum(everything.busyMs / 1000.0),
        "shuffle_mb" -> jsonNum(everything.shuffleWrite / 1e6),
        "unattributed_tasks" -> probe.total(_ == 0L).tasks.toString)),
      "spans" -> spanJson.mkString("[", ",", "]")))
    new File(out).getParentFile.mkdirs()
    Files.write(Paths.get(out), result.getBytes(StandardCharsets.UTF_8))
    stopSession(spark)
  }
}
