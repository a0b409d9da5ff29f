package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.Locale

/** Driver-run benchmark: headline queries on SPARK_GRAFT_SF_DIR.
  *
  * Output contract (VERDICT r1/r2, r7 §wrong 3): the FULL record (p50 +
  * raw per-run times + per-query ok + sentinel brackets) is written to
  * `bench_out.json` and appended to BENCH_HISTORY.jsonl; the final
  * stdout line is a COMPACT record (p50 per query, all_ok, failed
  * names, stall verdict) sized to survive the driver's bounded stdout
  * tail intact — BENCH_r07.json archived a truncated 5 KB line with
  * `"parsed": null`, so a reader of the round artifact alone had no
  * per-query data. Run via `tools/bench.sh` (plain JVM — no sbt log
  * prefix can pollute stdout, so the last line is the bare JSON).
  * Failures are never folded into timings: a failing query records `-1`
  * and `"ok":{...false}` and the process exits non-zero.
  *
  * Timing is p50-of-3 per query (VERDICT r2 §wrong 5): this host shows
  * 17-70 s scheduler stalls on warm 1 s queries, so a median with the raw
  * per-run spread in `"raw"` lets the driver/judge see outliers instead
  * of being lied to by them.
  *
  * Harness era (VERDICT r6 §wrong 3): every record carries
  * `"harness":"noop"` — timings materialize the FULL plan through
  * [[graft.core.Sessions.materialize]]'s noop sink. Records WITHOUT the
  * field (BENCH_r01–r05 and pre-r6 history lines) were timed via
  * `df.count()`, which lets zero-column pruning delete prunable subtrees
  * (q120 by 12×, q115 by 2×) — never compare per-query times across the
  * two eras.
  */
object Bench {
  /** Locale-pinned formatting: a comma decimal separator from the host
    * locale would corrupt the JSON (ADVICE r2). */
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt, "bench")
    val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions")
    // Warm up shuffle/codegen machinery and the parquet reader path so
    // one-time infra init isn't charged to the first measured query. Each
    // warm-up is individually guarded: a missing table must not prevent
    // the measured loop from running and emitting the JSON (ADVICE r2 —
    // the failure then shows up as ok:false on the queries that need it).
    try {
      spark.range(1000000).selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").count().count()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup shuffle FAILED: ${e.getMessage}") }
    Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "region" -> graft.core.Tables.region, "nation" -> graft.core.Tables.nation,
      "customer" -> graft.core.Tables.customer, "supplier" -> graft.core.Tables.supplier,
      "part" -> graft.core.Tables.part, "orders" -> graft.core.Tables.orders,
      "lineitem" -> graft.core.Tables.lineitem, "events" -> graft.core.Tables.events,
      "documents" -> graft.core.Tables.documents, "embeddings" -> graft.core.Tables.embeddings)
      .foreach { case (n, t) =>
        try t(spark, sfDir).limit(1).count()
        catch { case e: Throwable => System.err.println(s"[bench] warmup $n FAILED: ${e.getMessage}") }
      }
    // Stall sentinel (VERDICT r4 §wrong 3): this VM's scheduler stalls
    // can elevate a WHOLE session, beating even p50-of-3 — BENCH_r04's
    // apparent 4-5× q25/q27 regressions were VM noise a judge rerun had
    // to disprove. A constant trivial query runs before every measured
    // run; its spread is the session's noise fingerprint. Reference is
    // the session MINIMUM (the unstalled floor) — "2× the first value"
    // fails when the first sentinel itself lands on a stall.
    // min-of-2 back-to-back: a one-off hiccup (e.g. GC from the previous
    // measured query) elevates only one of the pair, while the
    // multi-second scheduler stalls being hunted span both.
    def sentinel(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        try {
          spark.range(500000).selectExpr("id % 997 AS k")
            .groupBy("k").count().count()
        } catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    sentinel() // warm the sentinel's own codegen path before recording
    val names = SparkEntry.headline.filter(SparkEntry.queries.contains)
    val nRuns = 3
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to nRuns).map { _ =>
        val s = sentinel()
        val t0 = System.nanoTime()
        val ok =
          // full materialization, not count(): see Sessions.materialize —
          // count()'s column pruning can delete prunable join subtrees
          // from the measured plan (q120 benched 13x fast-but-wrong)
          try { graft.core.Sessions.materialize(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // drop cache entries OUTSIDE the timed window (round 9): the
        // CacheManager keys entries by logical plan, so a repeat run of
        // the same query in the same session silently REUSES run 1's
        // persist()ed intermediates and reports cache-read speed, not
        // compute speed (the cross-run analogue of the count()-pruning
        // trap). The reuse source here is any internal persist() —
        // PageRank's edge/degree/rank caches most visibly (q68 read ~3 s
        // cached vs 10-25 s honest pre-round-10; ~8 s after the r10
        // truncation fix). The verify family pins via
        // localCheckpoint, whose blocks live OUTSIDE the CacheManager:
        // clearCache() does not free them (Pin.free or
        // ContextCleaner-on-GC do), and it never made them reusable
        // across runs in the first place — each run's checkpoint is a
        // fresh RDD, so the verify legs were honest all along. They DO
        // accumulate: each run's checkpoint blocks linger until driver
        // GC, so the persistent-RDD sweep below frees them too, keeping
        // executor storage flat across the 28-query battery.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        (ok, dt, s)
      }
      val okTimes = runs.filter(_._1).map(_._2).sorted
      val anyOk = okTimes.nonEmpty
      // p50: middle of the sorted ok runs (lower middle for even counts)
      val p50 = if (anyOk) okTimes((okTimes.size - 1) / 2) else -1.0
      (name, anyOk, p50, runs.map(_._2), runs.map(_._3))
    }
    // one trailing sentinel so the LAST measured run is bracketed too —
    // a stall confined to it would otherwise be structurally invisible
    val trailing = sentinel()
    val qs = results.map { case (k, _, v, _, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val raws = results.map { case (k, _, _, r, _) =>
      "\"" + k + "\":" + r.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val oks = results.map { case (k, ok, _, _, _) => "\"" + k + "\":" + ok }
      .mkString("{", ",", "}")
    val allOk = results.forall(_._2)
    val total = results.filter(_._2).map(_._3).sum
    // Per-query sentinel brackets + the stall verdict. Query i's bracket
    // is its own leading sentinels PLUS the next query's first sentinel
    // (the trailing one for the last query) — so every measured run has
    // a sentinel on BOTH sides. The flag uses the bracket MAX, not the
    // median: a stall spanning only the last run(s) of a query corrupts
    // its p50 while elevating just one or two sentinels, which a median
    // would hide (the exact BENCH_r04 failure this mechanism exists to
    // self-flag). MAX over min-of-2 sentinels stays jitter-resistant.
    val allSentinels = results.flatMap(_._5) :+ trailing
    val sentFloor = allSentinels.min
    val sentBrackets = results.zipWithIndex.map { case ((k, _, _, _, s), i) =>
      val next =
        if (i + 1 < results.size) results(i + 1)._5.head else trailing
      k -> (s :+ next)
    }
    // 2× the floor AND at least 500 ms over it: the stalls being detected
    // are multi-second (17-70 s observed), so a relative-only test on a
    // fast floor (~0.3 s) would flag ordinary scheduling jitter — the
    // max statistic is already the sensitive side of this detector.
    val suspects = sentBrackets
      .filter { case (_, s) => val v = s.max; v >= 2.0 * sentFloor && v - sentFloor >= 0.5 }
      .map(_._1)
    val sents = sentBrackets.map { case (k, s) => "\"" + k + "\":" + fmt(s.max) }
      .mkString("{", ",", "}")
    val suspectJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cpus/shuffle_partitions stamped (ADVICE r13): an 8-core sanity leg
    // and a local[32] headline run were indistinguishable in
    // BENCH_HISTORY without them — the same blind-comparison hazard
    // ScaleBench's parts/driver_mem_gb stamps fixed.
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","harness":"noop","cache_cleared":true,"cpus":$cpus,"shuffle_partitions":$shuffleParts,"queries":$qs,"raw":$raws,"ok":$oks,"all_ok":$allOk,"sentinel_floor":${fmt(sentFloor)},"sentinel_max":$sents,"stall_suspect":$suspectJson,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench_out.json"), json + "\n")
    // Durable history (ADVICE r5): bench_out.json is overwritten every
    // run and the driver's archived artifact stays unparsed on rc!=0 —
    // append every run (timestamped, including failed ones) so no
    // session's machine-readable data is ever lost.
    val stamped = s"""{"ts":"${java.time.Instant.now()}",""" + json.drop(1)
    Files.write(Paths.get("BENCH_HISTORY.jsonl"), (stamped + "\n").getBytes,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
    // Final line on stdout, after spark.stop() so no executor shutdown
    // chatter can interleave behind it. COMPACT (~1.2 KB at 28 queries):
    // the driver archives only a bounded stdout tail, and the full
    // record's raw/ok/sentinel maps pushed the line past it.
    val failing = results.filterNot(_._2).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","harness":"noop","cache_cleared":true,"cpus":$cpus,"queries":$qs,"all_ok":$allOk,"failed":$failing,"sentinel_floor":${fmt(sentFloor)},"stall_suspect":$suspectJson,"sf":"$sfDir","full_record":"bench_out.json"}""")
    if (!allOk) sys.exit(1)
  }
}
