package graft.tools

import graft.core.Sessions

/** Ad-hoc query timer for same-session A/B work: runs declared queries
  * N times against a data directory and prints per-run wall seconds.
  * Bench/ScaleBench own the round artifacts; this answers "is query A
  * faster than query B" under shared box weather.
  *
  * Usage: tools/run.sh graft.tools.TimeQuery [--interleave] <dir> <name>[,name...] [runs]
  * Names: any SparkEntry.queries key. --interleave: round-robin the
  * names per run index so cross-query deltas share box weather — see
  * main.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    // fail fast on unknown flags (ADVICE r11): a typo'd --interleave
    // silently running the sequential schedule would invalidate a
    // same-weather delta protocol with no signal
    require(flags.subsetOf(Set("--interleave")),
      s"unknown flags: ${(flags -- Set("--interleave")).mkString(", ")}")
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.length >= 2,
      "usage: TimeQuery [--interleave] <dir> <name>[,name...] [runs]")
    val (dir, names) = (pos(0), pos(1).split(",").toSeq)
    val runs = if (pos.length > 2) pos(2).toInt else 2
    // --interleave (round 11): run round-robin over the name list
    // (run1 of every name, then run2 of every name, ...) instead of
    // all runs of name1 first. Cross-query DELTAS then compare runs
    // taken minutes apart under the same box weather — this box's
    // slow drift (~1.4x across one morning) made sequential
    // arithmetic mushy twice before this flag existed.
    val interleave = flags.contains("--interleave")
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "timequery")
    spark.sparkContext.setLogLevel("ERROR")
    // absorb the fresh-JVM classload/codegen cost (~9 s measured) so
    // run1 of the first name isn't charged for it; VM stall waves can
    // still hit the first window, so the protocol stays p50 + per-leg
    // minima
    spark.range(1000000).selectExpr("id % 97 AS k").groupBy("k").count().count()
    val schedule: Seq[(String, Int)] =
      if (interleave) for (i <- 1 to runs; n <- names) yield (n, i)
      else for (n <- names; i <- 1 to runs) yield (n, i)
    schedule.foreach { case (name, i) =>
      val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      val t0 = System.nanoTime()
      // noop-sink materialization (Sessions.materialize): count() lets
      // the optimizer prune work out of the timed plan
      Sessions.materialize(fn(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      // outside the timed window: cache entries are keyed by logical
      // plan, so without this a repeat run reuses the previous run's
      // persisted intermediates and reports cache-read speed
      spark.catalog.clearCache()
      // clearCache() frees only CacheManager entries — localCheckpoint
      // blocks live outside it and otherwise accumulate across repeat
      // runs until a driver GC. Unpersisting every still-persistent RDD
      // frees the checkpoint blocks of queries that pin internally
      // (q35/q97/q119/q120), symmetrically for every query. Safe here:
      // nothing re-executes a prior run's plan.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      println(f"[timequery] $name run$i $dt%.2f s")
    }
    spark.stop()
  }
}
