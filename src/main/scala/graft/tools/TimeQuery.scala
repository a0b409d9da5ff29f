package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Sessions, Tables}
import graft.operators.{CoOccur, Dedup}
import graft.queries.TextQueries

/** Ad-hoc query timer for same-session A/B work: runs declared queries
  * (or one of the open-decision arms below) N times against a data
  * directory and prints per-run wall seconds. Bench/ScaleBench own the
  * round artifacts; this answers "is arm A faster than arm B" under
  * shared box weather.
  *
  * Usage: tools/run.sh graft.tools.TimeQuery [--interleave] <dir> <name>[,name...] [runs]
  * (--interleave: round-robin the names per run index so cross-arm
  * deltas share box weather — see main)
  * Names: any SparkEntry.queries key, plus the arms of the two open
  * form decisions (ROADMAP's bucket-pair item):
  *   q34_stage, q44_stage         — the shingle frame staged once as zstd
  *                                  parquet instead of rescanned
  *   q44_groups, q44_stage_groups — the grouped candidate join, with the
  *                                  rescanned and with the staged frame
  *   q21_join, q21_groups_expr    — q21's pair generation as a self-join
  *                                  and as per-key codegen pair emission
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
    // all runs of name1 first. Cross-arm DELTAS then compare runs
    // taken minutes apart under the same box weather — this box's
    // slow drift (~1.4x across one morning) made sequential-arm
    // arithmetic mushy twice before this flag existed.
    val interleave = flags.contains("--interleave")
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "timequery")
    spark.sparkContext.setLogLevel("ERROR")
    // The "stage" shingle-form arms: the staging write runs while the
    // frame is built, and its shuffle files (hot-df aggregate +
    // anti-join) are only deleted after a driver GC lets the
    // ContextCleaner see them unreachable. On the disk-bound decades the
    // form exists for, reclaiming them before the rest of the timed plan
    // shuffles is the point, so the arm requests a GC right after
    // building (advisory: a no-op under -XX:+DisableExplicitGC; library
    // code never forces a GC). A staged directory the arm's frame still
    // reads is deleted by the per-run sweep below.
    val stagedFrees = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def staged(df: DataFrame, free: () => Unit = () => ()): DataFrame = {
      System.gc()
      stagedFrees += free
      df
    }
    def q21(viaGroups: Boolean)(s: SparkSession, d: String): DataFrame = {
      val li = Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      (if (viaGroups) CoOccur.pairsViaGroups(li, "l_partkey", "l_suppkey",
          minShared = 2L, maxItemsPerKey = 64L)
        else CoOccur.pairs(li, "l_partkey", "l_suppkey",
          minShared = 2L, maxItemsPerKey = 64L))
        .orderBy("item_a", "item_b")
    }
    val arms: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q34_stage" -> ((s, d) => {
        val (df, free) = Dedup.ngramJaccardForm(Tables.documents(s, d), 3,
          0.5, "doc_id", "text", TextQueries.MaxShingleDf, "stage")
        staged(df, free).orderBy("id_a", "id_b")
      }),
      "q44_stage" -> ((s, d) => staged(TextQueries.q44WithForm(s, d, "stage"))),
      "q44_groups" -> ((s, d) => TextQueries.q44WithForm(s, d, "rescan", "groups")),
      "q44_stage_groups" -> ((s, d) =>
        staged(TextQueries.q44WithForm(s, d, "stage", "groups"))),
      "q21_join" -> q21(viaGroups = false),
      "q21_groups_expr" -> q21(viaGroups = true))
    // absorb the fresh-JVM classload/codegen cost (~9 s measured) so
    // run1 of the first name isn't charged for it; VM stall waves can
    // still hit the first window, so the protocol stays p50 + per-leg
    // minima
    spark.range(1000000).selectExpr("id % 97 AS k").groupBy("k").count().count()
    val all = graft.SparkEntry.queries ++ arms
    val schedule: Seq[(String, Int)] =
      if (interleave) for (i <- 1 to runs; n <- names) yield (n, i)
      else for (n <- names; i <- 1 to runs) yield (n, i)
    schedule.foreach { case (name, i) =>
      val fn = all.getOrElse(name, sys.error(s"unknown query $name"))
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
      // (q35/q97/q119/q120), symmetrically for every leg. Safe here:
      // nothing re-executes a prior run's plan.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      stagedFrees.foreach(_())
      stagedFrees.clear()
      println(f"[timequery] $name run$i $dt%.2f s")
    }
    spark.stop()
  }
}
