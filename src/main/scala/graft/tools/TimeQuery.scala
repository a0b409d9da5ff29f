package graft.tools

/** Ad-hoc query timer for same-session A/B work: runs declared queries
  * N times against a data directory and prints per-run wall seconds.
  * Bench/ScaleBench own the round artifacts; this answers "is query A
  * faster than query B" under shared box weather.
  *
  * Usage: tools/run.sh graft.tools.TimeQuery <dir> <name>[,name...] [runs]
  * Names: any SparkEntry.queries key. The schedule is interleaved: run 1
  * of every name, then run 2 of every name, and so on, so cross-query
  * deltas compare runs taken under the same box weather (this box's slow
  * drift, ~1.4x across one morning, made all-runs-of-one-name-first
  * arithmetic mushy twice).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    // a flag (the retired --interleave among them) fails loudly rather
    // than being read as a data directory
    require(!args.exists(_.startsWith("--")),
      "TimeQuery takes no flags: it always interleaves the names per run")
    require(args.length >= 2, "usage: TimeQuery <dir> <name>[,name...] [runs]")
    val dir = args(0)
    val queries = Timing.lookup(args(1).split(",").toSeq)
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Timing.session("timequery")
    // VM stall waves can still hit the first window after the warm-up,
    // so the protocol stays p50 + per-leg minima
    Timing.warmUp(spark)
    for (i <- 1 to runs; (name, fn) <- queries) {
      val dt = Timing.run(spark)(fn(spark, dir)).get
      println(f"[timequery] $name run$i $dt%.2f s")
    }
    spark.stop()
  }
}
