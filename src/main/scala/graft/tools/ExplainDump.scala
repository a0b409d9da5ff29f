package graft.tools

import java.nio.file.{Files, Paths}

import graft.core.Sessions

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round plan evidence (`plans/rNN/<query>_{before,after}.txt`).
  * The judge cannot run Spark; these files are how plan claims ("2
  * Exchange → 1", "PushedFilters includes X") are checked against the code.
  * A "before" plan comes from the same dump run on the parent commit.
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> [names]
  *   names   comma-separated SparkEntry.queries keys (default: all)
  *   suffix  appended to the file name: <query>_<suffix>.txt
  *
  * Plans are captured UNEXECUTED (the logical->physical compile only, AQE
  * isFinalPlan=false) — that is the shape the round's claims are about:
  * Exchange count, join strategy, PushedFilters/ReadSchema, codegen spans.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExplainDump <sfDir> <outDir> <suffix> [names]")
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[explaindump] wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
      // free anything a query pinned at BUILD time (the dedup family's
      // verify checkpoints etc.) so successive dumps don't accumulate
      // blocks
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
