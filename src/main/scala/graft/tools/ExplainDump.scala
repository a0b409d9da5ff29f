package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ListenerBridge

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
  * The query's own plan is captured UNEXECUTED (the logical->physical
  * compile only, AQE isFinalPlan=false) — that is the shape the round's
  * claims are about: Exchange count, join strategy, PushedFilters/
  * ReadSchema, codegen spans. A query that pins an intermediate while it
  * is built (the verify-leg family's eager candidate checkpoints) reads
  * only the checkpoint there, so every SQL execution that building the
  * query ran follows it in the same file, in start order, with the plan
  * it started from (the execution's `physicalPlanDescription`, formatted
  * mode, AQE isFinalPlan=false). The executed AQE plans are not used:
  * their stage and codegen ids follow the order stages happened to
  * finish in, so two runs of one commit differ.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExplainDump <sfDir> <outDir> <suffix> [names]")
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val queries = Timing.lookup(
      if (args.length > 3) args(3).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted)
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val built = new ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => built.add(s.physicalPlanDescription)
        case _ =>
      }
    })
    queries.foreach { case (name, fn) =>
      // the bus delivers events late: drain it before the build so
      // nothing of the previous query counts, and after it so every
      // build-time execution has arrived
      ListenerBridge.drain(spark.sparkContext)
      built.clear()
      val df = fn(spark, sfDir)
      ListenerBridge.drain(spark.sparkContext)
      val buildPlans = built.asScala.toSeq.zipWithIndex.map { case (plan, i) =>
        s"\n== Build-time execution ${i + 1} ==\n$plan"
      }
      val txt = (df.queryExecution.explainString(FormattedMode) +: buildPlans).mkString
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[explaindump] wrote $outDir/${name}_$suffix.txt " +
        s"(${txt.length} chars, ${buildPlans.size} build-time executions)")
      // free anything a query pinned at BUILD time (the dedup family's
      // verify checkpoints etc.) so successive dumps don't accumulate
      // blocks
      Timing.reset(spark)
    }
    spark.stop()
  }
}
