package graft.tools

import java.util.Locale

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Sessions

/** The timing harness shared by Bench, ScaleBench and TimeQuery: the
  * tool session, the cold-JVM warm-up, the query-name lookup and one
  * timed run of a declared query with its reset. ExplainDump and Verify
  * use the lookup and ExplainDump the reset; CandVol, StreamBench
  * and GenScale build their session here too.
  */
object Timing {

  /** The tool session: [[Sessions.local]] at `SPARK_GRAFT_CPUS` cores
    * (default 32). Unpersisting a local checkpoint logs "its lineage has
    * been truncated" at WARN through the checkpointed RDD's class logger,
    * MapPartitionsRDD for a `Dataset.localCheckpoint` (69 of the 70 WARN
    * lines of a 4-core Bench run at sf0.01). They push real signal out of
    * a bounded output tail, so tool sessions log that one logger at
    * ERROR. */
  def session(appName: String): SparkSession = {
    val spark = Sessions.local(cpus, appName)
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Absorb the fresh JVM's classload and codegen cost (~9 s measured)
    * in one untimed shuffle, so the first timed run is not charged for
    * it. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("id % 97 AS k").groupBy("k").count().count()

  /** The declared queries named, in order; an unknown name fails before
    * anything runs, naming every unknown name. */
  def lookup(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    names.map(n => n -> graft.SparkEntry.queries(n))
  }

  /** One timed run: its wall seconds and its error, if it threw. */
  final case class Run(seconds: Double, failure: Option[Throwable]) {
    def ok: Boolean = failure.isEmpty
    /** The seconds of a run that succeeded; a failed run rethrows. */
    def get: Double = failure.fold(seconds)(e => throw e)
  }

  /** Time one full materialization of `query` (every column of every
    * row, through [[Sessions.materialize]]: `count()` lets the optimizer
    * prune work out of the timed plan), then [[reset]] outside the timed
    * window, whether or not the run threw. */
  def run(spark: SparkSession)(query: => DataFrame): Run = {
    val t0 = System.nanoTime()
    val failure =
      try { Sessions.materialize(query); None }
      catch { case e: Throwable => Some(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    reset(spark)
    Run(seconds, failure)
  }

  /** Drop what one run left behind, so the next run computes from
    * scratch and does not share storage with it.
    *
    * The CacheManager keys entries by logical plan, so a repeat run of a
    * query silently reuses the previous run's `persist()`ed
    * intermediates and reports cache-read speed (q68's PageRank read
    * ~3 s cached against ~8 s computed). `clearCache()` drops those.
    * Pinned checkpoints ([[graft.core.Pin]]) live outside the
    * CacheManager: they are fresh RDDs each run, so never reused, but
    * their blocks accumulate until a driver GC; unpersisting every
    * persistent RDD frees them. The unpersist BLOCKS: a non-blocking one
    * returns before the blocks are gone, and removing a deep-decade
    * working set then overlaps the next timed run. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Median of `xs` (lower middle for an even count); -1 when empty. */
  def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0 else xs.sorted.apply((xs.size - 1) / 2)

  /** Seconds to 3 decimals, locale-pinned: a host locale's comma
    * decimal separator would corrupt the JSON records. */
  def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
}
