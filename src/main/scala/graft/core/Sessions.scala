package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: tests, Verify, Bench and the tool
  * mains build their session here (GenScale, the benchmark's corpus
  * generator, keeps its own), so tests behave like the Verify and Bench
  * runs: UTC session time zone (oracle parity), AQE on (runtime re-plan
  * / skew handling at scale), shuffle partitions sized to the local core
  * count rather than the 200 default.
  */
object Sessions {

  /** Execute a query FULLY for timing purposes — every output column of
    * every output row — via the noop sink.
    *
    * `df.count()` is NOT that: Catalyst optimizes the count as its own
    * plan, and column pruning down to zero columns lets the optimizer
    * drop whole subtrees — a left join whose right side has unique join
    * keys (any groupBy aggregate) is eliminated entirely when only the
    * row count is needed. Measured on q120 (batch left-joined against
    * two blame aggregates): count() benched 0.36 s while the honest
    * materialization runs ~4.5 s at sf0.1 — the entire dedup pipeline
    * was being optimized away, and the same hazard applies to ANY
    * benched query ending in a prunable join or projection. The noop
    * sink runs the plan exactly as a real parquet write would, minus
    * the I/O. */
  def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def local(cores: Int = 4, appName: String = "graft-test"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // deep-decade measurement sessions scale the shuffle width with the
      // data (README measurement protocol; on a real cluster the width
      // follows the data — PARTPROBE_r08 measured the fixed-width spill
      // term at +0.25 of wall exponent at the g100 decade)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cores.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
