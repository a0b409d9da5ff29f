package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StorageBridge
import graft.SparkSpec

class PinSpec extends SparkSpec {

  /** 100 rows cut from a 10^5 × 10^5 join: the optimizer's estimate for
    * it is the join's (hundreds of GB), its real size a few KB. */
  private def smallCutOfBigJoin(): DataFrame = {
    val a = spark.range(100000).select(col("id").as("k"))
    val b = spark.range(100000).select(col("id").as("k2"))
    a.join(b, col("k") === col("k2")).filter(col("k") < 100).select("k")
  }

  private def semiJoinPlan(ids: DataFrame): SparkPlan =
    spark.range(100000).select(col("id").as("k"), (col("id") * 7).as("v"))
      .join(ids, Seq("k"), "left_semi")
      .queryExecution.sparkPlan

  private def joins(p: SparkPlan): Seq[String] = p.collect {
    case _: BroadcastHashJoinExec => "bhj"
    case _: SortMergeJoinExec => "smj"
  }

  test("a pinned small frame reports its stored size and plans a broadcast join") {
    val pinned = Pin(smallCutOfBigJoin())
    val size = pinned.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < 1024 * 1024, s"pinned 100-row frame reports $size bytes")
    assert(joins(semiJoinPlan(pinned)) == Seq("bhj"))
    assert(pinned.count() == 100)
    Pin.free(pinned)
  }

  test("a raw localCheckpoint keeps the pre-materialization estimate (why Pin exists)") {
    val raw = smallCutOfBigJoin().localCheckpoint()
    val size = raw.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > (BigInt(1L) << 30), s"raw checkpoint reports $size bytes")
    assert(joins(semiJoinPlan(raw)) == Seq("smj"))
    Pin.free(raw)
  }

  test("an empty pinned frame reports 1 byte") {
    val empty = Pin(spark.range(0).toDF())
    assert(empty.queryExecution.optimizedPlan.stats.sizeInBytes == 1)
    Pin.free(empty)
  }

  /** `body`'s result and the ids of the RDDs it left persistent. */
  private def pinnedIds(body: => DataFrame): (DataFrame, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = body
    (df, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  test("Pin.free leaves none of its RDDs persistent, and so does the tools' sweep") {
    val sc = spark.sparkContext
    val (freed, ids) = pinnedIds(Pin(smallCutOfBigJoin()))
    assert(ids.nonEmpty)
    Pin.free(freed)
    assert(ids.intersect(sc.getPersistentRDDs.keySet).isEmpty)
    // the timing tools reset between runs by sweeping every persistent
    // RDD; the pinned frame's LogicalRDD is a copy over the same RDD, so
    // the sweep reaches its blocks too
    val (_, sweptIds) = pinnedIds(Pin(smallCutOfBigJoin()))
    graft.tools.Timing.reset(spark)
    assert(sweptIds.forall(id => StorageBridge.storedBytes(id) == 0))
  }

  test("Pin.free on a join of two pins frees both RDDs and leaves a third, unrelated pin resident") {
    val sc = spark.sparkContext
    val (a, aIds) = pinnedIds(Pin(spark.range(100).select(col("id").as("k"))))
    val (b, bIds) = pinnedIds(Pin(spark.range(50)
      .select(col("id").as("k"), (col("id") * 2).as("v"))))
    val (other, otherIds) = pinnedIds(Pin(spark.range(10).toDF()))
    assert(aIds.nonEmpty && bIds.nonEmpty && otherIds.nonEmpty)
    val joined = a.join(b, Seq("k"))
    assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until 50L).map(k => (k, 2 * k)))
    Pin.free(joined)
    val live = sc.getPersistentRDDs.keySet
    assert((aIds ++ bIds).intersect(live).isEmpty, "a pin the join reads is still persistent")
    assert(otherIds.subsetOf(live), "a pin the join does not read was freed")
    assert(other.collect().map(_.getLong(0)).toSeq == (0L until 10L))
    Pin.free(other)
  }
}
