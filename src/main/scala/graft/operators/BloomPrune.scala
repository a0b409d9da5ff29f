package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter join pruning: drop most of a huge table's non-matching
  * rows BEFORE the join shuffle, using a compact sketch of the other
  * side's keys. This is the manual, composable form of Spark's own
  * AQE runtime filter (`InjectRuntimeFilter`), built from the same
  * Catalyst primitives (`BloomFilterAggregate` / `BloomFilterMightContain`,
  * both codegen'd — no Scala UDF in the scan path):
  *
  *   1. aggregate the small side's xxhash64'd keys into one bloom filter —
  *      a distributed partial+final aggregation, so executors each build a
  *      partial sketch and only sketches merge;
  *   2. the merged filter (the only thing that ever reaches the driver —
  *      `numBits/8` bytes, like any broadcast) is inlined as a constant
  *      into a `might_contain` predicate on the big side's scan;
  *   3. survivors go through the EXACT semi-join, so false positives
  *      never reach the output — the bloom stage only cuts shuffle volume.
  *
  * At 100 TB the win is step 2: a selective dimension predicate prunes
  * the fact scan down to ~|matches| + fpp·|table| rows pre-shuffle,
  * instead of shuffling the full fact table into the join. NULL keys
  * behave exactly like the semi-join: `might_contain(bf, NULL)` is NULL,
  * so they are filtered — and a semi-join never matches NULL either. */
object BloomPrune {

  /** Build the small side's key sketch (distributed agg, driver gets only
    * the merged `numBits/8`-byte filter). None when the side has no
    * non-null keys (the aggregate yields no filter). */
  def keyFilterBytes(keys: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): Option[Array[Byte]] = {
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(math.max(expectedItems, 1L), fpp)
    val agg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col(keyCol))),
      Literal(math.max(expectedItems, 1L)), Literal(numBits))
      .toAggregateExpression()
    Option(keys.select(ColumnBridge.column(agg).as("bf"))
      .head().getAs[Array[Byte]](0))
  }

  /** Codegen'd `might_contain(filter, xxhash64(key))` predicate. */
  def mightContain(filterBytes: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(filterBytes, BinaryType),
      ColumnBridge.expression(xxhash64(key))))

  /** Exact semi-join with a bloom-pruned shuffle: semantically identical
    * to `big.join(small, keys, "left_semi")`, but the big side is cut to
    * bloom survivors before any exchange. The sketch is sized from the
    * data — one counting job over the small side's non-null keys, then a
    * filter for that many items at 0.01 fpp (≈ 1.2 MB per million keys) —
    * so it neither saturates nor inlines a mostly-empty literal into the
    * plan. */
  def semiJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String): DataFrame = {
    val keys = small.select(smallKey)
    val nKeys = keys.agg(count(col(smallKey))).head().getLong(0)
    keyFilterBytes(keys, smallKey, nKeys) match {
      case None => big.limit(0) // no keys — a semi-join matches nothing
      case Some(bytes) =>
        big.filter(mightContain(bytes, col(bigKey)))
          .join(small.select(col(smallKey).as(bigKey)).distinct(), Seq(bigKey), "left_semi")
    }
  }
}
