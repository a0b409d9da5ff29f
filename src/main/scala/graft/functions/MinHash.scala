package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression,
  UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Per-row MinHash signature of one doc's shingle array — the summary
  * [[graft.operators.Dedup.minhashSignatures]] computes in the row that
  * carries the doc, instead of exploding one row per shingle and
  * regrouping them by id with k `min` aggregates.
  *
  * Bit-for-bit the group-by form's value: component i is the minimum
  * over the doc's shingles s of Spark's `xxhash64(lit(i), xxhash64(s))`,
  * i.e. `XXH64.hashLong(XXH64.hashUTF8String(s, 42), XXH64.hashInt(i, 42))`
  * — XxHash64 folds its children left to right, each child's hash
  * seeding the next, from the default seed 42. The string is hashed once
  * and each of the k components rehashes the 8-byte value. Repeated
  * shingles cannot change a minimum, so no distinct is needed.
  *
  * An array with no non-null element returns null (the group-by form
  * emits no row for a doc without shingles; callers filter the null).
  * Null elements, which the shingle expressions never produce, are
  * skipped. */
object MinHashUtil {
  private final val Seed = 42L

  def signature(shingles: ArrayData, k: Int): ArrayData = {
    val seeds = new Array[Long](k)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < k) { seeds(i) = XXH64.hashInt(i, Seed); i += 1 }
    var seen = false
    var s = 0
    while (s < shingles.numElements()) {
      if (!shingles.isNullAt(s)) {
        seen = true
        val h = XXH64.hashUTF8String(shingles.getUTF8String(s), Seed)
        i = 0
        while (i < k) {
          val m = XXH64.hashLong(h, seeds(i))
          if (m < mins(i)) mins(i) = m
          i += 1
        }
      }
      s += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }
}

/** Catalyst expression: k-component MinHash signature of an
  * array<string>, codegen'd as one static [[MinHashUtil]] call per row,
  * so HotSpot compiles the hash loop once per JVM rather than once per
  * generated class. */
case class MinHashExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"MinHash needs k >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash needs an array<string> input, got $other")
  }

  override protected def nullSafeEval(a: Any): Any =
    MinHashUtil.signature(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = graft.functions.MinHashUtil.signature($a, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
    copy(child = newChild)
}

object MinHashFn {
  /** minhash(shingles, k): per-row MinHash signature, null for a doc
    * without shingles. */
  def minhash(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashExpr(ColumnBridge.expression(shingles), k))
}
