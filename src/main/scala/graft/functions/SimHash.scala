package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of one doc's shingle array, computed in the row:
  * 64 signed bit counters over the doc's DISTINCT shingles' feature
  * hashes, packed as the sign vector (bit i set iff counter i > 0).
  *
  * Near-duplicate docs (high shingle overlap) land within a small
  * Hamming distance; candidate generation at scale uses the pigeonhole
  * chunking in [[graft.operators.Dedup.simhashPairs]].
  *
  * Feature hash:
  *  - `md5 = false`: Spark's `xxhash64(s)` (seed 42);
  *  - `md5 = true`: [[TextFunctions.hash60]], the first 15 md5 hex
  *    digits as an integer — the first 8 md5 bytes read big-endian,
  *    shifted right by 4 — so a SQL engine can recompute every bit.
  *
  * Bit-for-bit the value the explode + group-by form computed
  * (`array_distinct`, explode, feature hash, one counter aggregate per
  * id). Distinctness is by string, as `array_distinct` has it: two
  * distinct shingles whose hashes collide both count. An array with no
  * non-null element returns null (the group-by form emitted no row for
  * a doc without shingles); null elements, which the shingle
  * expressions never produce, are skipped. */
object SimHash {
  val Bits = 64
}

object SimHashUtil {
  private final val Seed = 42L

  private val md5Digest = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** [[TextFunctions.hash60]] of one string. */
  private def hash60(s: UTF8String): Long = {
    val d = md5Digest.get().digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def simhash(shingles: ArrayData, md5: Boolean): java.lang.Long = {
    val n = shingles.numElements()
    val seen = new java.util.HashSet[UTF8String](n * 2)
    val counters = new Array[Int](SimHash.Bits)
    var s = 0
    while (s < n) {
      if (!shingles.isNullAt(s)) {
        val str = shingles.getUTF8String(s)
        if (seen.add(str)) {
          val h = if (md5) hash60(str) else XXH64.hashUTF8String(str, Seed)
          var i = 0
          while (i < SimHash.Bits) {
            if (((h >>> i) & 1L) == 1L) counters(i) += 1 else counters(i) -= 1
            i += 1
          }
        }
      }
      s += 1
    }
    if (seen.isEmpty) return null
    var r = 0L
    var i = 0
    while (i < SimHash.Bits) { if (counters(i) > 0) r |= (1L << i); i += 1 }
    java.lang.Long.valueOf(r)
  }
}

/** Catalyst expression: 64-bit SimHash of an array<string>, codegen'd
  * as one static [[SimHashUtil]] call per row (no shuffle, no per-group
  * buffer). */
case class SimHashExpr(child: Expression, md5: Boolean) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash needs an array<string> input, got $other")
  }

  override protected def nullSafeEval(a: Any): Any =
    SimHashUtil.simhash(a.asInstanceOf[ArrayData], md5)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val boxed = ctx.freshName("simhashResult")
      s"""
         |java.lang.Long $boxed = graft.functions.SimHashUtil.simhash($a, $md5);
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

object SimHashFn {
  /** simhash(shingles, md5): per-row 64-bit SimHash over the distinct
    * shingles, null for a doc without shingles. */
  def simhash(shingles: Column, md5: Boolean): Column =
    ColumnBridge.column(SimHashExpr(ColumnBridge.expression(shingles), md5))
}
