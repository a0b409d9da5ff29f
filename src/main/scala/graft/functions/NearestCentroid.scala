package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Nearest-centroid argmin over a per-cell centroid family — the
  * assignment step of both integer Lloyd fits: q115's fine level with
  * one family per coarse cell, and the flat fit (q99, q115's coarse
  * level) with a single family under cell 0.
  *
  * A Column formulation — `array_min` over one literal
  * `struct(distance, fid)` per centroid, behind a CASE on the cell —
  * grows its generated code with k: at gen30 scale that is k1·k2 ≈ 484
  * distance sub-expressions in ONE projection, the generated
  * `processNext()` blows janino's method limits, whole-stage codegen
  * FAILS, and Spark silently falls back to interpreted evaluation for
  * the hottest map of the fit (observed in the g30 scale session logs).
  * This expression carries the whole centroid table as one plan
  * reference and evaluates the argmin in a tight loop behind a static
  * call — constant-size generated code at any k.
  *
  * Exactness contract (the DuckDB oracle's `ORDER BY d, cid` pick):
  *  - the distance is the squared L2 distance in exact Long arithmetic
  *    over the int components;
  *  - the winner is the lexicographic minimum on (dist, fid): the loop
  *    iterates fids in ascending order keeping STRICT minima;
  *  - a ccid with no centroid family → null; null qv → null; a
  *    length-mismatched centroid → null (impossible on fixed-dim
  *    corpora, nulled explicitly here). */
object NearestCentroidUtil {
  /** cents: fid-ascending (fid, centroid) per cell. Returns
    * struct(dist, fid) or null. */
  def nearest(ccid: Int, qv: ArrayData,
      cents: Map[Int, Array[(Int, Array[Long])]]): InternalRow = {
    val family = cents.getOrElse(ccid, null)
    if (family == null) return null
    var bestDist = Long.MaxValue
    var bestFid = -1
    var found = false
    var j = 0
    while (j < family.length) {
      val (fid, cv) = family(j)
      val n = qv.numElements()
      if (n != cv.length) return null
      var acc = 0L
      var i = 0
      while (i < n) {
        if (qv.isNullAt(i)) return null
        val d = qv.getInt(i).toLong - cv(i)
        acc += d * d
        i += 1
      }
      if (!found || acc < bestDist) { bestDist = acc; bestFid = fid; found = true }
      j += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestDist, bestFid))
  }
}

/** Catalyst expression: struct(dist, fid) of the nearest centroid in the
  * row's own cell, codegen'd as one static call per row. */
case class NearestCentroidExpr(left: Expression, right: Expression,
    cents: Map[Int, Array[(Int, Array[Long])]]) extends BinaryExpression {
  // left = ccid (int), right = qv (array<int>)
  override def dataType: DataType = StructType(Seq(
    StructField("dist", LongType), StructField("fid", IntegerType)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (IntegerType, ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid needs (int ccid, array<int> qv), got $l and $r")
  }

  override protected def nullSafeEval(ccid: Any, qv: Any): Any =
    NearestCentroidUtil.nearest(ccid.asInstanceOf[Int],
      qv.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "scala.collection.immutable.Map")
    nullSafeCodeGen(ctx, ev, (c, q) => {
      val row = ctx.freshName("nearestRow")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $row =
         |  graft.functions.NearestCentroidUtil.nearest($c, $q,
         |    (scala.collection.immutable.Map) $centsRef);
         |if ($row == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $row;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidExpr =
    copy(left = newLeft, right = newRight)
}

object NearestCentroidFn {
  /** nearestCentroid(ccid, qv): struct(dist, fid) of the per-cell argmin
    * (fid-ascending tie-break, identical to array_min over
    * struct(dist, fid) literals). */
  def nearestCentroid(ccid: Column, qv: Column,
      cents: Map[Int, Array[(Int, Array[Long])]]): Column =
    ColumnBridge.column(NearestCentroidExpr(
      ColumnBridge.expression(ccid), ColumnBridge.expression(qv), cents))
}
