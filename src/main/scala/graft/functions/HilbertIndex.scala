package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** Native 2-D Hilbert-curve index: (x, y) → distance along the order-`bits`
  * Hilbert curve (Hilbert 1891; the xy2d bit-rotation form as published in
  * the public literature, e.g. Hamilton's compact-Hilbert tech report and
  * the Wikipedia reference implementation). The locality-better alternative
  * to [[graft.operators.Bucketing.zorderKey]]'s Morton interleave: every
  * unit step along the Hilbert curve moves exactly ONE grid cell (Manhattan
  * distance 1, spec-pinned), where the Z-curve takes long diagonal jumps at
  * every power-of-two boundary — so equal-size curve segments have tighter
  * bounding boxes and file min/max footers prune strictly better on box
  * predicates (the reason Delta added OPTIMIZE ... HILBERT and DataBricks
  * liquid clustering moved off Morton).
  *
  * Pure integer arithmetic — `bits` rounds of mask / flip / swap state
  * updates — identical in any engine; the DuckDB oracle states the same
  * rounds as chained CTEs. Out-of-domain inputs CLAMP to the grid edge
  * (order-preserving at the boundary), matching zorderKey's convention.
  * Why an Expression: the round recurrence mutates (x, y) state, which a
  * declarative column tree can only express as `bits` nested CASE layers —
  * this keeps the scan-side key a single codegen'd call.
  */
case class HilbertIndexExpr(left: Expression, right: Expression, bits: Int)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == LongType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two BIGINT arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_key"

  override lazy val replacement: Expression = StaticInvoke(HilbertIndex.getClass,
    dataType, "xy2d", Seq(Literal(bits), left, right), returnNullable = false)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndexExpr =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {
  /** The kernel: [[HilbertIndexExpr]]'s interpreted and generated path both
    * call it.
    */
  def xy2d(bits: Int, x0: Long, y0: Long): Long = {
    val max = (1L << bits) - 1
    var x = if (x0 < 0) 0L else if (x0 > max) max else x0
    var y = if (y0 < 0) 0L else if (y0 > max) max else y0
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate the quadrant so the sub-curve enters/exits correctly
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** The order-16 key: a 32-bit distance over the 65536² grid. */
  def hilbert_key(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(HilbertIndexExpr(
      ColumnBridge.expression(x), ColumnBridge.expression(y), 16))
  }
}
