package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Native dot product of two float-array columns, accumulated in double,
  * strictly left-to-right (i = 0..n-1) — bit-identical to
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, acc+v)` and
  * to a sequential external implementation, but whole-stage-codegen'd: the
  * generated code calls [[VectorFunctions.dotF]], whose loop reads primitive
  * floats straight out of the columnar `ArrayData` with no per-element
  * lambda dispatch or boxing.
  *
  * This is the engine's hot scalar for similarity search (SURVEY §7.2.8
  * extension surface); at 100 TB corpus scale the dot product runs once per
  * (query, candidate) pair, so constant-factor wins here dominate ANN cost.
  * If the arrays differ in length the shorter length is used (zip semantics).
  */
case class DotProductF(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_f"

  override lazy val replacement: Expression = StaticInvoke(VectorFunctions.getClass,
    dataType, "dotF", Seq(left, right), returnNullable = false)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

/** Native single-pass cosine similarity of two float-array columns: the dot
  * product and BOTH squared norms accumulate in one loop over the columnar
  * `ArrayData`, so each pair costs one traversal instead of the three a
  * composed `dot(a,b)/(sqrt(dot(a,a))·sqrt(dot(b,b)))` pays — and the result
  * is bit-identical to that composition (same left-to-right double sums,
  * same final expression tree shape).
  *
  * Zero-norm inputs yield 0.0 (not NaN/Inf) so the function is total over
  * any corpus. Length mismatch uses zip semantics like [[DotProductF]].
  */
case class CosineSimF(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override lazy val replacement: Expression = StaticInvoke(VectorFunctions.getClass,
    dataType, "cosineF", Seq(left, right), returnNullable = false)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimF =
    copy(left = newLeft, right = newRight)
}

/** Native integer dot product of two ARRAY<BIGINT> columns — the hot scalar
  * of the quantized (SQ8) candidate scans (n9/n10): per candidate pair one
  * codegen'd call of a long multiply-add loop over columnar `ArrayData`,
  * replacing an interpreted `aggregate(zip_with(...))` lambda chain.
  * Bit-identical to that fold on null-free arrays (the quantizer emits none
  * — every lane is `floor(...)` or literal 0); null elements are skipped
  * like [[DotProductF]]. Exact below 2^53 products by construction (int8
  * codes).
  */
case class DotProductL(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_product_l"

  override lazy val replacement: Expression = StaticInvoke(VectorFunctions.getClass,
    dataType, "dotL", Seq(left, right), returnNullable = false)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductL =
    copy(left = newLeft, right = newRight)
}

/** Native mixed dot product ARRAY<FLOAT> × ARRAY<DOUBLE> → DOUBLE — the
  * probe/assignment scalar of n10 (float vectors against the 6-dp DOUBLE
  * centroids, which are not float-representable): strictly left-to-right
  * `(double) a[i] * b[i]` accumulation, bit-identical to the
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * y), 0d, acc + v)` fold it
  * replaces, with no per-element lambda dispatch. Null elements skipped like
  * [[DotProductF]]; length mismatch uses zip semantics.
  */
case class DotProductFD(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT>, ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_fd"

  override lazy val replacement: Expression = StaticInvoke(VectorFunctions.getClass,
    dataType, "dotFD", Seq(left, right), returnNullable = false)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFD =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points for the native vector expressions, and their
  * kernels: each expression's interpreted and generated path both call the
  * one kernel named in its `replacement`.
  */
object VectorFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def dot_f(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductF(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def norm_f(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(dot_f(a, a))
  }
  def dot_l(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductL(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def dot_fd(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductFD(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimF(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** [[DotProductF]]'s kernel. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** [[CosineSimF]]'s kernel. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = a.getFloat(i).toDouble
        val y = b.getFloat(i).toDouble
        dot += x * y
        na += x * x
        nb += y * y
      }
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** [[DotProductL]]'s kernel. */
  def dotL(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** [[DotProductFD]]'s kernel. */
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    acc
  }
}
