package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native sign-random-projection LSH signature over a float-array embedding:
  * all `nPlanes` sign bits in ONE expression call.
  *
  * Bit-identical to the composed form it replaces — per plane p,
  * `floor(dot_product_f(emb, plane_p) * 1e4 + 0.5) > 0` (sequential
  * left-to-right double accumulation, 4-dp quantization before the sign test
  * so the bit is stable against sub-ulp jitter) — but without the 32
  * literal-array dot-product columns whose generated projection dominated
  * the cold run via janino, the familiar disease ([[MinHashSig]],
  * [[SimHashBits]]). The Rademacher hyperplanes are the deterministic
  * md5-parity constants of `graft.operators.AnnOps.hyperplanes`, so any
  * engine (including the SQL oracle, which embeds them as literals)
  * reproduces the same signature.
  *
  * Entries are ±1, so the "dot product" per plane is a signed sum — the
  * whole signature is one pass over the embedding with `nPlanes`
  * accumulators, +/− per element, no multiplications.
  */
case class SrpSigExpr(child: Expression, nPlanes: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if nPlanes >= 1 && nPlanes <= 64 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName nPlanes must be in [1, 64], got $nPlanes")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT>, got ${other.sql}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "srp_sig"

  override lazy val replacement: Expression = StaticInvoke(SrpSig.getClass,
    dataType, "compute", Seq(child, Literal(nPlanes)), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): SrpSigExpr =
    copy(child = newChild)
}

object SrpSig {
  private val MaxPlanes = 64

  /** ±1.0 plane entries, derived once from the shared md5-parity constants. */
  private lazy val Planes: Array[Array[Double]] =
    graft.operators.AnnOps.hyperplanes(MaxPlanes).map(_.map(_.toDouble))

  /** The kernel: [[SrpSigExpr]]'s interpreted and generated path both call
    * it. Null array elements contribute nothing (dot_product_f zip
    * semantics); dims beyond the 64-lane plane width (`AnnOps.LshDims`) are
    * ignored, shorter embeddings use their length.
    */
  def compute(emb: ArrayData, nPlanes: Int): UTF8String = {
    val n = math.min(emb.numElements(), graft.operators.AnnOps.LshDims)
    val sums = new Array[Double](nPlanes)
    var d = 0
    while (d < n) {
      if (!emb.isNullAt(d)) {
        val v = emb.getFloat(d).toDouble
        var p = 0
        while (p < nPlanes) {
          // entry is exactly +1.0 or -1.0: branch instead of multiply
          if (Planes(p)(d) > 0) sums(p) += v else sums(p) -= v
          p += 1
        }
      }
      d += 1
    }
    val cs = new Array[Char](nPlanes)
    var p = 0
    while (p < nPlanes) {
      cs(p) = if (java.lang.Math.floor(sums(p) * 10000.0 + 0.5) > 0) '1' else '0'
      p += 1
    }
    UTF8String.fromString(new String(cs))
  }

  /** Column entry point: `srp_sig(embeddingCol, nPlanes)` → STRING of '0'/'1'. */
  def apply(emb: Column, nPlanes: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(SrpSigExpr(ColumnBridge.expression(emb), nPlanes))
  }
}
