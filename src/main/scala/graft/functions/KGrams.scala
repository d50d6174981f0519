package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native positional k-gram array: from a WORD array, element i is
  * `words[i] + " " + ... + " " + words[i+k-1]`, for i in 0 .. n-k — the
  * shingle/k-gram builder every dedup and corpus-stats operator feeds on.
  *
  * Why an Expression (SURVEY §7.3 preference (b), the [[WinnowMins]]
  * precedent): the composed form — k−1 shifted `zip_with` passes each
  * `concat`ing a growing prefix — runs its lambdas interpreted per element
  * and RE-ALLOCATES every intermediate prefix string (a k-gram is built k−1
  * times), excluded from whole-stage codegen. This call does the identical
  * work in one pass per row with one allocation per k-gram.
  *
  * Bit-identical by construction to
  * `slice(zip_with-fold, 1, size(words)-(k-1))`: same space joints, and a
  * null word nulls exactly the k-grams it participates in (zip_with's
  * `concat` null-propagation), so the output arrays match element-for-
  * element — KGramsSpec pins this against the interpreted form.
  */
case class KGramsExpr(child: Expression, k: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING> and k >= 1, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "k_grams"

  override lazy val replacement: Expression = StaticInvoke(KGrams.getClass,
    dataType, "compute", Seq(child, Literal(k)), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): KGramsExpr =
    copy(child = newChild)
}

object KGrams {
  private val Space = UTF8String.fromString(" ")

  /** The kernel: [[KGramsExpr]]'s interpreted and generated path both call
    * it. Returns the n-k+1 positional k-grams; empty for n < k; a k-gram
    * touching a null word is null (concat propagation, matching the
    * zip_with fold).
    */
  def compute(words: ArrayData, k: Int): GenericArrayData = {
    val n = words.numElements()
    val m = n - (k - 1)
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    // materialize the word strings once; the fold touches each word k times
    val ws = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      ws(i) = if (words.isNullAt(i)) null else words.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](m)
    val parts = new Array[UTF8String](2 * k - 1)
    i = 0
    while (i < m) {
      var ok = true
      var j = 0
      while (j < k) {
        if (ws(i + j) == null) ok = false
        parts(2 * j) = ws(i + j)
        if (j > 0) parts(2 * j - 1) = Space
        j += 1
      }
      out(i) = if (ok) UTF8String.concat(parts: _*) else null
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column entry point: `KGrams(wordsCol, k)` → ARRAY<STRING>. */
  def apply(words: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(KGramsExpr(ColumnBridge.expression(words), k))
  }
}
