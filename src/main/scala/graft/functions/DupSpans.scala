package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native duplicated-span extraction against a reference gram set:
  * `dup_spans(grams, ref, k)` — `grams(i)` is the k-gram starting at token
  * position i; every i whose gram is in `ref` seeds the covered token range
  * [i, i+k−1]; overlapping/touching ranges merge; each maximal span packs
  * into one BIGINT as `(start << 32) | end` (both inclusive, token
  * positions). Identical island semantics to
  * [[graft.operators.DedupOps.exactSubstringSpans]]'s covered-position
  * merge — two seeds i₁ < i₂ fuse iff i₂ ≤ i₁ + k — so per-document spans
  * from this call equal the batch operator's rows whenever `ref` is that
  * corpus's duplicated-gram set.
  *
  * Why an Expression (SURVEY §7.3 preference (b)): this is the per-row
  * kernel of the STREAMING face of d13/d14 — the ref set arrives as one
  * broadcast array and the whole mark-and-merge runs inside the row
  * projection, so the stream needs no state store, no watermark, and no
  * stream-side shuffle. The composed-HOF form (indexed filter + exists)
  * probes the ref array linearly PER GRAM — O(words × |ref|) interpreted —
  * where this call hashes the ref once per row and probes O(1) per gram.
  * Stays inside whole-stage codegen via a static call, like
  * [[IntersectCount]]/[[WinnowMins]].
  */
case class DupSpansExpr(left: Expression, right: Expression, k: Int)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<STRING> arguments and k >= 1, " +
        s"got ${left.dataType.sql}, ${right.dataType.sql}, k=$k")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dup_spans"

  override lazy val replacement: Expression = StaticInvoke(DupSpans.getClass,
    dataType, "compute", Seq(left, right, Literal(k)), returnNullable = false)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DupSpansExpr =
    copy(left = newLeft, right = newRight)
}

object DupSpans {

  /** The kernel: [[DupSpansExpr]]'s interpreted and generated path both
    * call it. Null grams never match; a null-only or empty ref yields no
    * spans.
    */
  def compute(grams: ArrayData, ref: ArrayData, k: Int): GenericArrayData = {
    val m = ref.numElements()
    val n = grams.numElements()
    if (n == 0 || m == 0) return new GenericArrayData(Array.emptyLongArray)
    val probe = new java.util.HashSet[UTF8String](Math.max(8, m * 2))
    var j = 0
    while (j < m) {
      if (!ref.isNullAt(j)) probe.add(ref.getUTF8String(j))
      j += 1
    }
    if (probe.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val out = new java.util.ArrayList[java.lang.Long]()
    var curStart = -1L
    var curEnd = -1L
    var i = 0
    while (i < n) {
      if (!grams.isNullAt(i) && probe.contains(grams.getUTF8String(i))) {
        val s = i.toLong
        val e = i.toLong + (k - 1)
        if (curStart < 0) { curStart = s; curEnd = e }
        else if (s <= curEnd + 1) { curEnd = e } // i ascending ⇒ e ≥ curEnd
        else {
          out.add((curStart << 32) | curEnd)
          curStart = s; curEnd = e
        }
      }
      i += 1
    }
    if (curStart >= 0) out.add((curStart << 32) | curEnd)
    val arr = new Array[Long](out.size())
    var x = 0
    while (x < arr.length) { arr(x) = out.get(x); x += 1 }
    new GenericArrayData(arr)
  }
}
