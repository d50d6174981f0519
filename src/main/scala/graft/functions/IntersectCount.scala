package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native count-only set intersection of two string-array columns:
  * `intersect_count(a, b)` = `size(array_intersect(a, b))` (distinct common
  * elements, null counted when present on both sides) without ever
  * materializing the intersection array.
  *
  * Why an Expression (SURVEY §7.3 preference (b)): Spark's `ArrayIntersect`
  * falls back to an interpreted path for string arrays, rebuilds its probe
  * structure per row, and allocates the full result array — which
  * `size(...)` immediately throws away. For d5's pair-verify step that
  * interpreted allocate-and-discard was ~8ms per candidate pair and 20% of
  * the whole bench (BENCH_r07, `d5_ngram_jaccard` 12.95s with a 0.5 MB
  * shuffle — the wall is pure per-row CPU). Here the smaller side is hashed
  * once per row into a probe set of `UTF8String` (zero-copy views over the
  * columnar `ArrayData`), the larger side probes it with remove-on-hit (so
  * duplicates on either side can never double-count), and the only
  * allocation proportional to the result is the counter. Stays inside
  * whole-stage codegen via a static call, like [[MinHashSig]]/[[WinnowMins]].
  *
  * At 100 TB this is the constant factor on every candidate pair the dedup
  * family verifies — the pair count is linear in the corpus (candidates are
  * window/LSH-bounded), so per-pair cost is the whole bill.
  */
case class IntersectCountExpr(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<STRING> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count"

  override lazy val replacement: Expression = StaticInvoke(IntersectCount.getClass,
    dataType, "compute", Seq(left, right), returnNullable = false)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

object IntersectCount {

  /** The kernel: [[IntersectCountExpr]]'s interpreted and generated path
    * both call it. Matches `size(array_intersect(a, b))` exactly: distinct
    * common elements, with a null element counted iff both arrays contain
    * one.
    */
  def compute(a: ArrayData, b: ArrayData): Long = {
    // hash the smaller side: probe-set size (the only per-row allocation
    // that scales with input) is min(|a|, |b|)
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    if (n == 0) return 0L
    val probe = new java.util.HashSet[UTF8String](Math.max(8, n * 2))
    var smallHasNull = false
    var i = 0
    while (i < n) {
      if (small.isNullAt(i)) smallHasNull = true
      else probe.add(small.getUTF8String(i))
      i += 1
    }
    var count = 0L
    var nullCounted = false
    val m = large.numElements()
    var j = 0
    while (j < m) {
      if (large.isNullAt(j)) {
        if (smallHasNull && !nullCounted) { count += 1L; nullCounted = true }
      } else if (probe.remove(large.getUTF8String(j))) {
        count += 1L
      }
      j += 1
    }
    count
  }

  /** Column entry point: `IntersectCount(a, b)` → BIGINT. */
  def apply(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      IntersectCountExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }
}
