package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document character statistics — ONE pass over the string,
  * computed entirely MAP-SIDE inside whole-stage codegen: code-point count,
  * distinct code points, and Shannon character entropy (nats). The entropy
  * of the character distribution is the classic compression-proxy quality
  * signal (a page of boilerplate or key-mashing compresses well ⇒ low
  * entropy; natural prose sits near the language's character entropy) — the
  * cheap stand-in for the zlib-ratio filter in published web-curation
  * pipelines, computable without a codec dependency.
  *
  * Engine-exact determinism (the t13/dq2 lesson): entropy is
  * `ln(n) − (Σ_c round(c·ln(c)·10⁴)) / 10⁴ / n` — each distinct-character
  * term is quantized to 4 decimals and accumulated as an INTEGER, so
  * neither summation order nor last-ulp `ln` drift between engines can move
  * the value; the oracle restates the identical quantized form. `c·ln(c)`
  * for c ≤ n ≤ 2³¹ is < 5·10¹⁰ before scaling — the scaled sum cannot
  * overflow int64 below corpus-of-one-doc absurdities (n·ln(n)·10⁴ < 2⁶³
  * up to n ≈ 4·10¹⁶ chars in ONE document).
  *
  * Counting is over UTF-16 code units with surrogate pairs folded — i.e.
  * Unicode code points, matching DuckDB's `string_split(text, '')` unit on
  * every BMP+SMP string (the synthetic corpus is printable ASCII, where
  * bytes = chars = code points). ASCII counts live in a flat 128-slot
  * array; anything wider falls back to a hash map, so the hot path never
  * allocates per character.
  */
case class CharEntropyExpr(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_cp", LongType, nullable = false),
    StructField("distinct_cp", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
  override def prettyName: String = "char_entropy"

  // the kernel returns null for the empty string
  override lazy val replacement: Expression = StaticInvoke(CharEntropy.getClass,
    dataType, "compute", Seq(child), returnNullable = true)

  override protected def withNewChildInternal(newChild: Expression): CharEntropyExpr =
    copy(child = newChild)
}

object CharEntropy {

  /** Column entry point: `char_entropy(textCol)` →
    * STRUCT(n_cp BIGINT, distinct_cp BIGINT, entropy DOUBLE).
    */
  def apply(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(CharEntropyExpr(ColumnBridge.expression(text)))
  }

  /** The kernel: [[CharEntropyExpr]]'s interpreted and generated path both
    * call it. Null for the empty string (no distribution to take an
    * entropy of).
    */
  def compute(s: UTF8String): InternalRow = {
    val str = s.toString
    val len = str.length
    if (len == 0) return null
    val ascii = new Array[Long](128)
    var wide: java.util.HashMap[Integer, Array[Long]] = null
    var i = 0
    var n = 0L
    while (i < len) {
      val cp = str.codePointAt(i)
      if (cp < 128) ascii(cp) += 1L
      else {
        if (wide == null) wide = new java.util.HashMap[Integer, Array[Long]]()
        val slot = wide.computeIfAbsent(cp, _ => new Array[Long](1))
        slot(0) += 1L
      }
      n += 1L
      i += Character.charCount(cp)
    }
    var distinct = 0L
    var scaled = 0L // Σ round(c·ln(c)·1e4) — integer, order-free
    var j = 0
    while (j < 128) {
      val c = ascii(j)
      if (c > 0) { distinct += 1; scaled += term(c) }
      j += 1
    }
    if (wide != null) {
      val it = wide.values().iterator()
      while (it.hasNext) { distinct += 1; scaled += term(it.next()(0)) }
    }
    val entropy = math.log(n.toDouble) - scaled / 1e4 / n
    new GenericInternalRow(Array[Any](n, distinct, entropy))
  }

  private def term(c: Long): Long =
    if (c <= 1L) 0L else math.round(c * math.log(c.toDouble) * 1e4)
}
