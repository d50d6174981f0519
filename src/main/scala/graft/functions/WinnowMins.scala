package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native winnowing selection (Schleimer/Wilkerson/Aiken): from a WORD array,
  * hash every 3-word shingle (16-bit prefix of its md5, the oracle's hex16)
  * and emit the minimum of each `w`-hash sliding window — the whole
  * shingle→hash→window-min pipeline in ONE static call.
  *
  * Why an Expression (SURVEY §7.3 preference (b)): the composed form
  * (`transform` to build shingles, `transform(md5)` to hash, shifted
  * `zip_with` mins) is built from higher-order functions whose lambdas are
  * interpreted per element and excluded from codegen subexpression
  * elimination; this call hashes each shingle once in compiled code, so its
  * cost is linear in corpus words with no per-element interpretation.
  * Bit-identical to the DuckDB oracle: hash = int of the first 4 hex chars
  * of md5(shingle); docs with fewer hashes than one window degrade to
  * their global min.
  */
case class WinnowMinsExpr(child: Expression, w: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if w >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING> and window >= 1, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_mins"

  override lazy val replacement: Expression = StaticInvoke(WinnowMins.getClass,
    dataType, "compute", Seq(child, Literal(w)), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): WinnowMinsExpr =
    copy(child = newChild)
}

object WinnowMins {
  private val ShingleN = 3
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** The kernel: [[WinnowMinsExpr]]'s interpreted and generated path both
    * call it. Returns the window minima (max(1, nShingles-w+1) values);
    * empty for < 3 words.
    */
  def compute(words: ArrayData, w: Int): GenericArrayData = {
    val n = words.numElements()
    val nsh = n - (ShingleN - 1)
    if (nsh <= 0) return new GenericArrayData(Array.emptyLongArray)
    val digest = md5.get()
    val h = new Array[Long](nsh)
    var i = 0
    while (i < nsh) {
      digest.reset()
      var j = 0
      while (j < ShingleN) {
        if (j > 0) digest.update(' '.toByte)
        if (!words.isNullAt(i + j)) digest.update(words.getUTF8String(i + j).getBytes)
        j += 1
      }
      val d = digest.digest()
      h(i) = ((d(0) & 0xffL) << 8) | (d(1) & 0xffL)
      i += 1
    }
    val m = math.max(1, nsh - w + 1)
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var best = h(i)
      var k = i + 1
      val end = math.min(nsh, i + w)
      while (k < end) { if (h(k) < best) best = h(k); k += 1 }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column entry point: `WinnowMins(wordsCol, w)` → ARRAY<LONG>. */
  def apply(words: Column, w: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(WinnowMinsExpr(ColumnBridge.expression(words), w))
  }
}
