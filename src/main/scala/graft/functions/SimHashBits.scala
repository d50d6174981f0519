package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native SimHash fingerprint over a word array, computed entirely MAP-SIDE:
  * one expression call per document replaces the explode → 16/64 conditional
  * sums → groupBy pipeline, removing BOTH the per-document shuffle and the
  * wide aggregate janino has to compile (the 64-sum variant dominated d8's
  * cold run the same way the composed minhash projection dominated d3's —
  * see [[MinHashSig]]).
  *
  * Bit-identical to the composed form and to the DuckDB oracle: bit j
  * (1-based) votes +1 when hex digit j of the word's digest string is odd,
  * −1 otherwise, tf-weighted over the word multiset; bit j of the output is
  * '1' iff the vote sum is positive. The digest string is md5(word) for bits
  * 1..32 concatenated with md5("x:" ++ word) for bits 33..64 (the second
  * digest is only computed when `bits` > 32), and "hex digit j is odd" is
  * just the low bit of nibble j−1 of the raw digest — no hex encoding, no
  * substring materialization.
  *
  * Empty words are skipped (the composed form filters `length(word) > 0`
  * after explode); a document with no non-empty words yields NULL (the
  * composed form's groupBy simply had no row — callers filter nulls to keep
  * the same output set).
  */
case class SimHashBitsExpr(child: Expression, bits: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if bits >= 1 && bits <= 64 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName bits must be in [1, 64], got $bits")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.sql}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash_bits"

  // the kernel returns null for a document with no non-empty word
  override lazy val replacement: Expression = StaticInvoke(SimHashBits.getClass,
    dataType, "compute", Seq(child, Literal(bits)), returnNullable = true)

  override protected def withNewChildInternal(newChild: Expression): SimHashBitsExpr =
    copy(child = newChild)
}

object SimHashBits {
  private val Salt = "x:".getBytes
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** The kernel: [[SimHashBitsExpr]]'s interpreted and generated path both
    * call it. Null when the array holds no non-empty word.
    */
  def compute(words: ArrayData, bits: Int): UTF8String = {
    val n = words.numElements()
    val sums = new Array[Int](bits)
    val lo = math.min(bits, 32)
    val digest = md5.get()
    var seen = false
    var k = 0
    while (k < n) {
      if (!words.isNullAt(k)) {
        val w = words.getUTF8String(k).getBytes
        if (w.length > 0) {
          seen = true
          digest.reset()
          val d1 = digest.digest(w)
          var j = 0
          while (j < lo) {
            // nibble j of the digest == hex digit j+1 of the hex string
            val nib = if ((j & 1) == 0) (d1(j >> 1) >> 4) & 0xf else d1(j >> 1) & 0xf
            sums(j) += (if ((nib & 1) == 1) 1 else -1)
            j += 1
          }
          if (bits > 32) {
            digest.reset()
            digest.update(Salt)
            val d2 = digest.digest(w)
            var j2 = 32
            while (j2 < bits) {
              val p = j2 - 32
              val nib = if ((p & 1) == 0) (d2(p >> 1) >> 4) & 0xf else d2(p >> 1) & 0xf
              sums(j2) += (if ((nib & 1) == 1) 1 else -1)
              j2 += 1
            }
          }
        }
      }
      k += 1
    }
    if (!seen) null
    else {
      val cs = new Array[Char](bits)
      var j = 0
      while (j < bits) { cs(j) = if (sums(j) > 0) '1' else '0'; j += 1 }
      UTF8String.fromString(new String(cs))
    }
  }

  /** Column entry point: `simhash_bits(wordsCol, bits)` → STRING of '0'/'1'. */
  def apply(words: Column, bits: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(SimHashBitsExpr(ColumnBridge.expression(words), bits))
  }
}
