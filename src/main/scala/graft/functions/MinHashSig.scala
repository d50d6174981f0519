package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: 8 salted-md5 hash-family minimums over a shingle
  * array, in ONE expression call.
  *
  * Bit-identical to the SQL composition it replaces (and to the DuckDB
  * oracle): mh(4a+b) = min over shingles s of substr(md5("a:" ++ s), 1+8b, 8)
  * — because lexicographic order of lowercase hex equals unsigned numeric
  * order of the underlying digest bytes, the mins are tracked as unsigned
  * 32-bit ints read straight from the digest and hex-encoded once at the
  * end. No intermediate hex arrays, no per-element lambda dispatch.
  *
  * Why an Expression (SURVEY §7.3 preference (b)): the composed form —
  * two `transform(md5(concat))` arrays plus eight `array_min(transform(
  * substring))` columns — inflates the generated projection enough that
  * janino compile time dominated d3's cold run. This collapses the whole
  * signature to one static call; the codegen'd projection stays inside the
  * WholeStageCodegen span, and per-row cost is still exactly 2 md5 digests
  * per shingle (the algorithmic floor the composed form reached).
  */
case class MinHashSigExpr(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override lazy val replacement: Expression = StaticInvoke(MinHashSig.getClass,
    dataType, "compute", Seq(child), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSig {
  private val NumHashes = 8
  private val Salts: Array[Array[Byte]] = Array("0:".getBytes, "1:".getBytes)
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val HexChars = "0123456789abcdef".toCharArray

  /** The kernel: [[MinHashSigExpr]]'s interpreted and generated path both call it. */
  def compute(shingles: ArrayData): GenericArrayData = {
    val n = shingles.numElements()
    val mins = Array.fill(NumHashes)(0xffffffffL + 1) // > any u32
    val digest = md5.get()
    var k = 0
    while (k < n) {
      if (!shingles.isNullAt(k)) {
        val bytes = shingles.getUTF8String(k).getBytes
        var salt = 0
        while (salt < 2) {
          digest.reset()
          digest.update(Salts(salt))
          digest.update(bytes)
          val d = digest.digest()
          var slice = 0
          while (slice < 4) {
            val v = ((d(4 * slice) & 0xffL) << 24) | ((d(4 * slice + 1) & 0xffL) << 16) |
              ((d(4 * slice + 2) & 0xffL) << 8) | (d(4 * slice + 3) & 0xffL)
            val i = 4 * salt + slice
            if (v < mins(i)) mins(i) = v
            slice += 1
          }
          salt += 1
        }
      }
      k += 1
    }
    new GenericArrayData(mins.map { m =>
      if (m > 0xffffffffL) null // empty/all-null input: array_min-of-empty = null
      else {
        val cs = new Array[Char](8)
        var j = 0
        while (j < 8) { cs(j) = HexChars(((m >>> (28 - 4 * j)) & 0xf).toInt); j += 1 }
        UTF8String.fromString(new String(cs))
      }
    }.asInstanceOf[Array[Any]])
  }

  /** Column entry point: `minhash_sig(shinglesCol)` → ARRAY<STRING>[8]. */
  def apply(shingles: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(shingles)))
  }
}
