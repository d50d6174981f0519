package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Driver-held product-quantization codebook: `m` subspaces × `k` codes ×
  * `dims` dims, centroids flattened [s][j][p] with per-(s,j) squared norms.
  * Serializable so the codebook literal ships with the task binary.
  */
final class PqCodebook(val m: Int, val dims: Int, val k: Int,
    val cents: Array[Double], val norms: Array[Double]) extends Serializable {
  require(cents.length == m * k * dims && norms.length == m * k,
    s"codebook shape mismatch: ${cents.length} cents / ${norms.length} norms " +
      s"for m=$m k=$k dims=$dims")

  // value equality over the full codebook content — without it, the
  // codebook literal's equality (and so Catalyst canonicalization /
  // common-subexpression elimination) falls back to reference identity and
  // two pq_encode columns built from equal maps never compare equal
  override def equals(other: Any): Boolean = other match {
    case o: PqCodebook =>
      m == o.m && dims == o.dims && k == o.k &&
        java.util.Arrays.equals(cents, o.cents) &&
        java.util.Arrays.equals(norms, o.norms)
    case _ => false
  }
  // cached: Catalyst canonicalization/semantic-equality can hash an
  // expression many times per plan, and the content hash walks the full
  // m·k·dims centroid array — pay it once (the class is immutable and final)
  override lazy val hashCode: Int =
    java.util.Arrays.hashCode(Array[Int](m, dims, k,
      java.util.Arrays.hashCode(cents), java.util.Arrays.hashCode(norms)))

  /** All `m` nearest-code ids for one residual vector, in ONE pass.
    * Bit-identical to the composed form it replaces — per subspace `s`:
    * sx = left-to-right Σx², per code `j` ascending: dot = left-to-right
    * Σ x·c, dq = floor(((sx − 2·dot) + ‖c‖²)·1e4 + 0.5)/1e4, keep the
    * strictly smaller dq (so ties stay with the LOWER code id, matching
    * `array_min` over (dq, j) structs). Inputs are null-free by
    * construction (residuals of non-null embeddings), so no null lanes.
    */
  def encode(res: ArrayData): GenericArrayData = {
    val codes = new Array[Any](m)
    var s = 0
    while (s < m) {
      var sx = 0.0
      var p = 0
      while (p < dims) {
        val x = res.getDouble(s * dims + p); sx += x * x; p += 1
      }
      var bestD = Double.PositiveInfinity
      var bestJ = -1
      var j = 0
      while (j < k) {
        var dot = 0.0
        val base = (s * k + j) * dims
        var q = 0
        while (q < dims) {
          dot += res.getDouble(s * dims + q) * cents(base + q); q += 1
        }
        val dq = java.lang.Math.floor(
          ((sx - 2.0 * dot) + norms(s * k + j)) * 10000.0 + 0.5) / 10000.0
        if (dq < bestD) { bestD = dq; bestJ = j }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** [[encode]] over an ARRAY<FLOAT> input — each lane widens float→double
    * exactly like the `x.cast("double")` fold it replaces, so the result is
    * bit-identical to encoding the double-cast array.
    */
  def encodeF(res: ArrayData): GenericArrayData = {
    val codes = new Array[Any](m)
    var s = 0
    while (s < m) {
      var sx = 0.0
      var p = 0
      while (p < dims) {
        val x = res.getFloat(s * dims + p).toDouble; sx += x * x; p += 1
      }
      var bestD = Double.PositiveInfinity
      var bestJ = -1
      var j = 0
      while (j < k) {
        var dot = 0.0
        val base = (s * k + j) * dims
        var q = 0
        while (q < dims) {
          dot += res.getFloat(s * dims + q).toDouble * cents(base + q); q += 1
        }
        val dq = java.lang.Math.floor(
          ((sx - 2.0 * dot) + norms(s * k + j)) * 10000.0 + 0.5) / 10000.0
        if (dq < bestD) { bestD = dq; bestJ = j }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
    new GenericArrayData(codes)
  }
}

/** Native PQ ENCODE: residual ARRAY<DOUBLE> → the `m` nearest-code ids as
  * ARRAY<INT>, against a driver-held [[PqCodebook]], in one codegen'd call
  * of [[PqCodebook.encode]] (ARRAY<DOUBLE>) or [[PqCodebook.encodeF]]
  * (ARRAY<FLOAT>) on the codebook literal.
  *
  * Why an Expression (SURVEY §7.3 preference (b)): the composed form — per
  * subspace an `array_min` over `transform(typedlit(entries),
  * aggregate(zip_with(...)))` structs — evaluates 2·m·k interpreted lambda
  * folds per row (higher-order functions never enter whole-stage codegen),
  * and rebuilding it with fresh literals each Lloyd round re-pays analysis
  * on a struct tree of m·k branches. This collapses the whole per-row
  * encode to one reference-object call inside the codegen'd projection —
  * same arithmetic, same tie rule, bit-identical codes (spec-pinned) —
  * which is what keeps IVFADC index builds map-only at 100 TB: the
  * codebook rides the closure, the corpus is never joined or shuffled to
  * be encoded.
  */
case class PqEncodeExpr(child: Expression, codebook: PqCodebook)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> or ARRAY<FLOAT>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override lazy val replacement: Expression = {
    val kernel = child.dataType match {
      case ArrayType(FloatType, _) => "encodeF"
      case _ => "encode"
    }
    Invoke(Literal.fromObject(codebook), kernel, dataType, Seq(child),
      returnNullable = false)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

object PqFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column face over the codebook map `(s, j) → (centroid, ‖c‖²)` the
    * AnnOps trainers produce.
    */
  def pq_encode(res: Column, cb: Map[(Int, Int), (Array[Double], Double)],
      m: Int, dims: Int, k: Int): Column = {
    val cents = new Array[Double](m * k * dims)
    val norms = new Array[Double](m * k)
    for (s <- 0 until m; j <- 0 until k) {
      val (c, n2) = cb((s, j))
      require(c.length == dims, s"centroid ($s,$j) has ${c.length} dims, want $dims")
      System.arraycopy(c, 0, cents, (s * k + j) * dims, dims)
      norms(s * k + j) = n2
    }
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(res),
      new PqCodebook(m, dims, k, cents, norms)))
  }
}
