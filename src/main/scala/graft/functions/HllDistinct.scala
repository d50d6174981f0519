package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** HyperLogLog distinct sketches as typed Aggregators — the bounded-state
  * companion to [[ExactDistinct]] for unbounded streaming key cardinality
  * (SURVEY §7.4.1; the reference's windowed count(distinct),
  * app/dws/ProvinceStatsSQLApp.java:121, whose HashSet state grows without
  * bound at 100 TB).
  *
  * Why not the built-in approx_count_distinct (also HLL++)? It only returns
  * the final COUNT — the sketch itself is consumed inside one aggregation.
  * These aggregators expose the sketch as a storable binary column, which is
  * what a warehouse needs for re-aggregation: persist one 4 KiB sketch per
  * (window, key) row, then roll up day→week→month or province→country by
  * MERGING sketches — no rescan of the raw events, a union that exact
  * distinct counts fundamentally cannot do.
  *
  * Plain dense HLL: m = 2^p byte registers (p = 12 → 4 KiB, ~1.6% relative
  * error), splitmix64 finalizer over long ids, linear counting below 2.5 m.
  * State per (group, window) is CONSTANT — the property that makes streaming
  * distinct survive unbounded keys.
  */
object Hll {
  val P = 12
  val M: Int = 1 << P

  /** splitmix64 finalizer (public domain) — full-avalanche 64-bit mix. */
  def hash64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def empty: Array[Byte] = new Array[Byte](M)

  /** Observe one value (mutates and returns `regs` — Aggregator buffers are
    * owned by the framework between calls, so in-place update is safe and
    * allocation-free).
    */
  def add(regs: Array[Byte], v: Long): Array[Byte] = {
    val h = hash64(v)
    val idx = (h >>> (64 - P)).toInt
    val w = h << P
    val rank = (if (w == 0) 64 - P else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rank > regs(idx)) regs(idx) = rank.toByte
    regs
  }

  /** Sketch union = element-wise max (mutates and returns `a`). */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  /** Cardinality estimate with the standard bias + small-range corrections. */
  def estimate(regs: Array[Byte]): Long = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    var harmonicSum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      harmonicSum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * M.toDouble * M.toDouble / harmonicSum
    val corrected =
      if (e <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros) // linear counting
      else e
    math.round(corrected)
  }
}

/** `hll_count_distinct(idCol)` — bounded-state distinct count over long ids. */
object HllDistinct extends Aggregator[Long, Array[Byte], Long] {
  override def zero: Array[Byte] = Hll.empty
  override def reduce(b: Array[Byte], v: Long): Array[Byte] = Hll.add(b, v)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Hll.merge(a, b)
  override def finish(b: Array[Byte]): Long = Hll.estimate(b)
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  lazy val asUdaf: org.apache.spark.sql.expressions.UserDefinedFunction = udaf(this)
}

/** `hll_sketch(idCol)` — the sketch itself, for persistence + later rollup. */
object HllSketch extends Aggregator[Long, Array[Byte], Array[Byte]] {
  override def zero: Array[Byte] = Hll.empty
  override def reduce(b: Array[Byte], v: Long): Array[Byte] = Hll.add(b, v)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Hll.merge(a, b)
  override def finish(b: Array[Byte]): Array[Byte] = b
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  lazy val asUdaf: org.apache.spark.sql.expressions.UserDefinedFunction = udaf(this)
}

/** `hll_merge_count(sketchCol)` — rollup: merge stored sketches, estimate. */
object HllMergeCount extends Aggregator[Array[Byte], Array[Byte], Long] {
  override def zero: Array[Byte] = Hll.empty
  override def reduce(b: Array[Byte], v: Array[Byte]): Array[Byte] = Hll.merge(b, v)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Hll.merge(a, b)
  override def finish(b: Array[Byte]): Long = Hll.estimate(b)
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  lazy val asUdaf: org.apache.spark.sql.expressions.UserDefinedFunction = udaf(this)
}
