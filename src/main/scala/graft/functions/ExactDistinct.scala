package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Exact distinct-count as a merge-associative typed Aggregator — usable in
  * append-mode STREAMING windowed aggregations, where Spark's built-in
  * countDistinct is unsupported. This is the exact semantics of the
  * reference's windowed `count(distinct order_id)`
  * (app/dws/ProvinceStatsSQLApp.java:121) and its HashSet window state
  * (bean/ProductStats.java:77-87).
  *
  * Cost model, stated plainly: the state per (group, window) is the distinct
  * id set itself — identical to what the reference's Flink state held. Where
  * per-window distinct cardinality is unbounded at 100 TB, use Spark's own
  * HLL sketches instead: `hll_sketch_agg(id, 12)` keeps a constant-size
  * sketch per (group, window), also in a watermarked streaming aggregation;
  * `hll_union_agg` rolls stored sketches up and `hll_sketch_estimate` reads
  * the count.
  */
object ExactDistinct extends Aggregator[Long, Set[Long], Long] {
  override def zero: Set[Long] = Set.empty
  override def reduce(b: Set[Long], v: Long): Set[Long] = b + v
  override def merge(a: Set[Long], b: Set[Long]): Set[Long] = a ++ b
  override def finish(b: Set[Long]): Long = b.size.toLong
  override def bufferEncoder: Encoder[Set[Long]] = Encoders.kryo[Set[Long]]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong

  /** Column form: `exact_count_distinct(col)` for long-typed id columns. */
  lazy val asUdaf: org.apache.spark.sql.expressions.UserDefinedFunction = udaf(this)
  def apply(c: Column): Column = asUdaf(c)
}
