package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlInternals}
import org.apache.spark.sql.functions.col

/** DataFrame-level builder for the native [[AsOfJoinPlan]] operator — the
  * engine's one as-of join. Output contract: left columns + prefixed right
  * columns, prefixed join key dropped. Time (and key) columns must have the
  * same type on both sides; cast one side explicitly otherwise.
  */
object AsOfJoinNative {

  /** Idempotently install the planner strategy in this session; every plan
    * builder below calls it, so the operator needs no session config.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }

  /** left ⋈asof right on `key`: each left row gains the right row with the
    * greatest `rightTs <= leftTs` for its key, or nulls (left-outer). Right
    * columns come back `prefix`ed; the prefixed key column is dropped.
    * `toleranceMicros` (timestamp columns only) additionally requires
    * `leftTs - rightTs <= tolerance` — the pandas `merge_asof` staleness
    * bound: versions older than the tolerance report as unmatched.
    *
    * The right side is re-projected through fresh aliases, so self-joins
    * (left and right carved from the same source) carry no conflicting
    * attribute ids into the join node.
    */
  def asOf(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, prefix: String = "r_",
      toleranceMicros: Option[Long] = None): DataFrame =
    asOfKeys(left, right, Seq(key), leftTs, rightTs, prefix, toleranceMicros)

  /** Composite-key variant: the "latest version at-or-before" is resolved
    * per distinct key TUPLE (e.g. (region, sku) price histories). Same
    * contract otherwise; all prefixed key columns are dropped.
    */
  def asOfKeys(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, prefix: String = "r_",
      toleranceMicros: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    // Alias projection = fresh ExprIds for every right output
    val renamed = right.select(right.columns.map(c => col(c).as(s"$prefix$c")): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = renamed.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: column `$name` not found among [${plan.output.map(_.name).mkString(", ")}]"))
    val node = AsOfJoinPlan(
      lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(k => attr(rPlan, s"$prefix$k")),
      attr(lPlan, leftTs), attr(rPlan, s"$prefix$rightTs"), toleranceMicros)
    keys.foldLeft(GraftSqlInternals.ofRows(spark, node))((d, k) => d.drop(s"$prefix$k"))
  }
}
