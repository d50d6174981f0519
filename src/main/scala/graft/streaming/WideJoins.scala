package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWM wide-table joins (SURVEY §2.4), Structured Streaming form.
  *
  * Scale notes: each stream-stream join carries the equi-key (order id), so
  * Spark plans a state-store hash join partitioned by key; the time-range
  * bound + watermarks let the state store evict rows past the horizon — state
  * is O(traffic within the interval), not O(stream). Dim enrichment is a
  * broadcast join against dim snapshots (the reference's async Phoenix/Redis
  * machinery, app/function/DimAsyncFunction.java:17-71, collapses away;
  * divergence: dims are read at micro-batch time, not per-record lookup time
  * — SURVEY §7.4.5).
  */
object WideJoins {

  /** J1 — OrderWide interval join (app/dwm/OrderWideApp.java:94-105):
    * order_info ⋈ order_detail on id = order_id within ±5s event time.
    * Inputs must carry epoch-millis `create_ts`; watermarks are monotonic (0s)
    * like the reference's forMonotonousTimestamps (:65-91).
    */
  def orderWide(orderInfo: DataFrame, orderDetail: DataFrame): DataFrame = {
    StateRelease.install(orderInfo.sparkSession)
    val oi = orderInfo
      .withColumn("oi_time", timestamp_millis(col("create_ts")))
      .withWatermark("oi_time", "0 seconds")
    val od = orderDetail
      .withColumnRenamed("id", "detail_id")
      .withColumnRenamed("create_ts", "od_create_ts")
      .withColumn("od_time", timestamp_millis(col("od_create_ts")))
      .withWatermark("od_time", "0 seconds")
    oi.join(od,
      oi("id") === od("order_id") &&
        od("od_time") >= oi("oi_time") - expr("INTERVAL 5 SECONDS") &&
        od("od_time") <= oi("oi_time") + expr("INTERVAL 5 SECONDS"))
  }

  /** J2 — PaymentWide interval join (app/dwm/PaymentWideApp.java:85-94):
    * payment_info ⋈ order_wide on order_id, order events within
    * [payment − 15 min, payment + 5 min] of the payment's callback time.
    *
    * Contract: `paymentInfo` has `id, order_id, callback_ts` (millis);
    * `orderWide` has `order_id, create_ts` (millis). The order side's
    * `create_time` is surfaced as `order_create_time`
    * (bean/PaymentWide.java:82) and its other columns pass through.
    */
  def paymentWide(paymentInfo: DataFrame, orderWide: DataFrame): DataFrame = {
    StateRelease.install(paymentInfo.sparkSession)
    val pay = paymentInfo
      .withColumnRenamed("id", "payment_id")
      .withColumn("pay_time", timestamp_millis(col("callback_ts")))
      .withWatermark("pay_time", "0 seconds")
    val owRenamed = (if (orderWide.columns.contains("create_time"))
        orderWide.withColumnRenamed("create_time", "order_create_time")
      else orderWide)
      .withColumnRenamed("order_id", "ow_order_id")
    val ow = owRenamed
      .withColumn("ow_time", timestamp_millis(col("create_ts")))
      .withWatermark("ow_time", "0 seconds")
    pay.join(ow,
        pay("order_id") === ow("ow_order_id") &&
          ow("ow_time") >= pay("pay_time") - expr("INTERVAL 15 MINUTES") &&
          ow("ow_time") <= pay("pay_time") + expr("INTERVAL 5 MINUTES"))
      .drop("ow_order_id")
  }

  /** J3 — dimension enrichment: broadcast joins against small dim snapshots.
    * `dims` maps a join-key column on the fact side to the dim DataFrame
    * (keyed `id`); applied left-outer so facts without a dim row survive,
    * matching the reference's join-then-mutate semantics.
    */
  def enrich(fact: DataFrame, dims: Seq[(String, DataFrame, String)]): DataFrame =
    dims.foldLeft(fact) { case (acc, (factKey, dim, prefix)) =>
      val renamed = dim.columns.foldLeft(dim)((d, c) => d.withColumnRenamed(c, s"$prefix$c"))
      acc.join(broadcast(renamed), acc(factKey) === renamed(s"${prefix}id"), "left")
    }
}
