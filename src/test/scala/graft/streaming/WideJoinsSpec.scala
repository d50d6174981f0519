package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

case class Oi(id: Long, user_id: Long, total_amount: Double, create_ts: Long)
case class Od(id: Long, order_id: Long, sku_id: Long, order_price: Double, create_ts: Long)
case class Pay(id: Long, order_id: Long, callback_ts: Long)
case class Ow(order_id: Long, sku_id: Long, create_ts: Long)

class WideJoinsSpec extends SparkSpec {
  import spark.implicits._

  test("orderWide interval join honors the ±5s bound (J1), streaming") {
    implicit val sqlCtx = spark.sqlContext
    val oi = MemoryStream[Oi]
    val od = MemoryStream[Od]
    val joined = WideJoins.orderWide(oi.toDF(), od.toDF())
    val q = joined.writeStream.format("memory").queryName("order_wide")
      .outputMode("append").start()
    try {
      oi.addData(Oi(1, 10, 100.0, 10000L), Oi(2, 11, 50.0, 10000L))
      od.addData(
        Od(100, 1, 7, 25.0, 12000L),  // +2s → in bound
        Od(101, 1, 8, 25.0, 6000L),   // −4s → in bound
        Od(102, 1, 9, 25.0, 16000L),  // +6s → out of bound
        Od(103, 3, 9, 25.0, 11000L))  // no matching order
      q.processAllAvailable()
      val got = spark.table("order_wide").select("detail_id").as[Long].collect().toSet
      assert(got === Set(100L, 101L), s"got $got")
    } finally q.stop()
  }

  test("paymentWide honors the asymmetric −15m/+5m bound EXACTLY at both edges (J2)") {
    // the reference's PaymentWideApp.java:85-94 between(-15min, +5min) is
    // CLOSED on both ends: an order exactly 15 min before (or 5 min after)
    // the payment callback joins; one millisecond past either edge drops
    implicit val sqlCtx = spark.sqlContext
    val t = 3600000L // payment callback at 01:00:00
    val pay = MemoryStream[Pay]
    val ow = MemoryStream[Ow]
    val joined = WideJoins.paymentWide(pay.toDF(), ow.toDF())
    val q = joined.writeStream.format("memory").queryName("payment_wide")
      .outputMode("append").start()
    try {
      pay.addData(Pay(500, 1, t))
      ow.addData(
        Ow(1, 1000, t - 900000L),  // exactly −15m → survives (closed bound)
        Ow(1, 1001, t - 900001L),  // 1 ms past the −15m edge → drops
        Ow(1, 2000, t + 300000L),  // exactly +5m → survives (closed bound)
        Ow(1, 2001, t + 300001L))  // 1 ms past the +5m edge → drops
      q.processAllAvailable()
      val got = spark.table("payment_wide").select("sku_id").as[Long].collect().toSet
      assert(got === Set(1000L, 2000L), s"got $got")
      // payment id rides through; the duplicate-named order_id column is dropped
      val cols = spark.table("payment_wide").columns
      assert(cols.contains("payment_id") && !cols.contains("ow_order_id"))
    } finally q.stop()
  }

  test("enrich left-joins broadcast dims and keeps unmatched facts (J3)") {
    val fact = Seq((1L, 10L), (2L, 99L)).toDF("id", "user_key")
    val dim = Seq((10L, "alice", "F")).toDF("id", "name", "gender")
    val out = WideJoins.enrich(fact, Seq(("user_key", dim, "user_")))
    assert(out.count() === 2)
    val byId = out.collect().map(r => r.getLong(0) -> Option(r.getAs[String]("user_name"))).toMap
    assert(byId(1L) === Some("alice"))
    assert(byId(2L) === None)
    // dim side must be broadcast: no shuffle exchange for the dim
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("enrichAsOf: streaming micro-batches == batch native as-of, row for row (J3b)") {
    implicit val sqlCtx = spark.sqlContext
    // SCD2 history: per-user dim versions at distinct event times
    val history = Seq((1L, 0L, "v0"), (1L, 100L, "v1"), (2L, 50L, "w0"))
      .toDF("user_id", "ts", "ver")
    val b1 = Seq((10L, 1L, 40L), (11L, 2L, 40L)) // (click_id, user_id, ts)
    val b2 = Seq((12L, 1L, 150L), (13L, 2L, 60L), (14L, 3L, 10L))
    val input = MemoryStream[(Long, Long, Long)]
    input.addData(b1: _*); input.addData(b2: _*)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[String])]
    // each micro-batch is a plain batch frame, so the native as-of operator
    // applies unchanged inside foreachBatch
    val q = input.toDF().toDF("click_id", "user_id", "ts")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.plans.AsOfJoinNative.asOf(b, history, "user_id", "ts", "ts")
          .select("click_id", "r_ver").collect()
          .map(r => r.getLong(0) -> Option(r.getAs[String]("r_ver")))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()

    // batch face over the union of all micro-batches
    val batch = graft.plans.AsOfJoinNative.asOf(
        (b1 ++ b2).toDF("click_id", "user_id", "ts"), history,
        "user_id", "ts", "ts")
      .select("click_id", "r_ver").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("r_ver"))).toSet
    assert(got.toSet === batch, s"stream ${got.toSet} != batch $batch")
    // lookup-time semantics: each fact sees the version in force at ITS ts
    assert(got.toMap === Map(10L -> Some("v0"), 11L -> None,
      12L -> Some("v1"), 13L -> Some("w0"), 14L -> None))
  }

  test("paymentWide streaming interval join honors [-15m, +5m] (J2)") {
    implicit val sqlCtx = spark.sqlContext
    val pay = MemoryStream[(Long, Long, Long)] // id, order_id, callback_ts
    val ow = MemoryStream[(Long, String, Long)] // order_id, create_time, create_ts
    val joined = WideJoins.paymentWide(
      pay.toDF().toDF("id", "order_id", "callback_ts"),
      ow.toDF().toDF("order_id", "create_time", "create_ts"))
    val q = joined.writeStream.format("memory").queryName("payment_wide")
      .outputMode("append").start()
    try {
      val t = 3600000L // payment callback at t
      pay.addData((1L, 100L, t), (2L, 200L, t))
      ow.addData(
        (100L, "in-bound-10m-before", t - 600000L),
        (200L, "out-of-bound-20m-before", t - 1200000L))
      q.processAllAvailable()
      val got = spark.table("payment_wide").select("order_create_time")
        .collect().map(_.getString(0)).toSet
      assert(got === Set("in-bound-10m-before"), got)
    } finally q.stop()
  }
}
