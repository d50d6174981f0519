package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.GraftSparkInternals
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.GraftStateInternals
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A stateful query's in-memory state belongs to its run: once a run has
  * ended and the listener bus has delivered its termination, no state-store
  * provider of that run is loaded in this JVM, while a run still active
  * keeps its own. Each stateful builder of the warehouse runs over the
  * sf0.001 tables under `Trigger.AvailableNow`.
  */
class StateReleaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val work = tempDir("state_release")
  private lazy val orders = Tables.table(spark, sf, "orders")
  private lazy val events = Tables.table(spark, sf, "events")
  private def orderMs = unix_millis(col("o_orderdate").cast("timestamp"))

  /** `df` written once as parquet and read back as a file stream. */
  private def fileStream(df: DataFrame, name: String): DataFrame = {
    df.write.parquet(s"$work/in/$name")
    spark.readStream.schema(df.schema).parquet(s"$work/in/$name")
  }

  private lazy val orderInfo = fileStream(orders.select(col("o_orderkey").as("id"),
    col("o_custkey").as("user_id"), col("o_totalprice").as("total_amount"),
    orderMs.as("create_ts")), "order_info")

  private lazy val orderDetail = fileStream(Tables.table(spark, sf, "lineitem")
    .join(orders, col("l_orderkey") === col("o_orderkey"))
    .select((col("l_orderkey") * 100 + col("l_linenumber")).as("id"),
      col("l_orderkey").as("order_id"), col("l_partkey").as("sku_id"),
      col("l_extendedprice").as("order_price"),
      orderMs.as("create_ts")), "order_detail")

  private lazy val pages = fileStream(events.select(
    concat(lit("mid_"), col("user_id")).as("mid"), col("event_type").as("page_id"),
    when(col("event_type") === "signup", "").otherwise("home").as("last_page_id"),
    unix_millis(col("ts")).as("ts")), "pages")

  /** `df` run to its end under AvailableNow into a parquet sink named `name`. */
  private def drain(df: DataFrame, name: String): StreamingQuery = {
    val q = start(df, name, Trigger.AvailableNow())
    try q.awaitTermination() finally q.stop()
    q
  }

  private def start(df: DataFrame, name: String, trigger: Trigger): StreamingQuery =
    df.writeStream.format("parquet").option("path", s"$work/out/$name")
      .option("checkpointLocation", s"$work/ckpt/$name")
      .trigger(trigger).outputMode("append").start()

  private def sink(name: String): DataFrame = spark.read.parquet(s"$work/out/$name")

  /** The run of `q` kept state, has ended, and none of its providers is
    * still loaded once the listener bus has delivered its termination.
    */
  private def assertReleased(q: StreamingQuery): Unit = {
    assert(!q.isActive)
    val ops = q.recentProgress.flatMap(_.stateOperators)
    assert(ops.nonEmpty && ops.map(_.numRowsUpdated).sum > 0, s"${q.name}: no state kept")
    GraftSparkInternals.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    val left = GraftStateInternals.loadedProviders(q.runId)
    assert(left.isEmpty, s"${left.size} providers of the stopped run still loaded")
  }

  test("order-wide and payment-wide runs release their join state when they end (J1, J2)") {
    val ow = drain(WideJoins.orderWide(orderInfo, orderDetail).drop("oi_time", "od_time"), "ow")
    assertReleased(ow)
    val owRows = sink("ow")
    assert(owRows.count() === Tables.table(spark, sf, "lineitem").count())

    val pay = fileStream(orders.select((col("o_orderkey") + 1000000).as("id"),
      col("o_orderkey").as("order_id"),
      (orderMs + 600000L).as("callback_ts")), "payment_info")
    val pw = drain(WideJoins.paymentWide(pay,
      spark.readStream.schema(owRows.schema).parquet(s"$work/out/ow"))
      .drop("pay_time", "ow_time"), "pw")
    assertReleased(pw)
    assert(sink("pw").count() === owRows.count())
  }

  test("uniqueVisit, fixIsNew, UserJump.detect and visitorStats runs release their state (A5, A6, W6, A1)") {
    assertReleased(drain(LogPipeline.uniqueVisit(pages), "uv"))
    assert(sink("uv").count() > 0)
    assertReleased(drain(LogPipeline.fixIsNew(spark, pages.select(
      struct(col("mid"), lit("1").as("is_new")).as("common"), col("ts"))), "is_new"))
    assert(sink("is_new").count() === events.count())
    assertReleased(drain(UserJump.detect(spark, pages).toDF(), "uj"))
    assertReleased(drain(StatsStreams.visitorStats(pages.select(
      struct(lit("v1").as("vc"), lit("app").as("ch"), lit("110000").as("ar"),
        lit("1").as("is_new")).as("common"),
      struct(lit(1L).as("during_time")).as("page"), col("ts"))), "vs"))
  }

  test("a UniqueVisitTws run on the RocksDB provider releases its state when stopped (A5/W7)") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = try start(UniqueVisitTws(spark, pages).toDF(), "uv_tws", Trigger.AvailableNow())
      finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    UniqueVisitTws.stopWhenCommitted(q)
    assertReleased(q)
    assert(sink("uv_tws").count() > 0)
  }

  test("a run still active keeps its state while another run's is released") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PageEvent]
    val live = LogPipeline.uniqueVisit(input.toDF()).writeStream.format("memory")
      .queryName("uv_live").outputMode("append").start()
    try {
      input.addData(PageEvent("m1", "home", "", 1000L), PageEvent("m2", "home", "", 2000L))
      live.processAllAvailable()
      val held = GraftStateInternals.loadedProviders(live.runId)
      assert(held.nonEmpty)

      assertReleased(drain(UserJump.detect(spark, pages).toDF(), "uj_beside_live"))
      assert(GraftStateInternals.loadedProviders(live.runId).toSet === held.toSet)

      // m1's second entry the same day is a duplicate only if the live
      // run's dedup state survived the other run's release
      input.addData(PageEvent("m1", "home", "", 5000L), PageEvent("m3", "home", "", 6000L))
      live.processAllAvailable()
      assert(spark.table("uv_live").select("mid", "ts").as[(String, Long)].collect().toSet ===
        Set(("m1", 1000L), ("m2", 2000L), ("m3", 6000L)))
    } finally live.stop()
  }
}
