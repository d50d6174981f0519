package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end demo of the full warehouse topology (SURVEY §0) over file
  * streams — each reference Kafka topic is a directory, each layer a
  * Structured Streaming query:
  *
  *   ODS  testdata → CDC-envelope JSON (`ods_base_db/`) + behavior-log JSON
  *        (`ods_base_log/`)   [mock generators of app/dwd/BaseLogApp.java:21]
  *   DWD  envelope stream → DbRouter → per-topic fact dirs + dim snapshots
  *        (BaseDBApp); log stream → parse/split (BaseLogApp)
  *   DWM  order_info ⋈ order_detail interval join (OrderWideApp) + broadcast
  *        dim enrichment; UniqueVisit; UserJump
  *   DWS  10s windowed visitor stats (VisitorStatsApp)
  *
  * Run: `sbt "runMain graft.streaming.WarehouseMain [sfDir] [workDir]"`.
  * Prints one summary line per layer; exits 0 when every layer produced rows.
  */
object WarehouseMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-warehouse")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, work)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, work: String): Unit = {
    // ---- ODS: materialize the two source topics from testdata -------------
    val orders = Tables.table(spark, sfDir, "orders")
    val lineitem = Tables.table(spark, sfDir, "lineitem")
    val customer = Tables.table(spark, sfDir, "customer")
    val events = Tables.table(spark, sfDir, "events")

    def envelope(tbl: String, after: org.apache.spark.sql.Column) =
      to_json(struct(lit("gmall-flink").as("database"), lit(tbl).as("tableName"),
        lit(null).cast("string").as("before"), to_json(after).as("after"),
        lit("insert").as("type"))).as("value")

    val oiEnv = orders.select(envelope("order_info", struct(
      col("o_orderkey").as("id"), col("o_custkey").as("user_id"),
      col("o_totalprice").as("total_amount"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("create_time"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("create_ts"))))
    // order_detail rows carry the parent order's event time (the reference's
    // order_detail.create_time mirrors order_info within the ±5s bound)
    val odEnv = lineitem.join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .select(envelope("order_detail", struct(
        (col("l_orderkey") * 100 + col("l_linenumber")).as("id"),
        col("l_orderkey").as("order_id"), col("l_partkey").as("sku_id"),
        col("l_extendedprice").as("order_price"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("create_ts"))))
    val dimEnv = customer.select(envelope("user_info", struct(
      col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"))))
    // payments: callback 10 minutes after order creation (within the −15m
    // bound of J2, app/dwm/PaymentWideApp.java:87)
    val payEnv = orders.select(envelope("payment_info", struct(
      (col("o_orderkey") + 1000000).as("id"), col("o_orderkey").as("order_id"),
      col("o_totalprice").as("total_amount"),
      (unix_millis(col("o_orderdate").cast("timestamp")) + 600000L).as("callback_ts"))))
    oiEnv.unionByName(odEnv).unionByName(dimEnv).unionByName(payEnv)
      .write.mode("overwrite").text(s"$work/ods_base_db")

    events.select(to_json(struct(
        struct(concat(lit("mid_"), col("user_id")).as("mid"), lit("1").as("is_new"),
          lit("v1").as("vc"), lit("app").as("ch"), lit("110000").as("ar")).as("common"),
        struct(col("event_type").as("page_id"),
          when(col("event_type") === "signup", "").otherwise("home").as("last_page_id"),
          (col("value") * 100).cast("long").as("during_time")).as("page"),
        unix_millis(col("ts")).as("ts"))).as("value"))
      .write.mode("overwrite").text(s"$work/ods_base_log")

    // topic transport: a file bus over the ODS text files written above. A
    // deployment whose ODS topics arrive on Kafka reads them through
    // TopicIO.fromConf (spark.graft.bus=kafka://…) instead, and writes no ODS
    val bus = graft.sources.FileBus(work)

    // ---- DWD: CDC router (BaseDBApp) --------------------------------------
    val rules = Seq(
      RouteRule("order_info", "insert", "kafka", "dwd_order_info",
        Seq("id", "user_id", "total_amount", "create_time", "create_ts"), "id"),
      RouteRule("order_detail", "insert", "kafka", "dwd_order_detail",
        Seq("id", "order_id", "sku_id", "order_price", "create_ts"), "id"),
      RouteRule("payment_info", "insert", "kafka", "dwd_payment_info",
        Seq("id", "order_id", "total_amount", "callback_ts"), "id"),
      RouteRule("user_info", "insert", "hbase", "dim_user_info",
        Seq("id", "name", "segment", "acctbal"), "id"))
    val router = new DbRouter(rules, s"$work/sinks")
    val dbStream = DbRouter.decodeEnvelope(bus.tail(spark, "ods_base_db"))
    val q1 = dbStream.writeStream.foreachBatch(router.processBatch _)
      .option("checkpointLocation", s"$work/ckpt/db").start()
    q1.processAllAvailable(); q1.stop()

    val facts = DbRouter.readTopic(spark, s"$work/sinks", "dwd_order_info")
    val details = DbRouter.readTopic(spark, s"$work/sinks", "dwd_order_detail")
    val dimUser = spark.read.parquet(s"$work/sinks/dim/dim_user_info")
    println(s"DWD facts=${facts.count()} details=${details.count()} dim_user=${dimUser.count()}")

    // ---- DWD: log pipeline (BaseLogApp) -----------------------------------
    val (clean, dirty) = LogPipeline.parse(bus.tail(spark, "ods_base_log"))
    val pages = clean.select(col("common.mid").as("mid"),
      col("page.page_id").as("page_id"), col("page.last_page_id").as("last_page_id"),
      col("ts"))
    val q2 = LogPipeline.uniqueVisit(pages)
      .writeStream.format("parquet").option("path", s"$work/sinks/dwm_unique_visit")
      .option("checkpointLocation", s"$work/ckpt/uv").outputMode("append").start()
    val q3 = UserJump.detect(spark, pages)
      .writeStream.format("parquet").option("path", s"$work/sinks/dwm_user_jump")
      .option("checkpointLocation", s"$work/ckpt/uj").outputMode("append").start()
    // DWS visitor stats from the same page stream
    val vs = clean.select(col("common"),
      struct(col("page.during_time").as("during_time")).as("page"), col("ts"))
    val q4 = StatsStreams.visitorStats(vs)
      .writeStream.format("parquet").option("path", s"$work/sinks/dws_visitor_stats")
      .option("checkpointLocation", s"$work/ckpt/vs").outputMode("append").start()
    Seq(q2, q3, q4).foreach(_.processAllAvailable())
    Seq(q2, q3, q4).foreach(_.stop())

    // ---- DWM: exact-TTL unique-visit dedup (UniqueVisitApp via
    // transformWithState) — RocksDB-backed keyed state with 24h TTL; driven
    // with AvailableNow and stopped once the log topic is committed
    // (processing-time TTL keeps the query running no-data batches)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val qTws = UniqueVisitTws(spark, bus.tail(spark, "ods_base_log")
          .transform(raw => LogPipeline.parse(raw)._1)
          .select(col("common.mid").as("mid"), col("page.page_id").as("page_id"),
            col("page.last_page_id").as("last_page_id"), col("ts")))
        .writeStream.format("parquet")
        .option("path", s"$work/sinks/dwm_unique_visit_tws")
        .option("checkpointLocation", s"$work/ckpt/uv_tws")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      UniqueVisitTws.stopWhenCommitted(qTws)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    // ---- DWM: order-wide interval join + dim enrichment (OrderWideApp) ----
    // router payloads are all-string (the reference's all-varchar dims,
    // TableProcessFunction.java:88-105) — restore numeric types at the edge
    val oiStream = spark.readStream.schema(facts.schema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$work/sinks/kafka/dwd_order_info")
      .withColumn("create_ts", col("create_ts").cast("long"))
      .withColumn("user_id", col("user_id").cast("long"))
    val odStream = spark.readStream.schema(details.schema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$work/sinks/kafka/dwd_order_detail")
      .withColumn("create_ts", col("create_ts").cast("long"))
    val wide = WideJoins.orderWide(oiStream, odStream)
    // prefix must not collide with fact columns (fact already has user_id)
    val enriched = WideJoins.enrich(wide, Seq(("user_id", dimUser, "dim_user_")))
    val q5 = enriched.drop("oi_time", "od_time")
      .writeStream.format("parquet").option("path", s"$work/sinks/dwm_order_wide")
      .option("checkpointLocation", s"$work/ckpt/ow").outputMode("append").start()
    q5.processAllAvailable(); q5.stop()

    // ---- DWM: payment-wide interval join (PaymentWideApp, J2) -------------
    val payBatch = DbRouter.readTopic(spark, s"$work/sinks", "dwd_payment_info")
    val payStream = spark.readStream.schema(payBatch.schema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$work/sinks/kafka/dwd_payment_info")
      .withColumn("callback_ts", col("callback_ts").cast("long"))
      .withColumn("order_id", col("order_id").cast("long"))
      // order_wide carries its own total_amount (PaymentWide renames clash
      // fields, bean/PaymentWide.java:82) — payment side gets the sink name
      .withColumnRenamed("total_amount", "payment_amount")
    val owBatch = spark.read.parquet(s"$work/sinks/dwm_order_wide")
    val owStream = spark.readStream.schema(owBatch.schema)
      .parquet(s"$work/sinks/dwm_order_wide")
      .withColumn("order_id", col("order_id").cast("long"))
      .withColumn("create_ts", col("create_ts").cast("long"))
    val q6 = WideJoins.paymentWide(payStream, owStream)
      .drop("pay_time", "ow_time")
      .writeStream.format("parquet").option("path", s"$work/sinks/dwm_payment_wide")
      .option("checkpointLocation", s"$work/ckpt/pw").outputMode("append").start()
    q6.processAllAvailable(); q6.stop()

    val counts = Map(
      "dwm_payment_wide" -> spark.read.parquet(s"$work/sinks/dwm_payment_wide").count(),
      "dwm_order_wide" -> spark.read.parquet(s"$work/sinks/dwm_order_wide").count(),
      "dwm_unique_visit" -> spark.read.parquet(s"$work/sinks/dwm_unique_visit").count(),
      "dwm_unique_visit_tws" -> spark.read.parquet(s"$work/sinks/dwm_unique_visit_tws").count(),
      "dwm_user_jump" -> spark.read.parquet(s"$work/sinks/dwm_user_jump").count(),
      "dws_visitor_stats" -> spark.read.parquet(s"$work/sinks/dws_visitor_stats").count())
    counts.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"$k=$v") }
    val ok = counts.values.forall(_ > 0)
    println(s"""{"warehouse":"${if (ok) "ok" else "EMPTY_LAYER"}","workDir":"$work"}""")
    require(ok, s"some layer produced no rows: $counts")
  }
}
