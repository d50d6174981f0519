package graft.sinks

import graft.SparkSpec
import graft.ads.Publisher
import org.apache.spark.sql.functions._

class WritersSpec extends SparkSpec {
  import spark.implicits._

  test("dropTransient removes bookkeeping columns (K4 @TransientSink)") {
    val df = Seq((1L, "a", 2L)).toDF("id", "name", "order_id_set")
    assert(Writers.dropTransient(df, Seq("order_id_set")).columns.toSeq === Seq("id", "name"))
  }

  test("writeDynamicTopics routes each record to its topic dir in one job (K2)") {
    // the dynamic producer is the topic bus's appendDynamic
    val bus = graft.sources.FileBus(tempDir("topics"))
    val df = Seq(
      ("dwd_order_info", 1L, "x"), ("dwd_order_info", 2L, "y"),
      ("dwd_page_log", 3L, "z")).toDF("sinkTable", "id", "payload")
    bus.appendDynamic(df.select(col("sinkTable"),
      to_json(struct(col("id"), col("payload"))).as("value")), "sinkTable")
    val orders = bus.read(spark, "dwd_order_info")
    val pages = bus.read(spark, "dwd_page_log")
    assert(orders.count() === 2 && pages.count() === 1)
    assert(pages.head.getString(0) === """{"id":3,"payload":"z"}""")
  }

  test("writeJdbc round-trips a stats frame through a live embedded database (K4)") {
    // Derby ships in the Spark jars dir — a real JDBC write+read, in-process
    // (parity: ClickHouseUtil.getSink's batched PreparedStatement inserts,
    // utils/ClickHouseUtil.java:41-70)
    System.setProperty("derby.stream.error.file", "/tmp/derby_graft.log")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val df = Seq(("p1", 10L, 99.5), ("p2", 3L, 10.0)).toDF("sku", "ct", "amount")
      .withColumn("internal_set", lit("DROP_ME"))
    Writers.writeJdbc(df, url, "product_stats", transientCols = Seq("internal_set"))

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "product_stats").load()
    assert(back.columns.map(_.toLowerCase).toSet === Set("sku", "ct", "amount"))
    val rows = back.collect().map(r =>
      (r.getAs[String]("sku"), r.getAs[Long]("ct"), r.getAs[Double]("amount"))).toSet
    assert(rows === Set(("p1", 10L, 99.5), ("p2", 3L, 10.0)))

    // the sink appends (streaming micro-batches accumulate), never clobbers
    Writers.writeJdbc(df, url, "product_stats", transientCols = Seq("internal_set"))
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "product_stats").load().count() === 4)
  }

  test("publisher gmvByDay filters by yyyyMMdd over stt (K6/A7)") {
    val stats = Seq(
      ("2024-01-01 00:00:00", 10.0), ("2024-01-01 12:00:10", 5.0),
      ("2024-01-02 00:00:00", 99.0)).toDF("stt", "order_amount")
    val gmv = Publisher.gmvByDay(stats, "20240101").head.getDouble(0)
    assert(gmv === 15.0)
  }

  test("publisher topSeries returns descending top-n (dashboard rollup)") {
    val stats = Seq(("p1", 5.0), ("p2", 50.0), ("p1", 10.0), ("p3", 1.0))
      .toDF("province", "order_amount")
    val top = Publisher.topSeries(stats, "province", "order_amount", 2).collect()
    assert(top.map(_.getString(0)).toSeq === Seq("p2", "p1"))
    assert(top.head.getDouble(1) === 50.0)
  }
}
