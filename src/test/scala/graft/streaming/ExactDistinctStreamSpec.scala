package graft.streaming

import graft.SparkSpec
import graft.functions.ExactDistinct
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ExactDistinctStreamSpec extends SparkSpec {
  import spark.implicits._

  test("exact windowed distinct count in append-mode streaming (A3 exact path)") {
    // the library Aggregator, exercised end-to-end through a streaming window
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (order_id, ts_millis)
    val agg = input.toDF().toDF("order_id", "ts_ms")
      .withColumn("rt", timestamp_millis(col("ts_ms")))
      .withWatermark("rt", "1 second")
      .groupBy(window(col("rt"), "10 seconds"))
      .agg(ExactDistinct(col("order_id")).as("order_count"))
    val q = agg.writeStream.format("memory").queryName("exact_distinct")
      .outputMode("append").start()
    try {
      input.addData((1L, 1000L), (1L, 2000L), (2L, 3000L), (1L, 9000L))
      q.processAllAvailable()
      input.addData((9L, 60000L)) // advance watermark, close window [0,10s)
      q.processAllAvailable()
      val rows = spark.table("exact_distinct").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[Long]("order_count") === 2L) // ids {1, 2}, exact
    } finally q.stop()
  }

  test("provinceStatsExact: per-window counts equal a batch countDistinct (A3)") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val rnd = new scala.util.Random(7)
    // three provinces over three 10s windows, order ids repeating within
    // and across windows
    val rows = (0 until 300).map { _ =>
      val p = rnd.nextInt(3).toLong
      (p, s"p$p", rnd.nextInt(40).toLong, 1.5, base + rnd.nextInt(30000))
    }
    val cols = Seq("province_id", "province_name", "order_id", "split_total_amount", "create_ts")
    val input = MemoryStream[(Long, String, Long, Double, Long)]
    val q = StatsStreams.provinceStatsExact(input.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("province_exact")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((9L, "p9", 0L, 0.0, base + 120000)) // close every window
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("province_exact").filter(col("province_id") =!= 9L)
      .select("stt", "province_id", "order_count").as[(String, Long, Long)].collect().toSet
    val batch = rows.toDF(cols: _*)
      .groupBy(window(timestamp_millis(col("create_ts")), "10 seconds"), col("province_id"))
      .agg(countDistinct(col("order_id")).as("order_count"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        col("province_id"), col("order_count"))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed.size === 9)
    assert(streamed === batch)
  }
}
