package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HllDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def relErr(est: Long, actual: Long): Double =
    math.abs(est - actual).toDouble / actual

  test("estimates are within HLL error bounds across cardinality regimes") {
    // p=12 → stddev ~1.6%; assert 5% (3 sigma). Deterministic hash ⇒ stable.
    for (n <- Seq(100L, 5000L, 200000L)) {
      val est = Hll.estimate((1L to n).foldLeft(Hll.empty)(Hll.add))
      assert(relErr(est, n) < 0.05, s"n=$n est=$est")
    }
    // tiny cardinalities are exact under linear counting
    assert(Hll.estimate((1L to 10L).foldLeft(Hll.empty)(Hll.add)) === 10L)
    assert(Hll.estimate(Hll.empty) === 0L)
  }

  test("sketch union is the sketch of the union (mergeable, idempotent)") {
    def sketchOf(r: Range) = r.foldLeft(Hll.empty)((b, v) => Hll.add(b, v.toLong))
    val a = sketchOf(1 to 60000)
    val b = sketchOf(30001 to 90000) // overlaps a
    val merged = Hll.merge(sketchOf(1 to 60000), b)
    assert(merged.toSeq === sketchOf(1 to 90000).toSeq) // register-exact
    // re-merging the same sketch changes nothing (max is idempotent)
    assert(Hll.merge(merged.clone(), a).toSeq === merged.toSeq)
  }

  test("aggregator distributes: groupBy estimate matches single-node sketch") {
    val n = 50000L
    val df = spark.range(n).select((col("id") % 10).as("k"), col("id"))
      .repartition(8)
    val perKey = df.groupBy("k").agg(HllDistinct.asUdaf(col("id")).as("dc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each key sees n/10 = 5000 distinct ids
    perKey.values.foreach(est => assert(relErr(est, n / 10) < 0.05, perKey))
  }

  test("persisted per-window sketches roll up without rescanning (the re-agg path)") {
    // simulate: distinct users per (day, province) stored as sketches...
    val events = spark.range(30000).select(
      (col("id") % 3).as("day"), (col("id") % 2).as("province"),
      (col("id") % 9000).as("user_id")) // users recur across days/provinces
    val daily = events.groupBy("day", "province")
      .agg(HllSketch.asUdaf(col("user_id")).as("sketch"))
    // ...then a month/country rollup merges sketches only
    val total = daily.groupBy()
      .agg(HllMergeCount.asUdaf(col("sketch")).as("dc")).head.getLong(0)
    val exact = events.select("user_id").distinct().count()
    assert(relErr(total, exact) < 0.05, s"rollup=$total exact=$exact")
    // and one stored sketch estimates directly
    val one = Hll.estimate(daily.head.getAs[Array[Byte]]("sketch"))
    assert(one > 0)
  }

  test("streaming windowed distinct keeps constant state and estimates correctly (A3)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Double, Long)]
    // the sketch kept as a column of a 10s event-time window per province
    val out = input.toDF()
      .toDF("province_id", "province_name", "order_id", "split_total_amount", "create_ts")
      .withColumn("rt", timestamp_millis(col("create_ts")))
      .withWatermark("rt", "1 second")
      .groupBy(window(col("rt"), "10 seconds"), col("province_id"))
      .agg(HllSketch.asUdaf(col("order_id")).as("order_count_sketch"),
        sum(col("split_total_amount")).as("order_amount"))
    val q = out.writeStream.format("memory").queryName("province_hll")
      .outputMode("append").start()
    try {
      val base = 1700000000000L
      // 200 orders in one 10s window, each order id twice (distinct = 200)
      input.addData((0 until 400).map(i =>
        (1L, "hebei", (i % 200).toLong, 1.0, base + (i % 10) * 1000)): _*)
      input.addData((1L, "hebei", 999L, 1.0, base + 60000)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("province_hll")
        .filter(col("province_id") === 1L && col("order_amount") > 1.0)
        .collect()
      assert(rows.nonEmpty)
      val r = rows.head
      assert(relErr(Hll.estimate(r.getAs[Array[Byte]]("order_count_sketch")), 200L) < 0.05)
      assert(r.getAs[Array[Byte]]("order_count_sketch").length === Hll.M) // 4 KiB state
      assert(r.getAs[Double]("order_amount") === 400.0)
    } finally q.stop()
  }
}
