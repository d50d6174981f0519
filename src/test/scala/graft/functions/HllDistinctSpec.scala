package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-state distinct counts on Spark's own HLL sketches
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`): accuracy,
  * mergeability, distribution, stored-sketch rollup and the streaming
  * windowed form (A3's bounded-state alternative to [[ExactDistinct]]).
  */
class HllDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def relErr(est: Long, actual: Long): Double =
    math.abs(est - actual).toDouble / actual

  /** The distinct-count estimate of `ids`'s `id` column. */
  private def estimate(ids: org.apache.spark.sql.Dataset[_]): Long =
    ids.select(hll_sketch_estimate(hll_sketch_agg(col("id"), 12))).head.getLong(0)

  test("estimates are within HLL error bounds across cardinality regimes") {
    // lgConfigK = 12 → stddev ~1.6%; assert 5% (3 sigma). Deterministic hash ⇒ stable.
    for (n <- Seq(100L, 5000L, 200000L)) {
      val est = estimate(spark.range(1, n + 1))
      assert(relErr(est, n) < 0.05, s"n=$n est=$est")
    }
    // tiny cardinalities are exact (the sketch still lists its coupons)
    assert(estimate(spark.range(1, 11)) === 10L)
    assert(estimate(spark.range(0)) === 0L)
  }

  test("sketch union is the sketch of the union (mergeable, idempotent)") {
    def sketchOf(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi + 1).select(hll_sketch_agg(col("id"), 12).as("s"))
    def union(parts: DataFrame*): Array[Byte] =
      parts.reduce(_ union _).select(hll_union_agg(col("s"))).head.getAs[Array[Byte]](0)
    val a = sketchOf(1, 60000)
    val b = sketchOf(30001, 90000) // overlaps a
    val merged = union(a, b)
    assert(merged.toSeq === union(sketchOf(1, 90000)).toSeq) // register-exact
    // re-merging the same sketch changes nothing (max is idempotent)
    assert(union(Seq(merged).toDF("s"), a).toSeq === merged.toSeq)
  }

  test("aggregator distributes: groupBy estimate matches single-node sketch") {
    val n = 50000L
    val df = spark.range(n).select((col("id") % 10).as("k"), col("id"))
      .repartition(8)
    val perKey = df.groupBy("k")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("id"), 12)).as("dc"))
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
      .agg(hll_sketch_agg(col("user_id"), 12).as("sketch"))
    // ...then a month/country rollup merges sketches only
    val total = daily.groupBy()
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("dc")).head.getLong(0)
    val exact = events.select("user_id").distinct().count()
    assert(relErr(total, exact) < 0.05, s"rollup=$total exact=$exact")
    // and one stored sketch estimates directly
    val one = daily.select(hll_sketch_estimate(col("sketch"))).head.getLong(0)
    assert(one > 0)
  }

  test("streaming windowed distinct keeps constant state and estimates correctly (A3)") {
    import org.apache.datasketches.hll.{HllSketch, TgtHllType}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Double, Long)]
    // the sketch kept as a column of a 10s event-time window per province
    val out = input.toDF()
      .toDF("province_id", "province_name", "order_id", "split_total_amount", "create_ts")
      .withColumn("rt", timestamp_millis(col("create_ts")))
      .withWatermark("rt", "1 second")
      .groupBy(window(col("rt"), "10 seconds"), col("province_id"))
      .agg(hll_sketch_agg(col("order_id"), 12).as("order_count_sketch"),
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
        .select(hll_sketch_estimate(col("order_count_sketch")).as("dc"),
          col("order_count_sketch"), col("order_amount"))
        .collect()
      assert(rows.nonEmpty)
      val r = rows.head
      assert(relErr(r.getAs[Long]("dc"), 200L) < 0.05)
      // constant-bounded state per window. Spark's sketch targets HLL_8
      // (4136 bytes once dense); 200 ids still fit its coupon set (2060
      // bytes), under even the HLL_4 ceiling
      assert(r.getAs[Array[Byte]]("order_count_sketch").length <=
        HllSketch.getMaxUpdatableSerializationBytes(12, TgtHllType.HLL_4))
      assert(r.getAs[Double]("order_amount") === 400.0)
    } finally q.stop()
  }
}
