package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class UniqueVisitTwsSpec extends SparkSpec {
  import spark.implicits._

  test("transformWithState keeps first entry visit per (mid, day) with TTL state (A5/W7)") {
    // TWS requires the RocksDB state store; processing-time TTL keeps the
    // query busy with no-data batches, so each AvailableNow run against the
    // one checkpoint is stopped once its input is committed.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val work = tempDir("uv_tws")
    val ckpt = s"$work/ckpt"; val out = s"$work/out"
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[PageEvent]
      def runOnce(rows: Long): Unit = UniqueVisitTws.stopWhenCommitted(
        UniqueVisitTws(spark, input.toDF())
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .outputMode("append").start(), rows)
      input.addData(
        PageEvent("m1", "home", "", 1000L),
        PageEvent("m1", "home", "", 7200000L),       // same day, second entry
        PageEvent("m1", "detail", "home", 2000L),    // not an entry page
        PageEvent("m2", "home", "", 5000L))
      runOnce(4)
      input.addData(PageEvent("m1", "home", "", 90000000L)) // next day
      runOnce(1) // state (incl. TTL config) survives the restart via checkpoint
      val got = spark.read.parquet(out).as[PageEvent].collect()
        .map(e => (e.mid, e.ts)).toSet
      assert(got === Set(("m1", 1000L), ("m2", 5000L), ("m1", 90000000L)))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
