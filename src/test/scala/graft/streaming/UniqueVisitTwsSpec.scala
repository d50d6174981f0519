package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

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
      def runOnce(): Unit = UniqueVisitTws.stopWhenCommitted(
        UniqueVisitTws(spark, input.toDF())
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .outputMode("append").start())
      input.addData(
        PageEvent("m1", "home", "", 1000L),
        PageEvent("m1", "home", "", 7200000L),       // same day, second entry
        PageEvent("m1", "detail", "home", 2000L),    // not an entry page
        PageEvent("m2", "home", "", 5000L))
      runOnce()
      input.addData(PageEvent("m1", "home", "", 90000000L)) // next day
      runOnce() // state (incl. TTL config) survives the restart via checkpoint
      val got = spark.read.parquet(out).as[PageEvent].collect()
        .map(e => (e.mid, e.ts)).toSet
      assert(got === Set(("m1", 1000L), ("m2", 5000L), ("m1", 90000000L)))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("a run of more batches than the progress history holds stops once its input is committed") {
    // the session keeps 2 progress updates while the tail takes 3 one-file
    // batches: the stop must not depend on the retained history
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2")
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val work = tempDir("uv_tws_history")
    val files = Seq(
      Seq("""{"mid":"m1","page_id":"home","last_page_id":"","ts":1000}"""),
      Seq("""{"mid":"m2","page_id":"home","last_page_id":"","ts":2000}"""),
      Seq("""{"mid":"m1","page_id":"home","last_page_id":"","ts":3000}""", // same day
        """{"mid":"m3","page_id":"home","last_page_id":"","ts":4000}"""))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/topics/pages"))
    files.zipWithIndex.foreach { case (lines, i) =>
      val f = java.nio.file.Paths.get(s"$work/topics/pages/part-$i.json")
      java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      // the file source takes files oldest first
      f.toFile.setLastModified(1000000000000L + i * 1000L)
    }
    val pages = graft.sources.FileBus(s"$work/topics")
      .tail(session, "pages", maxPerTrigger = Some(1))
      .select(from_json(col("value"), StructType.fromDDL(
        "mid STRING, page_id STRING, last_page_id STRING, ts BIGINT")).as("p"))
      .select("p.*")
    val q = UniqueVisitTws(session, pages)
      .writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .outputMode("append").start()
    UniqueVisitTws.stopWhenCommitted(q)
    assert(q.lastProgress.batchId >= 3, "the three files took fewer than three batches")
    val got = spark.read.parquet(s"$work/out").as[PageEvent].collect()
      .map(e => (e.mid, e.ts)).toSet
    assert(got === Set(("m1", 1000L), ("m2", 2000L), ("m3", 4000L)))
  }
}
