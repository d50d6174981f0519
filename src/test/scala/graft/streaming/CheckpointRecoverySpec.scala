package graft.streaming

import graft.SparkSpec
import org.apache.spark.GraftSparkInternals
import org.apache.spark.sql.execution.streaming.state.GraftStateInternals
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Exactly-once across restarts: a streaming query killed and restarted from
  * its checkpoint must neither lose nor duplicate records — the engine's
  * replacement for the reference's Kafka transactional producer + Flink
  * checkpointing (SURVEY §2.2 K2, utils/MyKafkaUtil.java:39-42). A
  * stateful query's in-memory state is released when its run stops, so a
  * restart rebuilds that state from the checkpoint alone.
  */
class CheckpointRecoverySpec extends SparkSpec {

  test("file-stream → parquet sink resumes from checkpoint without dupes") {
    val work = tempDir("graft_ckpt")
    val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(in))

    def write(name: String, lines: Seq[String]): Unit =
      Files.writeString(Paths.get(s"$in/$name"), lines.mkString("\n"))

    def start() = spark.readStream.schema("value STRING").text(in)
      .withColumn("n", col("value").cast("long"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    write("a.txt", (1 to 100).map(_.toString))
    val q1 = start()
    q1.processAllAvailable(); q1.stop()   // simulate shutdown after batch 0

    write("b.txt", (101 to 200).map(_.toString))
    val q2 = start()                      // restart from the same checkpoint
    q2.processAllAvailable(); q2.stop()

    val res = spark.read.parquet(out)
    assert(res.count() === 200L)                               // nothing lost
    assert(res.select("n").distinct().count() === 200L)        // nothing duplicated
    assert(res.agg(sum("n")).head.getLong(0) === (1L to 200L).sum)
  }

  test("stateful dedup resumes from its checkpoint after its run's state is released") {
    import spark.implicits._
    val work = tempDir("graft_ckpt_uv")
    def write(run: String, rows: Seq[PageEvent]): Unit =
      rows.toDF().write.mode("append").parquet(s"$work/$run/in")
    def start(run: String) = LogPipeline.uniqueVisit(
        spark.readStream.schema(Seq.empty[PageEvent].toDF().schema).parquet(s"$work/$run/in"))
      .writeStream.format("parquet").option("path", s"$work/$run/out")
      .option("checkpointLocation", s"$work/$run/ckpt").outputMode("append").start()
    def rows(run: String) = spark.read.parquet(s"$work/$run/out")
      .select("mid", "ts").as[(String, Long)].collect().toSeq.sorted

    val first = Seq(PageEvent("m1", "home", "", 1000L),
      PageEvent("m1", "detail", "home", 2000L), PageEvent("m2", "home", "", 3000L))
    val more = Seq(PageEvent("m1", "home", "", 5000L), // m1's second entry that day
      PageEvent("m3", "home", "", 6000L), PageEvent("m1", "home", "", 90000000L)) // next day

    // stopped after batch 0, its state released, restarted with more input
    write("restarted", first)
    val q1 = start("restarted")
    q1.processAllAvailable(); q1.stop()
    GraftSparkInternals.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    assert(GraftStateInternals.loadedProviders(q1.runId).isEmpty)
    write("restarted", more)
    val q2 = start("restarted")
    q2.processAllAvailable(); q2.stop()

    // one uninterrupted run over the same two arrivals
    write("uninterrupted", first)
    val q = start("uninterrupted")
    try {
      q.processAllAvailable()
      write("uninterrupted", more)
      q.processAllAvailable()
    } finally q.stop()

    assert(rows("restarted") === rows("uninterrupted"))
    assert(rows("restarted") ===
      Seq(("m1", 1000L), ("m1", 90000000L), ("m2", 3000L), ("m3", 6000L)))
  }
}
