package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Exactly-once across restarts: a streaming query killed and restarted from
  * its checkpoint must neither lose nor duplicate records — the engine's
  * replacement for the reference's Kafka transactional producer + Flink
  * checkpointing (SURVEY §2.2 K2, utils/MyKafkaUtil.java:39-42).
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
}
