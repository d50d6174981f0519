package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** CDC ingestion over a topic: the snapshot phase is a batch of insert
  * envelopes written into the topic before the tail starts, and the tail is
  * `DbRouter.decodeEnvelope` over the bus (S1 `StartupOptions.initial`).
  */
class CdcSourceSpec extends SparkSpec {

  test("snapshot-then-tail: seeded state arrives before live changes (S1 initial)") {
    // a FileBus topic is the directory <root>/<topic>
    val bus = FileBus(tempDir("cdc_bus"))
    val topic = s"${bus.root}/ods_base_db"
    // phase 1: snapshot of the current table state, as insert envelopes
    Files.createDirectories(Paths.get(topic))
    Files.writeString(Paths.get(s"$topic/snapshot.json"), Seq(
      """{"database":"g","tableName":"user_info","before":null,"after":"{\"id\":1,\"name\":\"alice\"}","type":"insert","ts":0}""",
      """{"database":"g","tableName":"user_info","before":null,"after":"{\"id\":2,\"name\":\"bob\"}","type":"insert","ts":0}""")
      .mkString("\n"))

    val out = tempDir("cdc_out")
    val ckpt = tempDir("cdc_ckpt")
    val q = graft.streaming.DbRouter.decodeEnvelope(bus.tail(spark, "ods_base_db"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val phase1 = spark.read.parquet(out)
      assert(phase1.count() === 2)            // snapshot visible
      assert(phase1.select("type").distinct().head.getString(0) === "insert")

      // phase 2: live binlog tail (update + delete)
      Files.writeString(Paths.get(s"$topic/live1.json"), Seq(
        """{"database":"g","tableName":"user_info","before":null,"after":"{\"id\":\"1\",\"name\":\"alice2\"}","type":"update"}""",
        """{"database":"g","tableName":"user_info","before":null,"after":"{\"id\":\"2\"}","type":"delete"}""")
        .mkString("\n"))
      q.processAllAvailable()
      val all = spark.read.parquet(out)
      assert(all.count() === 3)               // delete filtered (P3), update tailed
      assert(all.filter(col("type") === "update").count() === 1)
    } finally q.stop()
  }
}
