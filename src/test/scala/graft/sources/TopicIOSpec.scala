package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** No-broker contract test for the topic transport (S3/S4/K1/K2): the file
  * and kafka buses must present IDENTICAL schemas, and the kafka bus must be
  * configured with exactly the reference factory's options
  * (utils/MyKafkaUtil.java:19-57) — asserted as data, since no broker (or
  * kafka connector jar) exists in the sandbox.
  */
class TopicIOSpec extends SparkSpec {
  import spark.implicits._

  test("FileBus round-trips values and presents the contract schema") {
    val root = tempDir("bus")
    val bus = FileBus(root)
    bus.append(Seq("a", "b").toDF("value"), "t1")
    bus.append(Seq("c").toDF("value"), "t1") // append, not overwrite

    val batch = bus.read(spark, "t1")
    assert(batch.schema === TopicIO.valueSchema)
    assert(batch.as[String].collect().sorted.toSeq === Seq("a", "b", "c"))

    val stream = bus.tail(spark, "t1")
    assert(stream.isStreaming)
    assert(stream.schema === TopicIO.valueSchema) // same schema, both modes
    val q = stream.writeStream.format("memory").queryName("bus_tail").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bus_tail").as[String].collect().sorted.toSeq ===
        Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("FileBus dynamic append routes rows to per-topic dirs in one write job") {
    val root = tempDir("bus-dyn")
    val bus = FileBus(root)
    bus.append(Seq("pre").toDF("value"), "hot") // existing topic data survives
    bus.appendDynamic(Seq(("hot", "x"), ("hot", "y"), ("cold", "z"))
      .toDF("sink_topic", "value"), "sink_topic")
    assert(bus.read(spark, "hot").as[String].collect().sorted.toSeq ===
      Seq("pre", "x", "y"))
    assert(bus.read(spark, "cold").as[String].collect().toSeq === Seq("z"))
    // staging is gc'd — only real topic dirs remain
    assert(!new java.io.File(root).listFiles.exists(_.getName.startsWith("_dyn_staging")))
  }

  test("KafkaBus reader options match the reference consumer factory (S3)") {
    val bus = KafkaBus("broker1:9092,broker2:9092", groupId = Some("ods_dwd_group"))
    assert(bus.readerOptions("ods_base_log") === Map(
      "kafka.bootstrap.servers" -> "broker1:9092,broker2:9092",
      "subscribe" -> "ods_base_log",
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "false",
      "kafka.group.id" -> "ods_dwd_group"))
    // no group id (producer-side reads), extra options pass through
    assert(KafkaBus("b:9092", extra = Map("kafka.security.protocol" -> "SSL"))
      .readerOptions("t")("kafka.security.protocol") === "SSL")
  }

  test("KafkaBus writer options match the reference producer factory (K1/K2)") {
    val bus = KafkaBus("b:9092")
    // fixed-topic producer (MyKafkaUtil.getKafkaProducer, :19-25)
    assert(bus.writerOptions(Some("dwd_page_log")) === Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "kafka.transaction.timeout.ms" -> "900000", // the reference's 15 min
      "topic" -> "dwd_page_log"))
    // dynamic producer: no topic option — each row's `topic` column routes
    // it (MyKafkaUtil.java:29-43)
    assert(bus.writerOptions(None) === Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "kafka.transaction.timeout.ms" -> "900000"))
  }

  test("kafka decode normalizes the connector frame to the bus contract schema") {
    // a frame shaped exactly like format("kafka").load() output
    val kafkaShaped = spark.createDataFrame(
      java.util.List.of(
        Row("k1".getBytes, """{"id":1}""".getBytes, "ods_base_db", 0, 42L,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0),
        Row(null, """{"id":2}""".getBytes, "ods_base_db", 1, 7L,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 0)),
      TopicIO.kafkaSourceSchema)
    val decoded = TopicIO.decodeKafka(kafkaShaped)
    assert(decoded.schema === TopicIO.valueSchema) // identical to FileBus
    assert(decoded.as[String].collect().sorted.toSeq ===
      Seq("""{"id":1}""", """{"id":2}"""))
  }

  test("CdcSource.tail decodes envelopes identically over the bus (S1/S3)") {
    val root = tempDir("bus-cdc")
    val bus = FileBus(root)
    val snapshot = Seq((1L, "alice"), (2L, "bob")).toDF("id", "name")
    CdcSource.seedSnapshot(snapshot, "g", "user_info", bus, "ods_base_db")
    val q = CdcSource.tail(spark, bus, "ods_base_db", None)
      .writeStream.format("memory").queryName("bus_cdc").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("bus_cdc")
      assert(rows.count() === 2)
      assert(rows.select("tableName").as[String].collect().toSet === Set("user_info"))
      assert(rows.select("type").as[String].collect().toSet === Set("insert"))
    } finally q.stop()
  }

  test("FileBus streaming producer appends a running query's output to a topic (K1)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("bus-stream")
    val bus = FileBus(root)
    val input = MemoryStream[String]
    val q = bus.startAppendStream(input.toDF().toDF("value"), "dwd_page_log",
      s"$root/_ckpt")
    try {
      input.addData("a", "b")
      q.processAllAvailable()
      assert(bus.read(spark, "dwd_page_log").as[String].collect().sorted.toSeq ===
        Seq("a", "b"))
      input.addData("c")
      q.processAllAvailable()
      assert(bus.read(spark, "dwd_page_log").count() === 3)
    } finally q.stop()
  }

  test("toJsonValues serializes any frame to the wire shape") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val wire = TopicIO.toJsonValues(df)
    assert(wire.schema === TopicIO.valueSchema)
    assert(wire.as[String].head() === """{"id":1,"name":"a"}""")
  }

  test("fromConf flips transport without code changes") {
    spark.conf.set("spark.graft.bus", "kafka://h1:9092")
    spark.conf.set("spark.graft.bus.groupId", "g1")
    try {
      TopicIO.fromConf(spark) match {
        case KafkaBus(bootstrap, group, _, _) =>
          assert(bootstrap === "h1:9092"); assert(group === Some("g1"))
        case other => fail(s"expected KafkaBus, got $other")
      }
      spark.conf.set("spark.graft.bus", "file:///data/topics")
      assert(TopicIO.fromConf(spark) === FileBus("/data/topics"))
    } finally {
      spark.conf.unset("spark.graft.bus")
      spark.conf.unset("spark.graft.bus.groupId")
    }
  }
}
