package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}

/** No-broker contract test for the topic transport (S3/S4): the file and
  * kafka buses must present IDENTICAL schemas, and the kafka bus must be
  * configured with exactly the reference consumer factory's options
  * (utils/MyKafkaUtil.java:45-57) — asserted as data, since no broker (or
  * kafka connector jar) exists in the sandbox.
  */
class TopicIOSpec extends SparkSpec {
  import spark.implicits._

  /** The kafka source's fixed output schema (public connector contract) —
    * what `format("kafka").load()` returns before `TopicIO.decodeKafka`.
    */
  private val kafkaSourceSchema = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Append `values` to a FileBus topic as one text file, as a producer would. */
  private def produce(bus: FileBus, topic: String, values: String*): Unit =
    values.toDF("value").write.mode("append").text(s"${bus.root}/$topic")

  test("FileBus round-trips values and presents the contract schema") {
    val root = tempDir("bus")
    val bus = FileBus(root)
    produce(bus, "t1", "a", "b")
    produce(bus, "t1", "c")

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

  test("KafkaBus reader options match the reference consumer factory (S3)") {
    val bus = KafkaBus("broker1:9092,broker2:9092", groupId = Some("ods_dwd_group"))
    assert(bus.readerOptions("ods_base_log") === Map(
      "kafka.bootstrap.servers" -> "broker1:9092,broker2:9092",
      "subscribe" -> "ods_base_log",
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "false",
      "kafka.group.id" -> "ods_dwd_group"))
    // no group id: the option is absent, not empty
    assert(!KafkaBus("b:9092").readerOptions("t").contains("kafka.group.id"))
  }

  test("kafka decode normalizes the connector frame to the bus contract schema") {
    // a frame shaped exactly like format("kafka").load() output
    val kafkaShaped = spark.createDataFrame(
      java.util.List.of(
        Row("k1".getBytes, """{"id":1}""".getBytes, "ods_base_db", 0, 42L,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0),
        Row(null, """{"id":2}""".getBytes, "ods_base_db", 1, 7L,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 0)),
      kafkaSourceSchema)
    val decoded = TopicIO.decodeKafka(kafkaShaped)
    assert(decoded.schema === TopicIO.valueSchema) // identical to FileBus
    assert(decoded.as[String].collect().sorted.toSeq ===
      Seq("""{"id":1}""", """{"id":2}"""))
  }

  test("CdcSource.tail decodes envelopes identically over the bus (S1/S3)") {
    val root = tempDir("bus-cdc")
    val bus = FileBus(root)
    produce(bus, "ods_base_db",
      """{"database":"g","tableName":"user_info","before":null,"after":"{\"id\":1,\"name\":\"alice\"}","type":"insert","ts":0}""",
      """{"database":"g","tableName":"user_info","before":null,"after":"{\"id\":2,\"name\":\"bob\"}","type":"insert","ts":0}""")
    val q = graft.streaming.DbRouter.decodeEnvelope(bus.tail(spark, "ods_base_db"))
      .writeStream.format("memory").queryName("bus_cdc").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("bus_cdc")
      assert(rows.count() === 2)
      assert(rows.select("tableName").as[String].collect().toSet === Set("user_info"))
      assert(rows.select("type").as[String].collect().toSet === Set("insert"))
    } finally q.stop()
  }

  test("fromConf flips transport without code changes") {
    spark.conf.set("spark.graft.bus", "kafka://h1:9092")
    spark.conf.set("spark.graft.bus.groupId", "g1")
    try {
      TopicIO.fromConf(spark) match {
        case KafkaBus(bootstrap, group) =>
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
