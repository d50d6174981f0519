package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S3/S4 transport — the engine's topic bus: its one topic consumer
  * (`tail`/`read`). No layer produces to a topic: layers hand off through
  * idempotent parquet sinks (DbRouter's per-batch overwrite, the DWM/DWS
  * file sinks), and the ODS topics are filled by the source systems.
  *
  * Every inter-layer hand-off in the reference is a Kafka topic of JSON
  * strings: one consumer/producer factory (utils/MyKafkaUtil.java:19-57)
  * consumed by every app (e.g. app/dwd/BaseLogApp.java:45,
  * app/dws/ProductStatsApp.java:71-77). The engine's equivalent contract is
  * "a topic is a stream/batch of `value STRING` rows", with two
  * interchangeable transports behind it:
  *
  *  - [[FileBus]] — a topic is a directory of text files (the sandbox and
  *    test default; also the production pattern for an object-store relay).
  *  - [[KafkaBus]] — `format("kafka")` with the reference's consumer
  *    options. Its options are pure data (asserted by TopicIOSpec);
  *    `.load()` binds to the kafka connector, which only a cluster with a
  *    broker provides.
  *
  * Both buses present the SAME schema, so every consuming stage
  * (LogPipeline.parse, DbRouter.decodeEnvelope) is transport-agnostic:
  * [[TopicIO.fromConf]] picks the transport from session config.
  */
sealed trait TopicBus extends Serializable {

  /** Streaming tail of one topic as `value STRING` rows. */
  def tail(spark: SparkSession, topic: String,
      maxPerTrigger: Option[Int] = None): DataFrame

  /** Batch read of a topic's full retained contents as `value STRING`. */
  def read(spark: SparkSession, topic: String): DataFrame
}

object TopicIO {

  /** The topic contract's one schema: a single string column `value`. */
  val valueSchema: StructType = StructType(Seq(StructField("value", StringType)))

  /** Normalize a kafka-shaped frame to the bus contract: the reference's
    * SimpleStringSchema deserialization (MyKafkaUtil.java:22,36) is a cast of
    * the binary `value` to string; broker metadata columns are dropped.
    */
  def decodeKafka(raw: DataFrame): DataFrame =
    raw.select(col("value").cast("string").as("value"))

  /** Pick the bus from session config — a deployment whose ODS topics
    * arrive on Kafka sets `spark.graft.bus=kafka://host1:9092,host2:9092`
    * (or `file:///data/topics`). Default: file bus rooted at
    * `spark.graft.bus.root` or the local working dir.
    */
  def fromConf(spark: SparkSession): TopicBus = {
    val bus = spark.conf.getOption("spark.graft.bus")
      .getOrElse("file://" + spark.conf.getOption("spark.graft.bus.root").getOrElse("topics"))
    if (bus.startsWith("kafka://"))
      KafkaBus(bus.stripPrefix("kafka://"),
        groupId = spark.conf.getOption("spark.graft.bus.groupId"))
    else FileBus(bus.stripPrefix("file://"))
  }
}

/** Topic = `<root>/<topic>/` of text files. The no-broker default: correct
  * ordering within a file, at-least-once delivery via streaming file-source
  * checkpoints, exactly-once when writers use per-batch overwrite (DbRouter).
  */
final case class FileBus(root: String) extends TopicBus {
  private def dir(topic: String) = s"$root/$topic"

  override def tail(spark: SparkSession, topic: String,
      maxPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(TopicIO.valueSchema)
    maxPerTrigger.map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader).text(dir(topic))
  }

  override def read(spark: SparkSession, topic: String): DataFrame =
    spark.read.schema(TopicIO.valueSchema).text(dir(topic))
}

/** Topic = a Kafka topic via the built-in `kafka` connector. Options mirror
  * the reference's consumer factory (MyKafkaUtil.getKafkaConsumer, :45-57):
  * bootstrap servers + group id + string deserialization →
  * `kafka.bootstrap.servers`, `kafka.group.id`, subscribe, and
  * [[TopicIO.decodeKafka]]'s cast. A new consumer starts from the earliest
  * retained offset.
  */
final case class KafkaBus(bootstrapServers: String,
    groupId: Option[String] = None) extends TopicBus {

  /** Exact reader options `format("kafka")` is configured with. */
  def readerOptions(topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest",
      // a deleted/compacted-away offset should not kill the pipeline —
      // matches the reference consumer's default resume behavior
      "failOnDataLoss" -> "false") ++
      groupId.map("kafka.group.id" -> _)

  override def tail(spark: SparkSession, topic: String,
      maxPerTrigger: Option[Int] = None): DataFrame = {
    val opts = readerOptions(topic) ++
      maxPerTrigger.map(n => "maxOffsetsPerTrigger" -> n.toString)
    TopicIO.decodeKafka(
      spark.readStream.format("kafka").options(opts).load())
  }

  override def read(spark: SparkSession, topic: String): DataFrame =
    TopicIO.decodeKafka(
      spark.read.format("kafka").options(readerOptions(topic)).load())
}
