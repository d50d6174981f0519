package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}

/** S3/S4/K1/K2 transport — the engine's topic bus: its one topic consumer
  * (`tail`/`read`) and producer (K1 `append`, K2 `appendDynamic`).
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
  *  - [[KafkaBus]] — `format("kafka")` with the reference's consumer and
  *    producer options. The kafka connector jar is not present in this
  *    sandbox, so the bus is exercised up to the configured reader/writer
  *    (options are pure data, asserted by TopicIOSpec); `.load()` binds to
  *    the connector only on a real cluster.
  *
  * Both buses produce and consume the SAME schema, so every pipeline stage
  * (CdcSource.tail, LogPipeline.parse, DbRouter ingestion) is
  * transport-agnostic: flip [[TopicIO.fromConf]] config, change no code.
  */
sealed trait TopicBus extends Serializable {

  /** Streaming tail of one topic as `value STRING` rows. */
  def tail(spark: SparkSession, topic: String,
      maxPerTrigger: Option[Int] = None): DataFrame

  /** Batch read of a topic's full retained contents as `value STRING`. */
  def read(spark: SparkSession, topic: String): DataFrame

  /** Batch-produce `value STRING` rows to one topic (K1 fixed producer,
    * utils/MyKafkaUtil.java:19-25).
    */
  def append(df: DataFrame, topic: String): Unit

  /** Batch-produce routing each row by `topicCol` (K2 dynamic producer,
    * utils/MyKafkaUtil.java:29-43): one job, rows land on their own topics.
    */
  def appendDynamic(df: DataFrame, topicCol: String): Unit

  /** Streaming producer: continuously append a streaming frame's `value`
    * column to one topic (K1 as a sink on a running query,
    * utils/MyKafkaUtil.java:19-25 attached at app/dwd/BaseLogApp.java:154-156).
    */
  def startAppendStream(df: DataFrame, topic: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery
}

object TopicIO {

  /** The topic contract's one schema: a single string column `value`. */
  val valueSchema: StructType = StructType(Seq(StructField("value", StringType)))

  /** The kafka source's fixed output schema (public connector contract) —
    * what `format("kafka").load()` returns before [[decodeKafka]].
    */
  val kafkaSourceSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Normalize a kafka-shaped frame to the bus contract: the reference's
    * SimpleStringSchema deserialization (MyKafkaUtil.java:22,36) is a cast of
    * the binary `value` to string; broker metadata columns are dropped.
    */
  def decodeKafka(raw: DataFrame): DataFrame =
    raw.select(col("value").cast("string").as("value"))

  /** Serialize any frame to the wire shape: one JSON string per row (the
    * reference's producers all emit JSONObject.toJSONString).
    */
  def toJsonValues(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))

  /** Pick the bus from session config — deployment flips transport with
    * `spark.graft.bus=kafka://host1:9092,host2:9092` (or `file:///data/topics`)
    * and no code change. Default: file bus rooted at `spark.graft.bus.root`
    * or the local working dir.
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

  override def append(df: DataFrame, topic: String): Unit =
    df.select(col("value").cast("string")).write.mode(SaveMode.Append).text(dir(topic))

  override def startAppendStream(df: DataFrame, topic: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.select(col("value").cast("string"))
      .writeStream.format("text")
      .option("path", dir(topic))
      .option("checkpointLocation", checkpointDir)
      .outputMode("append").start()

  /** One partitioned write job fans rows out to `_staging/topic=<t>/`, then
    * driver-side moves promote each partition's files into its topic dir —
    * same one-job shape as the kafka dynamic producer, no per-topic pass.
    *
    * Partition dir names are PATH-ESCAPED by the writer (space → %20; null →
    * the hive default-partition marker), so the promotion step unescapes
    * before deriving the topic dir, then rejects anything outside Kafka's own
    * legal topic alphabet `[A-Za-z0-9._-]` (which also excludes separators, so
    * an unescaped value can never traverse outside the bus root) and null
    * routing values — a silent mis-route would strand rows in a directory no
    * `read()`/`tail()` of the raw topic name ever sees.
    */
  override def appendDynamic(df: DataFrame, topicCol: String): Unit = {
    val spark = df.sparkSession
    val staging = s"$root/_dyn_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    df.select(col(topicCol).cast("string").as("topic"),
        col("value").cast("string").as("value"))
      .write.partitionBy("topic").mode(SaveMode.Overwrite).text(staging)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val catalogUtils = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val legalTopic = "[A-Za-z0-9._-]+".r
    try {
      // validate every routed topic BEFORE promoting any, so a bad value
      // leaves no partially-published batch behind
      val routed = fs.listStatus(stagingPath).filter(_.isDirectory).map { d =>
        val topic = catalogUtils.unescapePathName(d.getPath.getName.stripPrefix("topic="))
        if (topic == catalogUtils.DEFAULT_PARTITION_NAME)
          throw new IllegalArgumentException(
            s"dynamic append: null value in routing column '$topicCol'")
        if (!legalTopic.pattern.matcher(topic).matches())
          throw new IllegalArgumentException(
            s"dynamic append: illegal topic name '$topic' (allowed: [A-Za-z0-9._-])")
        d -> topic
      }
      routed.foreach { case (d, topic) =>
        val dest = new org.apache.hadoop.fs.Path(dir(topic))
        if (!fs.exists(dest)) fs.mkdirs(dest)
        fs.listStatus(d.getPath).filter(_.isFile).foreach { f =>
          if (!fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dest, f.getPath.getName)))
            throw new java.io.IOException(s"dynamic append: failed to move ${f.getPath} -> $dest")
        }
      }
    } finally fs.delete(stagingPath, true)
  }
}

/** Topic = a Kafka topic via the built-in `kafka` connector. Options mirror
  * the reference's factory exactly:
  *  - consumer (MyKafkaUtil.getKafkaConsumer, :45-57): bootstrap servers +
  *    group id + string deserialization → `kafka.bootstrap.servers`,
  *    `kafka.group.id`, subscribe, and [[TopicIO.decodeKafka]]'s cast.
  *  - producer (MyKafkaUtil.getKafkaProducer, :19-43): bootstrap servers +
  *    15-minute transaction timeout (the reference raises it for
  *    EXACTLY_ONCE semantics) → `kafka.transaction.timeout.ms`. Spark's sink
  *    is at-least-once; end-to-end exactly-once comes from idempotent
  *    downstream writes (DbRouter's per-batch overwrite) instead of Kafka
  *    transactions.
  */
final case class KafkaBus(bootstrapServers: String,
    groupId: Option[String] = None, startingOffsets: String = "earliest",
    extra: Map[String, String] = Map.empty) extends TopicBus {

  /** Exact reader options `format("kafka")` is configured with. */
  def readerOptions(topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      // a deleted/compacted-away offset should not kill the pipeline —
      // matches the reference consumer's default resume behavior
      "failOnDataLoss" -> "false") ++
      groupId.map("kafka.group.id" -> _) ++ extra

  /** Exact writer options; `topic=None` is the dynamic producer (each row's
    * `topic` column routes it, MyKafkaUtil.java:29-43).
    */
  def writerOptions(topic: Option[String]): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "kafka.transaction.timeout.ms" -> (15 * 60 * 1000).toString) ++
      topic.map("topic" -> _) ++ extra

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

  override def append(df: DataFrame, topic: String): Unit =
    df.select(col("value").cast("string").as("value"))
      .write.format("kafka").options(writerOptions(Some(topic))).save()

  override def appendDynamic(df: DataFrame, topicCol: String): Unit =
    df.select(col(topicCol).cast("string").as("topic"),
        col("value").cast("string").as("value"))
      .write.format("kafka").options(writerOptions(None)).save()

  override def startAppendStream(df: DataFrame, topic: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.select(col("value").cast("string").as("value"))
      .writeStream.format("kafka").options(writerOptions(Some(topic)))
      .option("checkpointLocation", checkpointDir)
      .outputMode("append").start()
}
