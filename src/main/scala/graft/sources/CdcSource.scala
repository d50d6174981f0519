package graft.sources

import graft.streaming.DbRouter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1 — CDC ingestion in Spark terms. OSS Spark has no MySQL binlog reader;
  * the engine's CDC contract is the envelope JSON stream
  * (CustomerDeserialization's output shape, FIXTURES §2) over a "topic"
  * directory — produced in production by a Debezium→Kafka→file/object-store
  * relay or Delta CDF.
  *
  * `StartupOptions.initial` (snapshot-then-tail, app/dwd/BaseDBApp.java:61-73:
  * the config stream starts with a full snapshot, then follows the binlog)
  * maps to: materialize the current table state as insert-envelopes INTO the
  * topic before tailing it — the file source reads snapshot files
  * first, live envelopes after, giving the same totally-ordered
  * snapshot-then-changes view the Debezium source provides.
  */
object CdcSource {

  /** Encode a static table as insert envelopes (the snapshot phase).
    * `seq` is the envelope's binlog-order stamp (Debezium ts_ms analog) —
    * snapshots default to 0 so any tailed change (real binlog ts) outranks
    * them in the router's last-write-wins dim upsert.
    */
  def toEnvelopes(snapshot: DataFrame, database: String, tableName: String,
      seq: Column = lit(0L)): DataFrame =
    snapshot.select(to_json(struct(
      lit(database).as("database"),
      lit(tableName).as("tableName"),
      lit(null).cast("string").as("before"),
      to_json(struct(snapshot.columns.map(col): _*)).as("after"),
      lit("insert").as("type"),
      seq.cast("long").as("ts"))).as("value"))

  /** Seed the topic with the snapshot via any [[TopicBus]] (file or kafka
    * transport). Call once, before starting the tail query — mirrors
    * StartupOptions.initial.
    */
  def seedSnapshot(snapshot: DataFrame, database: String, tableName: String,
      bus: TopicBus, topic: String): Unit =
    bus.append(toEnvelopes(snapshot, database, tableName), topic)

  /** Tail the topic as a decoded CDC stream (normalized ops, deletes dropped
    * — S2/P3 semantics via DbRouter.decodeEnvelope), over a [[FileBus]]
    * topic dir or a [[KafkaBus]] topic (S3 — the `format("kafka")` path).
    */
  def tail(spark: SparkSession, bus: TopicBus, topic: String,
      maxPerTrigger: Option[Int]): DataFrame =
    DbRouter.decodeEnvelope(bus.tail(spark, topic, maxPerTrigger))
}
