package graft.model

import org.apache.spark.sql.types._

/** The schemas of the two ODS topic contracts (SURVEY §1.2, FIXTURES.md):
  * the behavior-log event and the CDC envelope. Timestamps stay epoch-millis
  * longs, as the reference's `ts` fields are.
  */
object Schemas {

  /** Behavior-log event (Kafka ods_base_log; FIXTURES §1, fields read at
    * app/dwd/BaseLogApp.java:52-143).
    */
  val logEvent: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("mid", StringType), StructField("uid", StringType),
      StructField("vc", StringType), StructField("ch", StringType),
      StructField("ar", StringType), StructField("is_new", StringType),
      StructField("ba", StringType), StructField("md", StringType),
      StructField("os", StringType)))),
    StructField("page", StructType(Seq(
      StructField("page_id", StringType), StructField("last_page_id", StringType),
      StructField("item", StringType), StructField("item_type", StringType),
      StructField("during_time", LongType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("display_type", StringType), StructField("item", StringType),
      StructField("item_type", StringType), StructField("order", IntegerType),
      StructField("pos_id", IntegerType))))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType), StructField("open_ad_id", IntegerType),
      StructField("loading_time", LongType)))),
    StructField("ts", LongType)))

  /** CDC envelope (Kafka ods_base_db; app/function/CustomerDeserialization.java:30-90).
    * before/after stay as raw JSON strings — table-specific schemas are applied
    * downstream by the router, mirroring the reference's dynamic JSONObject use.
    */
  val cdcEnvelope: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("tableName", StringType),
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("type", StringType),
    // binlog position / source timestamp (Debezium ts_ms, Maxwell ts) —
    // defines source order for last-write-wins dim upserts; envelopes
    // without it sort first (seq 0, i.e. snapshot phase). Parsed as STRING:
    // a LongType field would make PERMISSIVE-mode from_json null out the
    // WHOLE struct on a non-numeric ts from a foreign producer, silently
    // dropping the envelope at decodeEnvelope's isNotNull filter — the
    // string survives and is cast (null on garbage → seq 0) downstream.
    StructField("ts", StringType)))
}
