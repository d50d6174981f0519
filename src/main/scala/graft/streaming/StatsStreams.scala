package graft.streaming

import graft.Tables.dsum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWS windowed streaming aggregations (SURVEY §2.5/§2.6), with the
  * reference's exact window and watermark widths. Each def is a declared
  * event-time aggregation under a watermark, which Structured Streaming
  * incrementalizes itself; none keeps hand-written state. A batch operator
  * has no face here: a live stream runs the batch operator on each
  * micro-batch (`writeStream.foreachBatch`).
  *
  * Scale notes: windowed streaming aggs keep incremental per-(key, window)
  * state with partial aggregation on the map side; watermark closes windows
  * and evicts state (the reference's window-close finisher + state purge,
  * app/dws/VisitorStatsApp.java:158-198). Spark's built-in count(distinct)
  * is not supported in append-mode streaming; the A3 face uses the typed
  * ExactDistinct aggregator instead (SURVEY §7.4.1).
  */
object StatsStreams {

  /** `df` under an event-time watermark: the aggregation built over it
    * keeps state, so the session's [[StateRelease]] is installed here.
    */
  private def watermark(column: String, delay: String)(df: DataFrame): DataFrame = {
    StateRelease.install(df.sparkSession)
    df.withWatermark(column, delay)
  }

  /** A1/W1/W3 — VisitorStats: 10s tumbling event-time window keyed by
    * (vc, ch, ar, is_new), 11s watermark (app/dws/VisitorStatsApp.java:133-198).
    * Input columns: common struct + page struct + ts (millis).
    */
  def visitorStats(pages: DataFrame): DataFrame =
    pages
      .select(col("common.vc").as("vc"), col("common.ch").as("ch"),
        col("common.ar").as("ar"), col("common.is_new").as("is_new"),
        col("page.during_time").as("during_time"),
        timestamp_millis(col("ts")).as("event_time"))
      .transform(watermark("event_time", "11 seconds"))
      .groupBy(window(col("event_time"), "10 seconds"),
        col("vc"), col("ch"), col("ar"), col("is_new"))
      .agg(count(lit(1)).as("pv_ct"), sum(col("during_time")).as("dur_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("vc"), col("ch"), col("ar"), col("is_new"),
        col("pv_ct"), col("dur_sum"))

  /** A1 full shape — the reference's VisitorStats is a UNION of three
    * normalized streams (page views, unique visits, user jumps:
    * app/dws/VisitorStatsApp.java:65-129) windowed together, each input
    * setting one metric column. Inputs share the key columns
    * (vc, ch, ar, is_new) + metric columns (uv_ct, pv_ct, sv_ct, uj_ct,
    * dur_sum) + ts millis; this unions and sums per 10s window (reduce at
    * :160-182, finisher stamping stt/edt at :183-198).
    */
  def visitorStatsUnion(streams: Seq[DataFrame]): DataFrame =
    streams.reduce(_ unionByName _)
      .withColumn("event_time", timestamp_millis(col("ts")))
      .transform(watermark("event_time", "11 seconds"))
      .groupBy(window(col("event_time"), "10 seconds"),
        col("vc"), col("ch"), col("ar"), col("is_new"))
      .agg(sum("uv_ct").as("uv_ct"), sum("pv_ct").as("pv_ct"),
        sum("sv_ct").as("sv_ct"), sum("uj_ct").as("uj_ct"),
        sum("dur_sum").as("dur_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("vc"), col("ch"), col("ar"), col("is_new"),
        col("uv_ct"), col("pv_ct"), col("sv_ct"), col("uj_ct"), col("dur_sum"))

  /** A3/W2/W5 — ProvinceStats streaming: 10s tumbling window × province
    * with an EXACT windowed distinct-order count via the typed
    * [[graft.functions.ExactDistinct]] Aggregator (the reference's exact
    * count(distinct) semantics, app/dws/ProvinceStatsSQLApp.java:112-132).
    * Input columns: province_id, province_name, order_id,
    * split_total_amount, create_ts (millis).
    */
  def provinceStatsExact(orders: DataFrame): DataFrame =
    orders
      .withColumn("rt", timestamp_millis(col("create_ts")))
      .transform(watermark("rt", "1 second"))
      .groupBy(window(col("rt"), "10 seconds"), col("province_id"), col("province_name"))
      .agg(graft.functions.ExactDistinct(col("order_id")).as("order_count"),
        dsum(col("split_total_amount")).as("order_amount"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("province_id"), col("province_name"), col("order_count"), col("order_amount"))

  /** A4/X1 — KeywordStats streaming: tokenize (whitespace UDTF replacement,
    * app/function/SplitFunction.java:12-28) + 10s window count.
    * Input columns: full_word string, ts (millis).
    */
  def keywordStats(searches: DataFrame): DataFrame =
    searches
      .withColumn("rt", timestamp_millis(col("ts")))
      .transform(watermark("rt", "1 second"))
      .select(col("rt"), explode(split(col("full_word"), "\\s+")).as("keyword"))
      .filter(length(col("keyword")) > 0)
      .groupBy(window(col("rt"), "10 seconds"), col("keyword"))
      .agg(count(lit(1)).as("ct"))
      .select(col("keyword"), col("ct"), lit("search").as("source"),
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"))
}
