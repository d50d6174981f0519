package graft.streaming

import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A flattened page-view record used by the stateful DWM operators. `ts` is
  * epoch millis (the reference's log `ts`, FIXTURES §1).
  */
case class PageEvent(mid: String, page_id: String, last_page_id: String, ts: Long)

/** Behavior-log DWD/DWM pipeline (BaseLogApp → UniqueVisitApp), Structured
  * Streaming form. Works identically on batch DataFrames — every function is
  * DataFrame → DataFrame with sources/sinks bound at the edge (SURVEY §7.1).
  *
  * Scale notes: parse/split are narrow (no shuffle); the stateful operators
  * key by `mid` — one shuffle, state partitioned across executors, bounded by
  * watermark/timeout-driven eviction (the reference's 24h ValueState TTL,
  * app/dwm/UniqueVisitApp.java:66-73).
  */
object LogPipeline {

  /** P1 — parse raw JSON lines with a dirty-record channel
    * (app/dwd/BaseLogApp.java:49-67). Input: one string column `value`.
    * Returns (clean, dirty): `from_json` yields null on corrupt input — the
    * null-filter pair replaces Flink's OutputTag side output.
    */
  def parse(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = raw.withColumn("j", from_json(col("value"), Schemas.logEvent))
    val clean = parsed.filter(col("j").isNotNull && col("j.ts").isNotNull).select("j.*")
    val dirty = parsed.filter(col("j").isNull || col("j.ts").isNull).select("value")
    (clean, dirty)
  }

  /** P4 — 3-way split (app/dwd/BaseLogApp.java:106-147). One parsed stream →
    * (start, page, display); display side explodes `displays[]` attaching the
    * source page_id (:125-139).
    */
  def split(clean: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val start = clean.filter(col("start").isNotNull)
    val page = clean.filter(col("start").isNull)
    val display = page
      .filter(col("displays").isNotNull)
      .select(col("common"), col("page.page_id").as("page_id"), col("ts"),
        explode(col("displays")).as("display"))
      .select(col("common"), col("page_id"), col("ts"), col("display.*"))
    (start, page, display)
  }

  /** A6 — new/old visitor correction (app/dwd/BaseLogApp.java:69-102), the
    * streaming twin: keyed first-seen state per `mid`; a record claiming
    * is_new=1 after the key has been seen is rewritten to 0. State is
    * unbounded like the reference's ValueState (no TTL at :73-84).
    */
  def fixIsNew(spark: SparkSession, clean: DataFrame): DataFrame = {
    import spark.implicits._
    StateRelease.install(spark)
    val ds = clean.select(col("common.mid").as("mid"),
      col("common.is_new").as("is_new"), col("ts")).as[(String, String, Long)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, recs: Iterator[(String, String, Long)], state: GroupState[Boolean]) =>
          recs.toSeq.sortBy(_._3).map { case (m, isNew, ts) =>
            val alreadySeen = state.getOption.getOrElse(false)
            if (!alreadySeen) state.update(true)
            (m, if (alreadySeen && isNew == "1") "0" else isNew, ts)
          }.iterator
      }
      .toDF("mid", "is_new", "ts")
  }

  /** A5 — UniqueVisit (app/dwm/UniqueVisitApp.java:54-102): keep the first
    * page-view per (mid, day), entry pages only (`last_page_id` empty, :79-84).
    * `dropDuplicatesWithinWatermark` replaces the 24h-TTL ValueState: dedup
    * state for a key is evicted once the watermark passes its event time +
    * delay — the same horizon, and state stays bounded even though the dedup
    * key itself carries no event-time column. (Plain `dropDuplicates` with a
    * watermark only evicts when the event-time column is PART of the key —
    * with (mid, visit_date) keys it would grow without bound.)
    * Input columns: mid, page_id, last_page_id, ts (millis).
    */
  def uniqueVisit(pages: DataFrame): DataFrame = {
    StateRelease.install(pages.sparkSession)
    val entries = pages
      .filter(col("last_page_id").isNull || col("last_page_id") === "")
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withColumn("visit_date", date_format(col("event_time"), "yyyy-MM-dd"))
      .withWatermark("event_time", "24 hours")
    if (entries.isStreaming) entries.dropDuplicatesWithinWatermark("mid", "visit_date")
    else entries.dropDuplicates("mid", "visit_date")
  }
}
