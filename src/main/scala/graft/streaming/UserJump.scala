package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** W6 — user-jump (bounce) detection, the reference's one CEP use
  * (app/dwm/UserJumpDetailApp.java:81-120):
  *
  *   Pattern keyed by mid: session-entry page (last_page_id empty)
  *   `.times(2).consecutive().within(10s)` → on match, the FIRST entry is a
  *   bounce; on timeout (an entry followed by nothing for 10s) the pending
  *   entry is also a bounce via the timeout side output; both unioned (:120).
  *
  * Equivalently: an entry page is a bounce unless the strictly-next event of
  * the same mid arrives within 10s AND is a non-entry page.
  *
  * Spark has no CEP; this is `flatMapGroupsWithState` with event-time timeout
  * (SURVEY §7.3): buffer per-key events; a decision for entry E is final only
  * once the watermark passes E.ts + 10s (every possible "next" event is then
  * present — the watermark gives exactly Flink CEP's within-horizon
  * completeness). State is evicted past the horizon, so per-key state is
  * O(events in the last 10s), safe at 100 TB key cardinality.
  */
object UserJump {
  val JumpWindowMs: Long = 10000L
  /** Bounded out-of-orderness of the page stream, the reference's 2 s
    * watermark (app/dwm/UserJumpDetailApp.java:52-59).
    */
  val WatermarkDelay: String = "2 seconds"

  private def isEntry(e: PageEvent): Boolean =
    e.last_page_id == null || e.last_page_id.isEmpty

  /** Per-key decision pass. Returns (bounces to emit, events still pending). */
  private[streaming] def decide(buf: Seq[PageEvent], watermarkMs: Long)
      : (Seq[PageEvent], Seq[PageEvent]) = {
    val sorted = buf.sortBy(e => (e.ts, e.page_id))
    val decidable = sorted.filter(e => e.ts + JumpWindowMs <= watermarkMs)
    val bounces = decidable.filter(isEntry).filter { e =>
      sorted.find(n => n.ts > e.ts || (n.ts == e.ts && n.page_id > e.page_id)) match {
        case None => true                                   // timeout: nothing followed
        case Some(n) if n.ts - e.ts > JumpWindowMs => true  // timeout: next too late
        case Some(n) => isEntry(n)                          // match: entry→entry = bounce
      }
    }
    // keep events that may still serve as "next" for undecided entries
    val pending = sorted.filter(e => e.ts + JumpWindowMs > watermarkMs)
    (bounces, pending)
  }

  /** Streaming operator: input columns mid, page_id, last_page_id, ts (epoch
    * millis); output = the bounce records. Applies its own event-time
    * watermark ([[WatermarkDelay]]) — the watermarked column must survive
    * into the stateful operator for event-time timeouts to resolve.
    */
  def detect(spark: SparkSession, pages: DataFrame): Dataset[PageEvent] = {
    import spark.implicits._
    StateRelease.install(spark)
    val ds = pages
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", WatermarkDelay)
      .select(col("mid"), col("page_id"), col("last_page_id"), col("ts"), col("event_time"))
      .as[PageEvent]
    ds.groupByKey(_.mid)
      .flatMapGroupsWithState[Seq[PageEvent], PageEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (mid: String, recs: Iterator[PageEvent], state: GroupState[Seq[PageEvent]]) =>
          val buf = state.getOption.getOrElse(Seq.empty) ++ recs
          val wm = state.getCurrentWatermarkMs()
          val (bounces, pending) = decide(buf, wm)
          if (pending.nonEmpty) {
            state.update(pending)
            // wake up when the earliest undecided entry's horizon closes
            val next = pending.map(_.ts + JumpWindowMs).min
            if (next > wm) state.setTimeoutTimestamp(next)
          } else state.remove()
          bounces.iterator
      }
  }
}
