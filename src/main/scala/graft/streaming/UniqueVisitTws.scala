package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery,
  TimeMode, TimerValues, TTLConfig, ValueState}
import java.time.Duration

/** A5 via the transformWithState API — the EXACT state shape of the
  * reference's UniqueVisitApp (app/dwm/UniqueVisitApp.java:54-102): a keyed
  * ValueState holding the last visit date with a 24h TTL that resets on
  * write (StateTtlConfig OnCreateAndWrite, :66-73). TTLConfig gives the
  * reset-on-write expiry that watermark-scoped dropDuplicates approximates;
  * requires the RocksDB state store provider
  * (spark.sql.streaming.stateStore.providerClass =
  *  org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider).
  *
  * State per key is one short string — at 100 TB key cardinality this is the
  * minimal possible footprint, partitioned across executors by mid.
  */
class UniqueVisitProcessor extends StatefulProcessor[String, PageEvent, PageEvent] {
  @transient private var lastDate: ValueState[String] = _
  // DateTimeFormatter is not Serializable — derive lazily on the executor
  @transient private lazy val fmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    lastDate = getHandle.getValueState[String]("lastDate", Encoders.STRING,
      TTLConfig(Duration.ofHours(24)))

  override def handleInputRows(mid: String, rows: Iterator[PageEvent],
      timers: TimerValues): Iterator[PageEvent] = {
    // materialize before touching state: the returned iterator is consumed
    // after this call, when the state handle may no longer be bound
    val out = rows.toSeq.sortBy(_.ts).filter { e =>
      val entry = e.last_page_id == null || e.last_page_id.isEmpty
      val day = fmt.format(java.time.Instant.ofEpochMilli(e.ts))
      val first = entry && !(lastDate.exists() && lastDate.get() == day)
      if (first) lastDate.update(day) // write resets the TTL, like the reference
      first
    }
    out.iterator
  }
}

object UniqueVisitTws {
  /** Input columns: mid, page_id, last_page_id, ts (millis); output = the
    * first entry-page visit per (mid, day).
    */
  def apply(spark: SparkSession, pages: DataFrame): Dataset[PageEvent] = {
    import spark.implicits._
    StateRelease.install(spark)
    pages.select(col("mid"), col("page_id"), col("last_page_id"), col("ts"))
      .as[PageEvent]
      .groupByKey(_.mid)
      .transformWithState(new UniqueVisitProcessor,
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Stop `q` once it has committed everything its sources held: under
    * `Trigger.AvailableNow` that is the first batch that read no new
    * offsets, every source's start offset equal to its end offset. The
    * processing-time TTL makes every trigger plan another no-data batch, so
    * the query never terminates by itself. Throws if no such batch completes
    * within 300 s.
    */
  def stopWhenCommitted(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 300L * 1000000000L
    def drained = Option(q.lastProgress)
      .exists(_.sources.forall(s => s.startOffset == s.endOffset))
    try while (q.isActive && !drained && System.nanoTime() < deadline) Thread.sleep(20)
    finally q.stop()
    if (!drained)
      throw new IllegalStateException(s"${q.name} did not commit its input within 300 s")
  }
}
