package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins [[Tables.table]]'s dual-encoding `events.ts` contract.
  *
  * Driver testdata generations have shipped `events.ts` both as INT64
  * TIMESTAMP(NANOS) (surfaced LongType under the legacy nanos conf) and as
  * TIMESTAMP(MICROS) with isAdjustedToUTC=false (surfaced TIMESTAMP_NTZ).
  * Round 9 lost 17 oracle queries because the loader assumed the first
  * encoding while the regenerated parquet used the second — this spec writes
  * BOTH encodings from the same instants and asserts the loader normalizes
  * each to identical session-local TIMESTAMP values that `unix_micros`
  * accepts (the call that broke).
  */
class TablesSpec extends SparkSpec {

  // instants with sub-millisecond micros so truncation paths are exercised
  private val micros = Seq(1704067200000001L, 1704067200123456L, 1735689599999999L)

  private def writeEvents(dir: String, ntz: Boolean): Unit = {
    import spark.implicits._
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us, s"et$i") }
      .toDF("event_id", "us", "event_type")
    val withTs =
      if (ntz) base.withColumn(
        "ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      else base.withColumn("ts", col("us") * 1000L) // long nanos
    withTs.select("event_id", "ts", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("events.ts loads as TIMESTAMP from both nanos-long and µs-NTZ parquet") {
    for (ntz <- Seq(true, false)) {
      val dir = tempDir(s"graft_tables_${ntz}_")
      writeEvents(dir, ntz)
      val ev = Tables.table(spark, dir, "events")
      assert(ev.schema("ts").dataType === TimestampType,
        s"ntz=$ntz surfaced ${ev.schema("ts").dataType}")
      // unix_micros is the downstream call that failed on NTZ — it must both
      // type-check and round-trip the exact original microsecond instants
      val got = ev.select(unix_micros(col("ts"))).as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect().sorted
      assert(got.toSeq === micros.sorted, s"ntz=$ntz instants drifted")
    }
  }

  test("non-events tables pass through untouched") {
    val df = Tables.table(spark, sf, "lineitem")
    assert(df.columns.contains("l_quantity"))
  }

  test("spread widens narrow frames to core count and passes wide frames through") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val narrow = (1 to 100).toDF("x").coalesce(1)
    assert(Tables.spread(narrow).rdd.getNumPartitions === cores)
    // already at-or-above core width: no repartition, the frame (and its
    // plan) pass through unchanged — at scale this is a removed corpus pass
    val wide = (1 to 100).toDF("x").repartition(cores + 7)
    val spreadWide = Tables.spread(wide)
    assert(spreadWide.rdd.getNumPartitions === cores + 7)
    assert(spreadWide.queryExecution.logical eq wide.queryExecution.logical)
    // row multiset is preserved either way
    assert(Tables.spread(narrow).as[Int].collect().sorted === (1 to 100).toArray)
  }
}
