package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Canonical loaders for the driver testdata (/root/repo/TESTDATA.md).
  *
  * Scale notes (100 TB design): every loader returns a plain parquet scan so
  * Catalyst keeps predicate pushdown + column pruning; nothing is cached or
  * collected here. `events.ts` is written as INT64 TIMESTAMP(NANOS) which
  * Spark 4 cannot read natively — we read it as long nanos
  * (spark.sql.legacy.parquet.nanosAsLong) and truncate to microseconds,
  * matching DuckDB's TIMESTAMP_NS → TIMESTAMP cast (integer floor division).
  */
object Tables {
  /** Read one testdata table. Idempotently flips the nanos conf (runtime-settable).
    *
    * `events.ts` has shipped in two physical encodings across driver testdata
    * generations: INT64 TIMESTAMP(NANOS) (surfaced as LongType under the
    * legacy conf, truncated here to µs) and plain TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (surfaced as TIMESTAMP_NTZ). Dispatch on the
    * surfaced type so either generation loads, and normalize both to
    * session-local TIMESTAMP so downstream `unix_micros`/`window`/
    * `session_window` calls type-check. The session timezone is pinned UTC
    * here (idempotent, every entry point already sets it) so the NTZ→LTZ
    * cast is the identity on the underlying µs instant — byte-for-byte what
    * DuckDB's TIMESTAMP read of the same file yields.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer nanos DIV 1000 → exact µs truncation (no double rounding)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    } else df
  }

  /** Exact decimal sum of a double column, surfaced back as double.
    *
    * Summing raw doubles is order-dependent and cannot hash-match an external
    * oracle; both engines cast to DECIMAL(18,4) first (exact, associative),
    * then the final cast back to double is a single deterministic rounding.
    * Mirrors the reference's BigDecimal money columns (bean/OrderInfo.java:13-17).
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Round-robin a frame to AT LEAST the cluster's default parallelism,
    * never collapsing an already-wide one.
    *
    * Use ahead of joins whose OUTPUT expands per input row (candidate
    * self-joins, broadcast fan-outs): the probe side's split count caps the
    * whole operator, and a small or compacted table arriving as one parquet
    * split would otherwise expand millions of pair rows inside a single
    * task. The shuffle this inserts carries the narrow pre-expansion rows —
    * at scale it is noise next to the expansion itself, and on well-split
    * inputs the max() keeps the native layout width.
    */
  def spread(df: DataFrame): DataFrame =
    if (df.isStreaming) df // micro-batch split count is runtime-determined;
    // the .rdd width probe below would throw on an unstarted streaming frame
    else if (df.rdd.getNumPartitions >=
        df.sparkSession.sparkContext.defaultParallelism)
      // already at least core-wide: the expansion below it cannot be capped
      // by the input layout, so a round-robin shuffle would move every row
      // (a full corpus pass at 100 TB) for nothing; narrower inputs take
      // the branch below
      df
    else df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
