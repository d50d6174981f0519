package graft.streaming

import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One table_process routing rule (bean/TableProcess.java:14-26; FIXTURES §3).
  * `history = true` keeps every dim version (SCD2-style) instead of
  * last-write-wins — pair with [[graft.plans.AsOfJoinNative.asOf]] to
  * restore the reference's lookup-at-event-time dim semantics exactly.
  */
case class RouteRule(sourceTable: String, operateType: String, sinkType: String,
    sinkTable: String, sinkColumns: Seq[String], sinkPk: String,
    history: Boolean = false)

/** P6/K2/K3 — the config-driven DB router (BaseDBApp +
  * TableProcessFunction + DimSinkFunction), Spark-first.
  *
  * Reference shape: per-record broadcast-state lookup keyed
  * `sourceTable-operateType` (app/function/TableProcessFunction.java:131-165),
  * project `sinkColumns` (:171-189), route kafka-vs-hbase, Phoenix upsert per
  * dim record (app/function/DimSinkFunction.java:44-89) with auto-DDL
  * (:70-127).
  *
  * Spark shape: the whole per-record apparatus becomes a `foreachBatch`
  * set-oriented pass — one filter+projection per matched rule, unioned per
  * sink (a handful of sinks ⇒ a handful of narrow jobs per micro-batch),
  * fact sinks appended to their path (the "topic"), dim sinks MERGEd into a
  * keyed snapshot.
  *
  * Scale notes: rules are metadata (tens of rows) — held on the driver like
  * Flink's broadcast state. Facts never shuffle: filter+project+append.
  * The dim upsert dedups by (pk → latest) within the batch, then merges with
  * the existing snapshot; on a lake deployment this is exactly Delta/Iceberg
  * `MERGE INTO` (BASELINE.json approach) — with plain parquet here, the merge
  * materializes the combined snapshot and rewrites it atomically via a
  * temp-dir swap. Dims are small by contract (they get broadcast in J3).
  */
class DbRouter(ruleSource: () => Seq[RouteRule], sinkRoot: String)
    extends Serializable {

  /** Static rule set (rules fixed for the router's lifetime). */
  def this(rules: Seq[RouteRule], sinkRoot: String) = this(() => rules, sinkRoot)

  /** CDC-envelope micro-batch → routed sinks. Call from
    * `writeStream.foreachBatch(router.processBatch _)` or directly in batch.
    * Expects envelope columns: tableName, type, after (JSON string).
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    // rules re-read per micro-batch — the reference's broadcast-state config
    // updates (TableProcessFunction.processBroadcastElement, :42-67): a rule
    // added while the stream runs starts routing from the next batch
    val rules = ruleSource()
    batch.persist()
    try {
      // rules sharing a sink write it ONCE per batch: each write below
      // replaces its target (the batch directory, the dim snapshot), so
      // per-rule writes would drop the sink's earlier rules' rows, and
      // per-rule dim upserts would resolve a pk by rule order, not `_seq`
      val sinkOf = (r: RouteRule) => (r.sinkType, r.sinkTable, r.history)
      rules.map(sinkOf).distinct.map(k => rules.filter(sinkOf(_) == k)).foreach { group =>
        val r = group.head
        require(group.forall(_.sinkPk == r.sinkPk),
          s"rules routing to ${r.sinkTable} disagree on sinkPk: " +
            group.map(_.sinkPk).distinct.mkString(", "))
        // project sinkColumns out of the dynamic JSON payload (P5); the seq
        // rides along for the dim upsert's source-order resolution
        val projected = group.map { g =>
          val ddl = g.sinkColumns.map(c => s"`$c` STRING").mkString(", ")
          batch.filter(col("tableName") === g.sourceTable && col("type") === g.operateType)
            .withColumn("row", from_json(col("after"), org.apache.spark.sql.types.StructType.fromDDL(ddl)))
            .select(col("row.*"), col(DbRouter.SeqCol))
        }.reduce(_.unionByName(_, allowMissingColumns = true))
        r.sinkType match {
          case "kafka" =>
            // fact family: one subdirectory per micro-batch, OVERWRITTEN on
            // retry — a replayed batchId rewrites the same directory instead
            // of appending duplicates, which is what makes
            // checkpoint + foreachBatch exactly-once for this sink
            // (the reference gets this from Kafka transactions,
            // utils/MyKafkaUtil.java:39-42). Read the topic back with
            // spark.read.option("recursiveFileLookup", "true").
            projected.drop(DbRouter.SeqCol).write.mode(SaveMode.Overwrite)
              .parquet(s"$sinkRoot/kafka/${r.sinkTable}/batch_$batchId")
          case "hbase" if r.history =>
            // SCD2 dim history: append every version stamped with its batch
            // (idempotent per-batch overwrite, like the fact sinks); resolve
            // at read time with AsOfJoinNative.asOf on valid_from
            projected.drop(DbRouter.SeqCol).withColumn("valid_from", lit(batchId))
              .write.mode(SaveMode.Overwrite)
              .parquet(s"$sinkRoot/dimh/${r.sinkTable}/batch_$batchId")
          case "hbase" => // dim family: MERGE by pk into the snapshot
            upsertDim(spark, projected, r)
          case other =>
            throw new IllegalArgumentException(s"unknown sinkType $other for ${r.sourceTable}")
        }
      }
    } finally batch.unpersist()
  }

  /** Upsert semantics of DimSinkFunction (last write per pk wins), in SOURCE
    * order: winners are picked by the envelope's binlog seq, not by
    * `monotonically_increasing_id` (whose ordering follows partition index —
    * two same-pk updates landing in different partitions of one micro-batch
    * could resolve to the older value). Ties on seq (e.g. seeded snapshots,
    * all seq 0) break by in-partition arrival order, matching the reference's
    * per-record upsert (app/function/DimSinkFunction.java:44-89).
    */
  private def upsertDim(spark: SparkSession, updates: DataFrame, r: RouteRule): Unit = {
    val path = s"$sinkRoot/dim/${r.sinkTable}"
    val pk = if (r.sinkPk == null || r.sinkPk.isEmpty) "id" else r.sinkPk
    val payloadCols = updates.columns.filter(_ != DbRouter.SeqCol)
    val deduped = updates
      .withColumn("_arrival", monotonically_increasing_id()) // seq-tie break only
      .groupBy(col(pk))
      .agg(max_by(struct(payloadCols.map(col): _*),
        struct(col(DbRouter.SeqCol), col("_arrival"))).as("_w"))
      .select(col("_w.*"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val existing = DbRouter.readDimSnapshot(spark, fs, path)
    val merged = existing match {
      case None => deduped
      case Some(old) =>
        old.join(deduped, Seq(pk), "left_anti").unionByName(deduped)
    }
    val staging = new org.apache.hadoop.fs.Path(s"$path._staging")
    merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    promoteStaging(fs, staging, path)
  }

  /** Crash-safe promote: retire the live snapshot aside, promote staging,
    * then gc — a crash at any point leaves either `live` or `._old` intact
    * for readDimSnapshot to recover (never delete-before-rename).
    * `FileSystem.rename` reports failure by RETURNING false, not throwing —
    * both renames are checked, and the retired copy is only gc'd after the
    * promote is known good; an unchecked promote failure here would let the
    * trailing delete destroy the last good snapshot.
    */
  private[streaming] def promoteStaging(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path, path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val retired = new org.apache.hadoop.fs.Path(s"$path._old")
    fs.delete(retired, true)
    if (fs.exists(live) && !fs.rename(live, retired))
      throw new java.io.IOException(
        s"dim promote: failed to retire live snapshot $live -> $retired")
    if (!fs.rename(staging, live))
      throw new java.io.IOException(
        s"dim promote: failed to promote staging $staging -> $live " +
          s"(last good snapshot preserved at $retired)")
    fs.delete(retired, true)
  }
}

object DbRouter {
  /** Envelope column carrying binlog/source order (decodeEnvelope output). */
  val SeqCol = "_seq"

  /** Read a routed fact "topic" (per-batch subdirectories) back as one table. */
  def readTopic(spark: SparkSession, sinkRoot: String, sinkTable: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$sinkRoot/kafka/$sinkTable")

  /** Read a dim snapshot, recovering from a crash mid-promote: prefers the
    * live path, falls back to the retired `._old` copy (present only in the
    * window between retire and promote). A half-written `._staging` is never
    * read. Throws real read failures instead of treating them as "empty" —
    * a transient FS error must not silently drop the snapshot from a merge.
    */
  def readDim(spark: SparkSession, sinkRoot: String, sinkTable: String): DataFrame = {
    val path = s"$sinkRoot/dim/$sinkTable"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    readDimSnapshot(spark, fs, path).getOrElse(
      throw new java.util.NoSuchElementException(s"no dim snapshot at $path"))
  }

  private[streaming] def readDimSnapshot(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String): Option[DataFrame] = {
    val live = new org.apache.hadoop.fs.Path(path)
    val retired = new org.apache.hadoop.fs.Path(s"$path._old")
    if (fs.exists(live)) Some(spark.read.parquet(path))
    else if (fs.exists(retired)) Some(spark.read.parquet(retired.toString))
    else None
  }

  /** S2 — decode raw CDC-envelope JSON lines (CustomerDeserialization output,
    * app/function/CustomerDeserialization.java:30-90) incl. `create`→`insert`
    * normalization (:74-79) and the delete filter (P3,
    * app/dwd/BaseDBApp.java:49-58). Input: one string column `value`.
    */
  def decodeEnvelope(raw: DataFrame): DataFrame =
    raw.withColumn("j", from_json(col("value"), Schemas.cdcEnvelope))
      .filter(col("j").isNotNull && col("j.tableName").isNotNull)
      .select(col("j.database").as("database"), col("j.tableName").as("tableName"),
        col("j.before").as("before"), col("j.after").as("after"),
        when(lower(col("j.type")) === "create", "insert")
          .otherwise(lower(col("j.type"))).as("type"),
        // source-order sequence for last-write-wins (binlog ts); envelopes
        // without one — or with a non-numeric one from a foreign producer —
        // fall back to 0 = snapshot phase (ts is parsed as string so a bad
        // value can't null the whole envelope struct in PERMISSIVE mode)
        // try_cast, not cast: ANSI mode (Spark 4 default) makes a plain
        // cast THROW on a non-numeric ts instead of yielding null
        coalesce(expr("try_cast(j.ts AS LONG)"), lit(0L)).as(SeqCol))
      .filter(col("type") =!= "delete")
}
