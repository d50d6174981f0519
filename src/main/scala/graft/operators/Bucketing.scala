package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lakehouse layout operators (SURVEY §4, the 100 TB playbook's "lay out
  * what you scan repeatedly"): the z-order and Hilbert clustering keys, the
  * data-skipping audit that compares layouts, and the compaction plan.
  * Each is a query over frames; the layout a deployment writes is the one
  * these keys sort by (range-partition on the key, sort within partitions).
  *
  * The reference's analog is Phoenix salting/pre-split regions for its dim
  * tables (app/function/TableProcessFunction.java:70-127 creates dim tables
  * keyed on id) — here the layout is declared once on the lake instead.
  */
object Bucketing {

  /** Z-ORDER key: bit-interleave two non-negative integer columns
    * (clamped to 16 bits each) into one 32-bit Morton code — the
    * multi-dimensional clustering key behind data-skipping layouts
    * (Morton 1966; the technique Delta's OPTIMIZE ZORDER and Iceberg's
    * sort orders apply). Rows range-sorted by the z-key keep BOTH columns
    * locally clustered, so per-file min/max statistics prune scans
    * filtered on EITHER dimension — unlike a lexicographic sort, which
    * clusters only its leading column.
    *
    * Pure integer bit arithmetic (32 shift-mask-shift terms), identical
    * in any engine — no hashing, no floats. Clamping (not masking) keeps
    * out-of-domain values order-preserving at the boundary instead of
    * wrapping them into the middle of the curve.
    */
  def zorderKey(x: Column, y: Column): Column = {
    val xc = least(greatest(x, lit(0L)), lit(65535L))
    val yc = least(greatest(y, lit(0L)), lit(65535L))
    (0 until 16).map { i =>
      shiftleft(shiftright(xc, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(yc, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
  }

  /** L1 — z-order layout keys for the event stream: (user_id, props.k)
    * interleaved, plus the 1024-way range bucket (`zkey >> 22`) a
    * repartitionByRange layout would split files on. The query face is
    * the key computation (oracle-exact); a z-ordered write range-partitions
    * and sorts on `zkey`.
    *
    * Scale notes (100 TB): the key is a map-side projection — layout cost
    * is the one range-exchange of the WRITE, paid once, after which every
    * query filtering on user ranges OR property ranges skips files by
    * footer stats; `BucketingSpec` pins the locality win (z-bucket
    * bounding boxes are strictly tighter than arrival-order buckets).
    */
  def zorderEvents(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .withColumn("zkey", zorderKey(col("user_id"), col("k")))
      .withColumn("zbucket", shiftright(col("zkey"), 22))

  /** L4 — data-SKIPPING effectiveness audit, the number that justifies l1:
    * for the same box predicate (`user_id ≤ 31 AND k ≤ 31`), how many
    * files must a scan touch under the ARRIVAL layout (event_id-contiguous
    * 1024-row files — what a stream sink writes) versus the Z-ORDER layout
    * (fixed zkey ranges — what a z-ordered write produces)? Emits one row per
    * layout: files_total, files_touched (file [min,max] boxes overlapping
    * the predicate), rows_read (read amplification), rows_matched — the
    * before/after table every OPTIMIZE ZORDER decision is argued from.
    * Everything is integer arithmetic over deterministic file assignments,
    * so the oracle states the identical layout.
    *
    * Scale notes (100 TB): per-file min/max/count is ONE keyed aggregation
    * with map-side partials (at scale it reads footer STATS, not rows —
    * this query derives the same numbers from rows to stay oracle-exact);
    * the verdict rollup runs over file-count-sized frames. No global sort:
    * arrival files come from dense ids, z-files from fixed key ranges —
    * both pure projections.
    */
  def skippingStats(events: DataFrame): DataFrame =
    layoutAudit(events, arrivalAndZorder)

  /** L5 — THREE-way layout bake-off: l4's skipping audit extended with the
    * HILBERT layout ([[graft.functions.HilbertIndex]]), the locality-better
    * space-filling curve (every curve step moves ONE grid cell, so equal
    * curve segments have tighter bounding boxes than Morton's
    * diagonal-jumping Z — the reason Delta's OPTIMIZE grew a HILBERT mode).
    * Same box predicate, same file granularity (4096-key curve segments),
    * same per-layout verdict columns — the table that decides WHICH curve
    * to cluster on, not just whether to cluster.
    *
    * Scale notes (100 TB): both curve keys are scan-side codegen'd integer
    * projections (zero joins); the audit is ONE keyed aggregation with
    * map-side partials over (layout, file_id) — 3× l4's rollup rows, still
    * file-catalog-sized. The oracle states the Hilbert rotation rounds as
    * chained CTEs over the same integers, so the layouts are bit-identical
    * across engines.
    */
  def layoutCompare(events: DataFrame): DataFrame =
    layoutAudit(events, arrivalAndZorder :+ ("hilbert" -> shiftright(
      graft.functions.HilbertIndex.hilbert_key(col("user_id"), col("k")), 12)))

  /** l4's two layouts: 1024-row arrival files and 4096-key z-order segments. */
  private def arrivalAndZorder: Seq[(String, Column)] = Seq(
    "arrival" -> expr("event_id div 1024"),
    "zorder" -> shiftright(col("zkey"), 12))

  /** The l4/l5 rollup over any set of layouts: `layouts` maps a layout name
    * to its file-id column over [[zorderEvents]]' output; one row per
    * layout with files_total, files_touched, rows_read and rows_matched for
    * the box predicate `user_id ≤ 31 AND k ≤ 31`.
    */
  private def layoutAudit(events: DataFrame, layouts: Seq[(String, Column)]): DataFrame = {
    // spread first: the JSON parse + curve keys + layout explode + partial
    // agg otherwise all run inside the scan stage, which a single-row-group
    // input serializes onto one task; on well-split inputs spread is a
    // pass-through
    val base = zorderEvents(graft.Tables.spread(events))
    val matched = col("user_id") <= 31L && col("k") <= 31L
    val perFile = base
      .select(col("user_id"), col("k"),
        explode(map(layouts.flatMap { case (name, file) => Seq(lit(name), file) }: _*))
          .as(Seq("layout", "file_id")))
      .groupBy("layout", "file_id")
      .agg(count(lit(1)).as("rows"),
        min(col("user_id")).as("u_min"), min(col("k")).as("k_min"),
        sum(when(matched, 1L).otherwise(0L)).as("m"))
    // box overlap: predicate floor is 0 and file minima are >= 0, so a file
    // is touched iff BOTH minima sit at or below the predicate ceiling
    val touched = col("u_min") <= 31L && col("k_min") <= 31L
    perFile.groupBy("layout").agg(
      count(lit(1)).as("files_total"),
      sum(when(touched, 1L).otherwise(0L)).as("files_touched"),
      sum(when(touched, col("rows")).otherwise(0L)).as("rows_read"),
      sum(col("m")).as("rows_matched"))
  }

  /** L2 — compaction planning, l1's sibling for the OTHER lakehouse layout
    * chore (the small-files problem): assign each document to an output
    * file of ≈ 16 KiB, bin-packed in id order WITHIN a
    * (lang, shard) slice — `file_idx = floor(bytes_before_me / target)`,
    * the first-fit-in-order plan every compaction job (Delta OPTIMIZE,
    * Iceberg rewriteDataFiles) computes before it moves a byte. Shard =
    * `doc_id % 16` keeps the running sum DETERMINISTIC and
    * engine-portable (no hash seams) while bounding every window
    * partition.
    *
    * Scale notes (100 TB): the only structure is one running-sum window
    * per (lang, shard) — parallelism = shards × langs, each partition
    * sorts only its own slice (never a global sort), and the output is a
    * pure projection the actual rewrite job consumes as its partition
    * spec. Skew-bounded by construction: a shard's byte volume is ~1/N of
    * its language.
    */
  def compactionPlan(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("shard", col("doc_id") % 16)
      .withColumn("cum_bytes", sum(col("n_chars")).over(w))
      .withColumn("file_idx",
        floor((col("cum_bytes") - col("n_chars")) / 16384.0).cast("long"))
      .select("doc_id", "lang", "shard", "file_idx", "cum_bytes")
  }
}
