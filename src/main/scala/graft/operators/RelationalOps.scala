package graft.operators

import graft.Tables.{table, dsum}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Projection / routing / union / join / rank operators (SURVEY §2.3, §2.4,
  * §2.7, §2.10).
  *
  * Scale notes: the router config and all dimension tables are broadcast —
  * the fact side never shuffles for enrichment. Interval joins carry an
  * equi-key (orderkey / user_id) so Catalyst plans a shuffled hash/sort-merge
  * join on the key with the time bound as a post-filter, not a cross product.
  */
object RelationalOps {

  /** P5 — column projection + pushed filter (TableProcessFunction.filterColumn,
    * app/function/TableProcessFunction.java:171-189). Declarative select/filter
    * so ParquetScan shows PushedFilters + pruned ReadSchema.
    */
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** P6+J4 — config-driven stream router (TableProcessFunction.processElement,
    * app/function/TableProcessFunction.java:131-165; wiring app/dwd/BaseDBApp.java:74-97).
    * The `table_process` config is a tiny table broadcast-joined to the fact
    * stream; each record gets its sink family + sink table. Unmatched records
    * are dropped (reference logs "不存在" and drops, :161-163).
    */
  def configRouter(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val cfg = routerConfig(spark)
    ev.join(broadcast(cfg), Seq("event_type"))
      .select("event_id", "event_type", "sink_type", "sink_table")
  }

  /** The reference's table_process rows (FIXTURES.md §3) transposed onto event types. */
  def routerConfig(spark: SparkSession): DataFrame = {
    val rows = Seq(
      Row("purchase", "kafka", "dwd_order_info"),
      Row("click", "kafka", "dwd_page_log"),
      Row("view", "kafka", "dwd_display_log"),
      Row("signup", "hbase", "dim_user_info"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("event_type", StringType),
        StructField("sink_type", StringType),
        StructField("sink_table", StringType))))
  }

  /** P9+U2/U3 — normalize heterogeneous streams to one shape and union
    * (app/dws/ProductStatsApp.java:127-238: 7 topics → ProductStats;
    * app/dws/VisitorStatsApp.java:65-129: 3 topics → VisitorStats).
    * Union of projections is a zero-shuffle narrow op in Spark.
    */
  def normalizeUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val orders = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), lit("order_amount").as("metric_type"),
        col("value").cast(DecimalType(18, 4)).cast("double").as("metric"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), lit("click_ct").as("metric_type"), lit(1.0).as("metric"))
    val visits = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), lit("uv_ct").as("metric_type"), lit(1.0).as("metric"))
    orders.unionByName(clicks).unionByName(visits)
  }

  /** J1 — event-time interval join (app/dwm/OrderWideApp.java:94-105:
    * order_info ⋈ order_detail on id=order_id within ±5s). Testdata analog:
    * orders ⋈ lineitem on orderkey with l_shipdate in [o_orderdate,
    * o_orderdate + 90 days]. Equi-key first ⇒ hash join + residual range
    * filter; no theta-join blowup at scale.
    */
  def intervalJoinOrder(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val l = table(spark, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") >= o("o_orderdate") &&
        l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(col("o_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
  }

  /** J2 — asymmetric interval join (app/dwm/PaymentWideApp.java:85-94:
    * payment ⋈ order_wide within [-15min, +5min] of payment). Testdata analog:
    * purchase events joined to the same user's signup events with
    * signup.ts ∈ [purchase.ts − 24h, purchase.ts + 1h].
    */
  def intervalJoinPayment(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val pay = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("payment_id"), col("ts").as("pay_ts"))
    val ord = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("order_id"), col("ts").as("order_ts"))
    pay.join(ord, Seq("user_id"))
      .filter(col("order_ts") >= col("pay_ts") - expr("INTERVAL 24 HOURS") &&
              col("order_ts") <= col("pay_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "payment_id", "order_id")
  }

  /** J3 — dimension enrichment (app/dwm/OrderWideApp.java:123-233: six async
    * Phoenix/Redis lookups). Spark-first: the async/cache apparatus collapses
    * into chained broadcast hash joins — dims ship once per executor, the
    * fact side streams through with zero shuffle. Age derivation analog
    * (OrderWideApp.java:140-147) → acctbal tier.
    */
  def dimEnrich(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation")
    val r = table(spark, dir, "region")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(o("o_orderkey"), o("o_custkey"), c("c_name"),
        c("c_mktsegment"), n("n_name").as("nation_name"), r("r_name").as("region_name"),
        o("o_totalprice"),
        floor(c("c_acctbal") / 1000.0).cast("long").as("acct_tier"))
  }

  /** §2.10 — ranking/top-k (absent in the reference; Catalyst gives it free).
    * Top-3 orders per customer by price, deterministic tiebreak on key.
    */
  def rankTopN(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
  }

  /** R2 — analytic window functions beyond ranking (SURVEY §2.10: absent in
    * the reference, provided by Catalyst): lag/lead neighbors, a dense-rank
    * tier, and a running decimal-exact spend per customer. Every window
    * carries a deterministic total order (date, then key) and the rank key
    * is a coarse integer tier so ties are well-defined — results hash-match
    * an independent engine. One shuffle on the partition key serves all four
    * window functions (same window spec ⇒ one sort).
    */
  def windowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val tier = Window.partitionBy(col("o_custkey"))
      .orderBy(floor(col("o_totalprice") / 10000).cast("long").desc)
    o.select(col("o_custkey"), col("o_orderkey"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      dense_rank().over(tier).cast("long").as("price_tier_rank"),
      sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("cum_spend"))
  }

  /** A8 — ROLLUP aggregation (SURVEY §2.5: grouping sets absent in the
    * reference, free in Catalyst): order counts and decimal-exact amounts at
    * (year, status), (year), and grand-total levels, disambiguated by
    * `grouping_id` — the Expand-based plan computes all levels in one pass.
    */
  def rollupStats(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    o.select(date_format(col("o_orderdate"), "yyyy").as("yr"),
        col("o_orderstatus").as("status"), col("o_totalprice"))
      .rollup(col("yr"), col("status"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("ct"), graft.Tables.dsum(col("o_totalprice")).as("amt"))
      .select("yr", "status", "gid", "ct", "amt")
  }

  /** A7+K6 — ADS serving query (gmall-publisher ProductStatsMapper.java:12-13:
    * `select sum(order_amount) ... where toYYYYMMDD(stt)=#{date}`).
    */
  def adsSum(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .withColumn("dt", date_format(col("o_orderdate"), "yyyyMMdd"))
      .groupBy("dt")
      .agg(dsum(col("o_totalprice")).as("order_amount"),
        count(lit(1)).as("order_ct"))

  /** DQ1 — data-quality validation battery (the dbt-test / Deequ shape):
    * one declarative report row per check — null rates, referential
    * integrity, primary-key uniqueness, domain ranges, parse health — so a
    * pipeline gates its loads on `violations == 0` per rule instead of
    * discovering breakage downstream. Checks marked by construction
    * non-zero here (name duplication, short docs, k-less events) prove the
    * battery measures rather than rubber-stamps.
    *
    * Scale notes (100 TB): every check is one scan-aggregate (count of a
    * predicate, or total-minus-distinct for uniqueness) or one FK anti
    * join on the join key — the same keyed/broadcast machinery every real
    * query uses; nothing materializes violating ROWS (counts only), so the
    * report is a fixed handful of one-row frames unioned at the end.
    */
  private def check(name: String, violations: DataFrame): DataFrame =
    violations.select(lit(name).as("check"),
      col("violations").cast("long").as("violations"))
  private def ofCount(df: DataFrame) = df.agg(count(lit(1)).as("violations"))

  /** DQ2 — distribution DRIFT detection: the population stability index
    * (PSI), the standard model-monitoring statistic, between two corpus
    * snapshots — here the d19 split (even ids = history, odd = incoming)
    * over the language distribution. Per bucket:
    * `psi_term = (p − q) · ln(p/q)` with p = incoming share, q = history
    * share; Σ terms > 0.2 is the conventional "significant drift" alarm.
    * Exactness: ln is DECOMPOSED over the four counts
    * (`ln(inc)−ln(n_inc)−ln(hist)+ln(n_hist)`, same association in both
    * engines) so no int64 product can overflow at any corpus size — each
    * ln argument is one exact count — and each term is 4-dp
    * floor-quantized (the t13 recipe) so both engines emit identical
    * rows; shares are floor-quantized the same way for the report columns.
    *
    * Scale notes (100 TB): two scan-aggregates (bucket counts per side,
    * map-side partial) + a bucket-keyed join of two bucket-sized frames;
    * totals ride one-row broadcasts. Buckets absent from either side are
    * excluded (PSI is undefined at zero mass) — production assigns a
    * smoothing floor; the report's `inc_ct`/`hist_ct` make the absence
    * visible either way.
    */
  def driftPsi(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val inc = docs.filter(col("doc_id") % 2 === 1)
      .groupBy(col("lang")).agg(count(lit(1)).as("inc_ct"))
    val hist = docs.filter(col("doc_id") % 2 === 0)
      .groupBy(col("lang")).agg(count(lit(1)).as("hist_ct"))
    val ni = inc.agg(sum("inc_ct").as("ni"))
    val nh = hist.agg(sum("hist_ct").as("nh"))
    def q4(c: org.apache.spark.sql.Column) = floor(c * 10000.0 + 0.5) / 10000.0
    val p = col("inc_ct").cast("double") / col("ni")
    val q = col("hist_ct").cast("double") / col("nh")
    // ln decomposed over the four counts, NOT ln((inc·nh)/(hist·ni)): at
    // the 100 TB regime (1e10+ docs/side) the int64 products overflow —
    // Spark wraps silently (NaN psi_term) where DuckDB raises, so the
    // engines would diverge exactly where the statistic matters. Each ln
    // argument is a single count cast to double; the four-term sum is
    // written in the same association both engines evaluate left-to-right.
    val lnRatio =
      log(col("inc_ct").cast("double")) - log(col("ni").cast("double")) -
        log(col("hist_ct").cast("double")) + log(col("nh").cast("double"))
    inc.join(hist, Seq("lang"))
      .crossJoin(broadcast(ni)).crossJoin(broadcast(nh))
      .select(col("lang"), col("inc_ct"), col("hist_ct"),
        q4(p).as("inc_share"), q4(q).as("hist_share"),
        q4((p - q) * lnRatio).as("psi_term"))
  }

  /** DQ3 — column PROFILING, the other half of warehouse data quality
    * (dq1 checks rules, dq3 describes distributions): per profiled column,
    * row count, null count, exact distinct count, and min/max (compared in
    * the column's own type, rendered as strings for the uniform report
    * row) — what a catalog surfaces next to every dataset and what drift
    * investigations (dq2) start from.
    *
    * Scale notes (100 TB): one scan-aggregate PER profiled column, each
    * reading ONLY its column (columnar pruning — the per-column scans are
    * cheaper than one fused multi-countDistinct pass, which Catalyst plans
    * as an Expand that multiplies every corpus row by the number of
    * distinct aggregates before the shuffle). Each scan is a count/min/max
    * partial-agg plus one exact countDistinct (two-level agg); at 100 TB
    * swap exact distincts for Spark's HLL sketches
    * (`hll_sketch_estimate(hll_sketch_agg(c, 12))`). The report is a
    * handful of one-row frames unioned at the end — nothing row-scale ever
    * materializes.
    */
  def columnProfile(docs: DataFrame): DataFrame = {
    def profile(name: String, c: org.apache.spark.sql.Column): DataFrame =
      docs.agg(
        count(lit(1)).as("n_rows"),
        sum(when(c.isNull, 1L).otherwise(0L)).as("null_ct"),
        countDistinct(c).as("distinct_ct"),
        min(c).cast("string").as("min_val"),
        max(c).cast("string").as("max_val"))
        .select(lit(name).as("col_name"), col("n_rows"), col("null_ct"),
          col("distinct_ct"), col("min_val"), col("max_val"))
    Seq(profile("lang", col("lang")), profile("source", col("source")),
      profile("n_chars", col("n_chars")))
      .reduce(_ unionByName _)
  }

  /** DQ4 — k-ANONYMITY risk audit (Sweeney 2002): group the corpus by its
    * quasi-identifier tuple — here (lang, source, 256-char length bucket),
    * the release-metadata columns an attacker could link on — and flag
    * every group smaller than k=10: a document in such a group is
    * re-identifiable from its metadata alone. The per-group rows are what
    * a privacy review acts on (suppress, generalize the bucket, or drop);
    * `at_risk` sums to the suppression budget.
    *
    * Scale notes (100 TB): one quasi-identifier-keyed scan-aggregate with
    * map-side partials — group count is bounded by the identifier domain
    * (langs × sources × buckets), not corpus size; the risk flag is a
    * projection over that bounded frame. All-integer, no joins.
    */
  def kAnonymity(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), col("source"),
        expr("n_chars div 256").as("len_bucket"))
      .agg(count(lit(1)).as("group_ct"))
      .withColumn("at_risk", col("group_ct") < 10)

  /** DQ5 — data FRESHNESS monitor, the pipeline-lag face of the dq family:
    * per event stream (event_type), the last-seen timestamp, its lag
    * behind the freshest stream anywhere in the table, total volume, and
    * last-24h volume — the staleness dashboard every ingest SLA is
    * enforced from (a stream whose lag_us grows or whose last-day count
    * collapses is a stuck upstream, caught before consumers read stale
    * joins). All integer microsecond arithmetic; the reference point is
    * the table's own max, so the check needs no wall clock and stays
    * reproducible.
    *
    * Scale notes (100 TB): one corpus scan-aggregate keyed by stream
    * (map-side partials; stream cardinality ≪ rows) with the one-row
    * global max cross-broadcast — the dq1/dq2 counts-only shape.
    */
  def freshness(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"), unix_micros(col("ts")).as("us"))
    val ref = e.agg(max(col("us")).as("ref_us"))
    e.crossJoin(broadcast(ref))
      .groupBy("event_type")
      .agg(max(col("us")).as("last_us"),
        count(lit(1)).as("total_events"),
        sum(when(col("us") > col("ref_us") - 86400000000L, 1L).otherwise(0L))
          .as("events_last_day"),
        max(col("ref_us")).as("_ref"))
      .select(col("event_type"), col("last_us"),
        (col("_ref") - col("last_us")).as("lag_us"),
        col("total_events"), col("events_last_day"))
  }

  /** DQ6 — per-stream VOLUME-ANOMALY detection, the alerting face dq5's
    * lag monitor pairs with: daily event counts per stream (event_type),
    * each day z-scored against that stream's own 30-day distribution, and
    * days with |z| > 2 flagged — a collapsed day is a stuck upstream,
    * a spiked day is a replay or a bot flood, both caught from counts alone.
    * Day = epoch-µs floor-division (integer day index — no calendar, no
    * timezone, no wall clock).
    *
    * Engine-exact determinism at any count magnitude (the dq2 overflow
    * lesson): the variance numerator is computed from deviations around the
    * integer day-mean `s div days` — `days·Σdev² − (Σdev)²` is
    * shift-invariant, so the engines agree even where `s²` (~10²⁴ at 10¹²
    * events/stream) would have overflowed int64. Every value stays integer
    * until the final two divisions and the sqrt, which are single
    * correctly-rounded IEEE ops; bound: days·maxdev² < 2⁶³ (30 days of
    * ±10⁸-event swings ≈ 3·10¹⁷ — three decades of headroom).
    *
    * Scale notes (100 TB): ONE corpus scan-aggregate keyed by
    * (stream, day) with map-side partials — the output frame is
    * streams × days rows, and every window below shares its single
    * stream-keyed exchange of that tiny frame. No joins, no second scan.
    */
  def volumeAnomaly(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
    val num = col("days") * col("sd2") - col("sd1") * col("sd1")
    events.groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day_idx"))
      .agg(count(lit(1)).as("ct"))
      .withColumn("days", count(lit(1)).over(w))
      .withColumn("s", sum(col("ct")).over(w))
      .withColumn("dev", col("ct") - expr("s div days"))
      .withColumn("sd1", sum(col("dev")).over(w))
      .withColumn("sd2", sum(col("dev") * col("dev")).over(w))
      .withColumn("z",
        when(col("days") < 2 || num <= 0, lit(0.0))
          .otherwise(round((col("ct") - col("s") / col("days")) /
            sqrt(num / (col("days") * (col("days") - 1))), 4)))
      .select(col("event_type"), col("day_idx"), col("ct"), col("z"),
        (abs(col("z")) > 2.0).as("anomaly"))
  }

  /** DQ7 — REFERENTIAL-INTEGRITY audit over the warehouse's FK graph, the
    * classic load-time check the dq battery was missing: for each foreign-
    * key relation, the fact-row count and the number of ORPHANS (fact rows
    * whose key matches no dimension row; a NULL key is an orphan — it
    * references nothing). A nonzero row means a partial load, an
    * out-of-order ingest, or a retention job that dropped parents before
    * children — caught before every downstream join silently loses rows.
    *
    * Scale notes (100 TB): one left join per relation, each keyed on its
    * own FK — small dims (nation) broadcast, big ones (orders at 1.5B
    * rows/TB) stay keyed equi-joins with map-side-combinable count
    * aggregates on top; the output is six rows. No orphan LIST is
    * materialized here — the count is the alert; the listing query is the
    * same join with a filter, run on demand.
    */
  /** One FK relation's audit row — public so tests can exercise orphan and
    * NULL-key semantics on synthetic frames; the six-relation battery
    * below unions these.
    */
  def fkCheck(rel: String, fact: DataFrame, fk: String,
      dim: DataFrame, pk: String): DataFrame =
    fact.select(col(fk).as("_fk"))
      .join(dim.select(col(pk).as("_pk")).distinct(),
        col("_fk") === col("_pk"), "left")
      .agg(count(lit(1)).as("fact_rows"),
        sum(when(col("_pk").isNull, 1L).otherwise(0L)).as("orphans"))
      .select(lit(rel).as("relation"), col("fact_rows"), col("orphans"),
        (col("orphans") === 0L).as("ok"))

  def referentialIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def check(rel: String, fact: DataFrame, fk: String,
        dim: DataFrame, pk: String): DataFrame =
      fkCheck(rel, fact, fk, dim, pk)
    val orders = table(spark, dir, "orders")
    val lineitem = table(spark, dir, "lineitem")
    val customer = table(spark, dir, "customer")
    val nation = table(spark, dir, "nation")
    // the three lineitem FK checks share ONE pass over the fact table
    // (three left joins on distinct'd dims — no row multiplication — then
    // conditional orphan sums, unpivoted): the corpus-scale fact is scanned
    // once however many of its FKs are checked.
    val liChecks = lineitem
      .join(orders.select(col("o_orderkey").as("_pk1")).distinct(),
        col("l_orderkey") === col("_pk1"), "left")
      .join(table(spark, dir, "part").select(col("p_partkey").as("_pk2")).distinct(),
        col("l_partkey") === col("_pk2"), "left")
      .join(table(spark, dir, "supplier").select(col("s_suppkey").as("_pk3")).distinct(),
        col("l_suppkey") === col("_pk3"), "left")
      .agg(count(lit(1)).as("fact_rows"),
        sum(when(col("_pk1").isNull, 1L).otherwise(0L)).as("o1"),
        sum(when(col("_pk2").isNull, 1L).otherwise(0L)).as("o2"),
        sum(when(col("_pk3").isNull, 1L).otherwise(0L)).as("o3"))
      .select(col("fact_rows"), explode(map(
        lit("lineitem.l_orderkey->orders"), col("o1"),
        lit("lineitem.l_partkey->part"), col("o2"),
        lit("lineitem.l_suppkey->supplier"), col("o3")))
        .as(Seq("relation", "orphans")))
      .select(col("relation"), col("fact_rows"),
        coalesce(col("orphans"), lit(0L)).as("orphans"))
      .withColumn("ok", col("orphans") === 0L)
    Seq(
      check("orders.o_custkey->customer", orders, "o_custkey",
        customer, "c_custkey"),
      liChecks,
      check("customer.c_nationkey->nation", customer, "c_nationkey",
        nation, "n_nationkey"),
      check("supplier.s_nationkey->nation", table(spark, dir, "supplier"),
        "s_nationkey", nation, "n_nationkey")
    ).reduce(_.unionByName(_))
  }

  /** L3 — snapshot DIFF, the lakehouse table-history chore (Delta
    * DESCRIBE HISTORY / Iceberg snapshot diff, reduced to its data core):
    * given two corpus snapshots keyed by doc_id with a content hash,
    * classify every id as added / removed / changed / unchanged and emit
    * the per-status counts — what an incremental consumer reads to decide
    * between incremental refresh and full rebuild, and what a data-audit
    * trail records per publish. Snapshots are derived deterministically
    * here (v1 = ids ≢ 4 mod 5; v2 = ids ≢ 6 mod 7, with ids ≡ 3 mod 11
    * "edited" by hashing a revised text) so the oracle can state the same
    * construction.
    *
    * Scale notes (100 TB): ONE doc_id-keyed full outer join of the two
    * manifest projections (id + 16-byte hash — manifest-sized, not
    * corpus-bytes-sized; at scale these are the snapshots' own metadata
    * files) followed by a 4-group count; nothing wider than the hash ever
    * moves.
    */
  def snapshotDiff(docs: DataFrame): DataFrame = {
    val v1 = docs.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id"), md5(col("text")).as("h1"))
    val v2 = docs.filter(col("doc_id") % 7 =!= 6)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 11 === 3, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(when(col("h1").isNull, "added")
        .when(col("h2").isNull, "removed")
        .when(col("h1") =!= col("h2"), "changed")
        .otherwise("unchanged").as("status"))
      .groupBy("status").agg(count(lit(1)).as("ct"))
  }

  /** DQ8 — PROFILE DRIFT between table snapshots, closing the dq family's
    * loop: l3 tells a consumer *that* rows changed, dq2 tracks one chosen
    * distribution — dq8 is the catalog-level answer to "did the SHAPE of
    * the table move between publishes?". It composes dq3's per-column
    * profile (rows / nulls / exact distincts / typed min-max) over l3's two
    * deterministic snapshots and diffs them per column: row delta, 4-dp
    * null rates, the v2:v1 distinct-cardinality ratio, and min/max-bound
    * movement, plus a `drifted` verdict (cardinality halved/doubled, null
    * rate moved > 0.1, or a bound changed) — the alert a schema-registry /
    * data-contract monitor raises before consumers read a reshaped table.
    *
    * Both stages reuse the existing conventions VERBATIM (dq3's profile
    * shape, l3's snapshot construction), so drift here would break those
    * oracles too. Threshold compares are integer cross-products
    * (`10·|nulls₂·rows₁ − nulls₁·rows₂| > rows₁·rows₂`), never float
    * ratios; displayed ratios are 4-dp floor(+0.5) quantized.
    *
    * Scale notes (100 TB): two dq3 scan-aggregate batteries (each pruned to
    * its own column, map-side partials) and a join of two REPORT-sized
    * frames (rows = profiled columns) — nothing row-scale survives the
    * aggregates; at 100 TB swap the exact distincts for HLL exactly as
    * dq3's note prescribes.
    */
  def profileDrift(docs: DataFrame): DataFrame = {
    // 4-dp quantized ratio a/b, stated as floor(a·10⁴/b + ½)/10⁴ on BOTH
    // engines so the double arithmetic associates identically
    def r4(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      floor(a * 10000.0 / b + 0.5) / 10000.0
    def side(snap: DataFrame, tag: String): DataFrame =
      columnProfile(snap).select(col("col_name"),
        col("n_rows").as(s"rows_$tag"), col("null_ct").as(s"nulls_$tag"),
        col("distinct_ct").as(s"distinct_$tag"),
        col("min_val").as(s"min_$tag"), col("max_val").as(s"max_$tag"))
    val p1 = side(docs.filter(col("doc_id") % 5 =!= 4), "v1") // l3's v1
    val p2 = side(docs.filter(col("doc_id") % 7 =!= 6), "v2") // l3's v2
    p1.join(p2, Seq("col_name"))
      .select(col("col_name"), col("rows_v1"), col("rows_v2"),
        (col("rows_v2") - col("rows_v1")).as("row_delta"),
        r4(col("nulls_v1"), col("rows_v1")).as("null_rate_v1"),
        r4(col("nulls_v2"), col("rows_v2")).as("null_rate_v2"),
        col("distinct_v1"), col("distinct_v2"),
        r4(col("distinct_v2"), col("distinct_v1")).as("distinct_ratio"),
        (col("min_v1") =!= col("min_v2")).as("min_changed"),
        (col("max_v1") =!= col("max_v2")).as("max_changed"),
        (col("distinct_v2") * 2 < col("distinct_v1") ||
          col("distinct_v2") > col("distinct_v1") * 2 ||
          abs(col("nulls_v2") * col("rows_v1") - col("nulls_v1") * col("rows_v2")) * 10 >
            col("rows_v1") * col("rows_v2") ||
          col("min_v1") =!= col("min_v2") || col("max_v1") =!= col("max_v2"))
          .as("drifted"))
  }

  def dataQualityReport(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
    val customer = table(spark, dir, "customer")
    val lineitem = table(spark, dir, "lineitem")
    val part = table(spark, dir, "part")
    val docs = table(spark, dir, "documents")
    val events = table(spark, dir, "events")
    // same-table predicate checks share one scan-aggregate per table
    // (conditional sums + the distinct count in a single pass, unpivoted to
    // check rows): each table is scanned once however many checks it has;
    // the FK checks keep their own anti-joins (they need the other table
    // regardless).
    val ordersChecks = orders.agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk"))
      .select(explode(map(
        lit("orders_custkey_not_null"), col("nn"),
        lit("orders_pk_unique"), col("pk"))).as(Seq("check", "violations")))
      .withColumn("violations", coalesce(col("violations"), lit(0L)))
    val lineitemChecks = lineitem.agg(
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("qty"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)).as("disc"))
      .select(explode(map(
        lit("lineitem_qty_positive"), col("qty"),
        lit("lineitem_discount_domain"), col("disc"))).as(Seq("check", "violations")))
      .withColumn("violations", coalesce(col("violations"), lit(0L)))
    Seq(
      ordersChecks,
      check("orders_fk_customer",
        ofCount(orders.select(col("o_custkey").as("c_custkey"))
          .join(customer.select("c_custkey"), Seq("c_custkey"), "left_anti"))),
      check("lineitem_fk_orders",
        ofCount(lineitem.select(col("l_orderkey").as("o_orderkey"))
          .join(orders.select("o_orderkey"), Seq("o_orderkey"), "left_anti"))),
      lineitemChecks,
      check("part_name_unique", part.agg(
        (count(lit(1)) - countDistinct(col("p_name"))).as("violations"))),
      check("documents_min_length",
        ofCount(docs.filter(col("n_chars") < 64))),
      check("events_props_have_k",
        ofCount(events.filter(get_json_object(col("props"), "$.k").isNull))))
      .reduce(_ unionByName _)
  }
}
