package graft.operators

import graft.Tables.{table, dsum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DWS windowed aggregations (SURVEY §2.5/§2.6/§2.8), batch form over the
  * warehouse tables. The declared watermark aggregations over live streams
  * live in [[graft.streaming.StatsStreams]]; every operator here runs on a
  * live stream as is, per micro-batch (`writeStream.foreachBatch`).
  *
  * Scale notes: each aggregation is a single hash-agg with map-side partial
  * aggregation (Spark plans partial+final automatically — the reference's
  * hand-written incremental ReduceFunction, app/dws/VisitorStatsApp.java:159-182,
  * is subsumed). Exact count-distinct expands to a two-shuffle expand plan;
  * that is the price of the reference's exact HashSet semantics
  * (bean/ProductStats.java:77-87) — approx_count_distinct is the documented
  * fallback at 100 TB where the oracle tolerates it.
  */
object StatsOps {

  /** A1+W1 — VisitorStats: keyed tumbling window, summed counters + window
    * bounds stamped yyyy-MM-dd HH:mm:ss (app/dws/VisitorStatsApp.java:145-198).
    * Window = 1 hour over events.ts; key = event_type (stands in for the
    * (ar,ch,is_new,vc) 4-tuple).
    */
  def visitorStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    // Exact uv_ct via the spillable two-phase plan: pre-aggregate on
    // (window, key, user_id) — high-cardinality shuffle, every partial is a
    // plain hash-agg row that spills — then count rows per (window, key).
    // This replaces the ExactDistinct set-Aggregator here: its per-group
    // in-memory Set[Long] cannot spill, so at 100× an hour's worth of
    // distinct users would sit in ONE reducer's heap. The typed Aggregator
    // remains the streaming-append-mode path (StatsStreams), where a
    // multi-shuffle plan is not expressible. pv_ct/dur_sum fold through the
    // first phase as partial sums, so no extra pass and no Expand plan.
    ev.groupBy(date_trunc("hour", col("ts")).as("wstart"), col("event_type"),
        col("user_id"))
      .agg(
        count(lit(1)).as("_pv"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("_dv"))
      .groupBy(col("wstart"), col("event_type"))
      .agg(
        sum(col("_pv")).as("pv_ct"),
        count(lit(1)).as("uv_ct"),
        sum(col("_dv")).cast("double").as("dur_sum"))
      .select(
        date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("wstart") + expr("INTERVAL 1 HOUR"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type").as("ch"), col("pv_ct"), col("uv_ct"), col("dur_sum"))
  }

  /** A2+P8+P9 — ProductStats: one pass computing per-key heterogeneous
    * counters + exact distinct "order" sets (app/dws/ProductStatsApp.java:251-301;
    * set-union buffers bean/ProductStats.java:77-87). Key = user_id (stands in
    * for sku_id); conditional aggregation replaces the 7-stream union+reduce.
    * Divergence from reference (SURVEY §7.4.6): display events feed display_ct,
    * not click_ct (intent, not the :115-118 bug).
    */
  def productStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    ev.groupBy(col("user_id"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("click_ct"),
        count(when(col("event_type") === "view", 1)).as("display_ct"),
        count(when(col("event_type") === "purchase", 1)).as("paid_ct"),
        count(when(col("event_type") === "error", 1)).as("refund_ct"),
        dsum(when(col("event_type") === "purchase", col("value"))).as("order_amount"),
        countDistinct(when(col("event_type") === "purchase", col("event_id"))).as("order_ct"))
  }

  /** A3+W2+F3/F4 — ProvinceStats, the reference's flagship declarative query
    * (app/dws/ProvinceStatsSQLApp.java:112-132): tumbling window × province
    * dims → count(distinct order_id), sum(amount), formatted TUMBLE_START/END.
    * Testdata analog: orders ⋈ customer ⋈ nation, monthly window × nation.
    */
  def provinceStats(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("wstart"),
        n("n_nationkey").as("province_id"), n("n_name").as("province_name"))
      .agg(
        countDistinct(col("o_orderkey")).as("order_count"),
        dsum(col("o_totalprice")).as("order_amount"))
      .select(
        date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(add_months(col("wstart"), 1), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("province_id"), col("province_name"), col("order_count"), col("order_amount"))
  }

  /** A4+X1 — KeywordStats (app/dws/KeywordStatsApp.java:82-124): tokenize,
    * LATERAL explode, count per word, constant source column. Tokenizer =
    * whitespace split (the IK analyzer is replaced per SURVEY §2.9 X1), with
    * the reference's fallback semantics: blank tokens dropped.
    */
  def keywordStats(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    d.select(explode(split(col("text"), " ")).as("keyword"))
      .filter(length(col("keyword")) > 0)
      .groupBy("keyword")
      .agg(count(lit(1)).as("ct"))
      .withColumn("source", lit("search"))
  }

  /** F1-F9 — scalar date/time surface in one query:
    * TO_TIMESTAMP (F1, ProvinceStatsSQLApp.java:68), FROM_UNIXTIME (F2,
    * KeywordStatsApp.java:53), DATE_FORMAT (F3), UNIX_TIMESTAMP*1000 (F4),
    * split-derived date/hour (F6, OrderWideApp.java:55-58), age bucket (F8,
    * OrderWideApp.java:140-147).
    */
  def dateFunctions(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    o.select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("create_time"))
      .withColumn("create_date", substring(col("create_time"), 1, 10))
      .withColumn("create_hour", substring(col("create_time"), 12, 2))
      .withColumn("create_ts", unix_timestamp(to_timestamp(col("create_time"))) * 1000)
      .withColumn("roundtrip", date_format(to_timestamp(from_unixtime(col("create_ts") / 1000)),
        "yyyy-MM-dd HH:mm:ss"))
      .withColumn("age_years",
        floor(datediff(lit("1998-12-31").cast("date"), to_date(col("create_date"))) / 365)
          .cast("long"))
  }

  /** A9 — gap-based sessionization: a new session starts when a user's
    * inter-event gap exceeds 30 minutes; output is per-session stats. The
    * batch analog of the reference's keyed-state visit/jump detection
    * (app/dwm/UserJumpDetailApp.java:60-88), generalized from a 2-event CEP
    * pattern to whole-session assembly.
    *
    * Scale: both analytic windows and the final agg key on user_id — per-user
    * reducers (hundreds of millions of keys at 100 TB), never a global sort.
    * Timestamps stay integer µs end-to-end, so results are oracle-exact.
    */
  /** W2-batch — sliding (hopping) window counts over events: 10-minute
    * windows every 5 minutes, so each event lands in exactly size/slide = 2
    * panes. A live stream runs it per micro-batch. Proves the
    * pane-assignment arithmetic against an oracle stating the
    * floor-based pane starts explicitly (the §2.6 sliding-window row's
    * NOT-PRESENT bonus, upgraded from behavioral spec to oracle-checked).
    *
    * Scale notes: `window(size, slide)` plans as a size/slide-way Expand then
    * ONE hash agg keyed on (pane, type) — fan-out is the constant 2, partial
    * aggregation applies, and nothing buffers per-window state in batch.
    */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    // spread first: the 2-way pane Expand + DECIMAL partial aggregation
    // run at least core-wide, never inside a single-split scan stage;
    // pass-through on well-split inputs
    graft.Tables.spread(
        table(spark, dir, "events").select("ts", "event_type", "value"))
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("ct"), graft.Tables.dsum(col("value")).as("val_sum"))
      .select(unix_micros(col("window.start")).as("start_us"),
        unix_micros(col("window.end")).as("end_us"),
        col("event_type"), col("ct"), col("val_sum"))
  }

  /** W3-batch — Spark's NATIVE `session_window` (gap-merge operator) proven
    * against the relational formulation: the oracle derives the same sessions
    * via lag + cumulative session numbering (the a9 technique) and states
    * Spark's end semantics (last event + gap) arithmetically.
    *
    * Scale notes: session_window shuffles once on the session key, then
    * merges adjacent windows per key in a sort-based pass — the same shape as
    * the hand-rolled a9 but without materializing per-event session numbers.
    */
  def sessionWindowStats(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("event_ct"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("event_ct"))
  }

  /** A10 — strict-order, time-bounded conversion funnel (view → click →
    * purchase, each step within 24 h), the classic warehouse analytic the
    * reference's ADS layer exists to serve: a user advances a stage only
    * with an event STRICTLY AFTER their first qualifying event of the
    * previous stage and inside the conversion window (min-over-window
    * chaining, the standard formulation), so out-of-order clicks before the
    * first view never count and stale conversions age out. Emits stage
    * user-counts plus 4dp step/overall conversion; a ratio over a stage no
    * user reached is NULL, as in SQL (no DIVIDE_BY_ZERO under ANSI).
    *
    * Scale notes: ONE shuffle — all three stage minima are windows over the
    * same user_id partitioning (Catalyst stacks them on one exchange+sort),
    * the per-user rollup reuses that clustering, and the final stage counts
    * are a one-row global aggregate with map-side partials.
    */
  def funnel(events: DataFrame): DataFrame = {
    val winUs = 24L * 3600 * 1000000 // 24 h conversion window per step
    val w = Window.partitionBy("user_id")
    def stepMin(tpe: String, prev: Column): Column =
      min(when(col("event_type") === tpe && col("us") > prev &&
        col("us") <= prev + winUs, col("us"))).over(w)
    val staged = events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("v_us",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("c_us", stepMin("click", col("v_us")))
      .withColumn("p_us", stepMin("purchase", col("c_us")))
    def pct(a: Column, b: Column): Column = floor(try_divide(a * 10000.0, b) + 0.5) / 10000.0
    staged.groupBy("user_id")
      .agg(max("v_us").as("v"), max("c_us").as("c"), max("p_us").as("p"))
      .agg(count(lit(1)).as("users"), count(col("v")).as("viewed"),
        count(col("c")).as("clicked"), count(col("p")).as("purchased"))
      .withColumn("view_to_click", pct(col("clicked"), col("viewed")))
      .withColumn("click_to_purchase", pct(col("purchased"), col("clicked")))
      .withColumn("full_funnel", pct(col("purchased"), col("viewed")))
  }

  /** A14 — first/last-touch ATTRIBUTION, the marketing-analytics staple the
    * funnel (a10) feeds: every purchase is attributed to the FIRST and the
    * LAST qualifying view within its 24 h lookback window (channel = the
    * view's `props.k mod 5` — the campaign-bucket stand-in), and revenue
    * rolls up per channel under both models — the table a spend-allocation
    * decision reads. Purchases with no qualifying view are unattributed
    * and excluded (the report is about touched conversions); a
    * single-candidate purchase legitimately counts in BOTH models.
    *
    * Determinism: window ties (equal view timestamps) break by view
    * event_id in both directions. Revenue stays DECIMAL from the per-row
    * contributions to the per-channel rollup and turns DOUBLE only on the
    * final sums: decimal sums are order-free, so no merge order can move
    * the hash. Each contribution rounds to DECIMAL(18,4) per row (the rfm
    * convention, [[graft.Tables.dsum]]); their per-channel sum is
    * DECIMAL(28,4), exact for up to 10^10 contributions.
    *
    * MULTI-TOUCH weights over the same candidate frame. Linear: value/n per
    * touch. Position-based (U-shape): 40% first + 40% last + 20% split
    * across middles; 1 touch → 100%, 2 touches → 50/50. Weights are IEEE
    * doubles from integer inputs — identical cross-engine — so per-purchase
    * splits sum to the purchase value within n·5e-5 (the conservation
    * bound pinned in BatchQueriesSpec).
    *
    * Scale notes (100 TB): the purchase×view candidate join is the j1
    * interval shape — ONE user-keyed equi-join with the lookback as a
    * residual range predicate, bounded by per-user view×purchase density,
    * never a cross join; the first/last ranks and the touch count n_t all
    * share the purchase-id partitioning (one exchange of candidate rows);
    * the channel rollup is channel-cardinality-sized.
    */
  def attribution(events: DataFrame): DataFrame = {
    val winUs = 24L * 3600 * 1000000
    // one row per view (channel resolved, null channels dropped) or purchase
    val pre = events.filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        (get_json_object(col("props"), "$.k").cast("long") % 5).as("channel"),
        col("value"))
      .filter(col("event_type") === "purchase" || col("channel").isNotNull)
    val views = pre.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"),
        col("us").as("v_us"), col("channel"))
    val purchases = pre.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("us").as("p_us"), col("value"))
    val marked = purchases.join(views, Seq("user_id"))
      .filter(col("v_us") <= col("p_us") && col("v_us") > col("p_us") - winUs)
      .withColumn("rnf", row_number().over(Window.partitionBy("p_id")
        .orderBy(col("v_us").asc, col("v_id").asc)))
      .withColumn("rnl", row_number().over(Window.partitionBy("p_id")
        .orderBy(col("v_us").desc, col("v_id").desc)))
      .withColumn("n_t", count(lit(1)).over(Window.partitionBy("p_id")))
    def firstOrLast(rn: String): Column = when(col(rn) === 1, col("value")).otherwise(0.0)
    val posW = when(col("n_t") === 1, lit(1.0))
      .when(col("n_t") === 2, lit(0.5))
      .when(col("rnf") === 1 || col("rnl") === 1, lit(0.4))
      .otherwise(lit(0.2) / (col("n_t") - 2))
    marked.groupBy("channel").agg(
      sum(when(col("rnf") === 1, 1L).otherwise(0L)).as("ft_purchases"),
      dsum(firstOrLast("rnf")).as("ft_revenue"),
      sum(when(col("rnl") === 1, 1L).otherwise(0L)).as("lt_purchases"),
      dsum(firstOrLast("rnl")).as("lt_revenue"),
      dsum(col("value") / col("n_t")).as("lin_revenue"),
      dsum(col("value") * posW).as("pos_revenue"))
  }

  /** R3 — day-cohort retention: users grouped by first-active day, retention
    * at each day offset as the share of the cohort active that day — the
    * other staple ADS-layer analytic. Day arithmetic runs on integer
    * microsecond-epoch days (`us div 86_400_000_000`), so no DATE-type or
    * timezone semantics can diverge cross-engine.
    *
    * Scale notes: the (user, day) distinct is the one corpus-scale shuffle;
    * the cohort min is a window on user_id over already-distinct rows; the
    * (cohort, offset) rollup is day²-bounded and the cohort-size join
    * broadcasts (≤ one row per calendar day).
    */
  def retention(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val act = days
      .withColumn("cohort_day", min("day").over(Window.partitionBy("user_id")))
      .withColumn("day_offset", col("day") - col("cohort_day"))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("active_users"))
    val sizes = act.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("active_users").as("cohort_users"))
    act.join(broadcast(sizes), Seq("cohort_day"))
      .withColumn("retention",
        floor(col("active_users") * 10000.0 / col("cohort_users") + 0.5) / 10000.0)
  }

  /** A15 — cohort LIFETIME-VALUE matrix over the ORDERS fact: customers
    * grouped by first-purchase month, each (cohort, month-age) cell
    * carrying distinct buyers, revenue, the retained share of the founding
    * cohort, and CUMULATIVE revenue per founding buyer — the LTV curve
    * every payback/CAC decision reads (r3's day-retention sibling, but
    * money-weighted and month-grained). Month keys are plain integers
    * (`year·12 + month`), revenue folds as exact DECIMAL(18,4) through
    * BOTH the cell sum and the cumulative window, and the two ratios
    * quantize 4-dp only at the surface — so no float accumulation or
    * calendar semantics can diverge cross-engine.
    *
    * Scale notes (100 TB): two keyed exchanges — the per-customer cohort
    * window (partitioned on o_custkey) and the (cohort, age) rollup
    * (months²-bounded output); the cohort-size join broadcasts (≤ one row
    * per calendar month) and the cumulative window rides the tiny rollup
    * frame. No corpus self-joins, no date-type seams.
    */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_custkey").as("cust"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mkey"),
      col("o_totalprice").as("price"))
    val marked = o.withColumn("cohort_m",
        min("mkey").over(Window.partitionBy("cust")))
      .withColumn("age_m", col("mkey") - col("cohort_m"))
    val cell = marked.groupBy("cohort_m", "age_m")
      .agg(countDistinct(col("cust")).as("buyers"),
        sum(col("price").cast("decimal(18,4)")).as("rev_dec"))
    val sizes = cell.filter(col("age_m") === 0)
      .select(col("cohort_m"), col("buyers").as("cohort_users"))
    val cw = Window.partitionBy("cohort_m").orderBy("age_m")
    cell.join(broadcast(sizes), Seq("cohort_m"))
      .withColumn("cum_dec", sum(col("rev_dec")).over(cw))
      .select(col("cohort_m"), col("age_m"), col("buyers"),
        col("rev_dec").cast("double").as("revenue"),
        (floor(col("buyers") * 10000.0 / col("cohort_users") + 0.5) / 10000.0)
          .as("retained"),
        (floor(col("cum_dec").cast("double") / col("cohort_users") * 10000.0
          + 0.5) / 10000.0).as("cum_ltv"))
  }

  /** A13 — rolling active users: DAU, trailing-7-day WAU, and the DAU/WAU
    * stickiness ratio per epoch day — the engagement dashboard staple next
    * to r3's cohort view. The trailing window is materialized as a 7-way
    * offset explode of the distinct (user, day) activity (each active day
    * makes the user visible on days d..d+6), so "distinct users in a
    * trailing range" becomes two plain distinct-counts — no range self-join,
    * no per-day re-scan.
    *
    * Scale notes: the (user, day) distinct is the one corpus-scale shuffle;
    * the explode multiplies ONLY those distinct rows by 7 (user·day
    * cardinality, far below event cardinality), and the final rollups are
    * day-keyed. Only days with direct activity are emitted (dau ≥ 1), which
    * also clips the explode's overhang past the data's last day.
    */
  def rollingActive(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val dau = days.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = days
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("vday"))
      .distinct()
      .groupBy(col("vday").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .withColumn("stickiness",
        floor(col("dau") * 10000.0 / col("wau") + 0.5) / 10000.0)
  }

  /** A11 — RFM segmentation (recency / frequency / monetary), the classic
    * customer-value analytic an ADS layer serves to marketing: per user,
    * days since last purchase (relative to the corpus-max event time — a
    * data-defined "now", so the result is reproducible), purchase count,
    * and decimal-summed spend, each scored into quintiles (5 = best) with
    * (metric, user_id) tie-breaks so every ntile edge is deterministic
    * cross-engine. `rfm_code = 100r + 10f + m` is the segment key.
    *
    * Scale notes: one corpus-scale shuffle (the per-user purchase rollup);
    * the reference "now" is a one-row broadcast aggregate; the three ntile
    * windows run over user-cardinality rows. A global ntile is inherently
    * single-ordered — at extreme user counts swap in percent_rank over the
    * same sort or a sampled quantile cut; the quintile CONTRACT stays.
    */
  def rfm(events: DataFrame): DataFrame = {
    import graft.Tables.dsum
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
    val ref = events.agg(max(unix_micros(col("ts"))).as("ref_us"))
    val perUser = purchases.groupBy("user_id")
      .agg(max("us").as("last_us"), count(lit(1)).as("frequency"),
        dsum(col("value")).as("monetary"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days",
        expr("(ref_us - last_us) div 86400000000"))
    perUser
      // BIGINT scores: DuckDB's ntile returns BIGINT, Spark's INT — pin the
      // wider type on both sides so the schema gate can't diverge
      .withColumn("r",
        ntile(5).over(Window.orderBy(col("last_us"), col("user_id"))).cast("long"))
      .withColumn("f",
        ntile(5).over(Window.orderBy(col("frequency"), col("user_id"))).cast("long"))
      .withColumn("m",
        ntile(5).over(Window.orderBy(col("monetary"), col("user_id"))).cast("long"))
      .withColumn("rfm_code", (col("r") * 100 + col("f") * 10 + col("m")).cast("int"))
      .select("user_id", "recency_days", "frequency", "monetary", "r", "f", "m", "rfm_code")
  }

  /** A12 — clickstream transition matrix: per-user event sequences (ordered
    * by (ts, event_id)) folded into (prev_type → type) transition counts
    * with 4dp row-normalized probabilities — the Markov-chain view of user
    * behavior that powers path analysis and next-action models. Sequence
    * starts transit from the synthetic `_start` state, so row sums count
    * every user exactly once there.
    *
    * Scale notes: the lag runs on a user_id-keyed window (one corpus-scale
    * shuffle); the transition rollup and the per-prev totals operate on
    * event-type² rows — tiny forever — and the normalizing join broadcasts.
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    // materialized: the totals aggregation below would otherwise collapse
    // through the rollup and re-run the corpus-scale user window in its
    // broadcast branch
    val trans = Materialize(events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_type",
        coalesce(lag(col("event_type"), 1).over(w), lit("_start")))
      .select(col("prev_type"), col("event_type").as("next_type"))
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("ct")))
    val totals = trans.groupBy("prev_type").agg(sum("ct").as("row_total"))
    trans.join(broadcast(totals), Seq("prev_type"))
      .withColumn("prob",
        floor(col("ct") * 10000.0 / col("row_total") + 0.5) / 10000.0)
  }

  /** The (event_id, user_id, us, node) sequence feeding the g7/g8/g13
    * property-transition window: the PRUNED-but-unparsed rows are hash-
    * repartitioned on the window key FIRST, so the per-row `props` JSON
    * parse runs after the exchange on every core — the window's required
    * distribution is already satisfied, so this adds NO exchange; it only
    * moves the parse off the scan task, so its width is the shuffle's, not
    * the input's row-group count. At scale the trade is the same one
    * user-keyed shuffle carrying `props` bytes instead of the parsed long —
    * and the parse runs exactly once per row either way.
    */
  private def nodeSeq(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"), col("ts"), col("props"))
      .repartition(col("user_id"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        get_json_object(col("props"), "$.k").cast("long").as("node"))
      .filter(col("node").isNotNull)

  /** G7 — PageRank over the property-transition graph: nodes are the
    * `props.k` values, edges the per-user consecutive transitions (a12's
    * lag construction), edge weight = transition count. Weighted PageRank
    * with damping 0.85 and a FIXED iteration count, dangling mass
    * redistributed uniformly each round (Page et al. 1999) — the
    * link-analysis quality diagnostic of the corpus-health family (g5's
    * duplication rates, g6's Zipf slope): sources/pages that the
    * navigation graph concentrates on surface with high rank.
    *
    * Determinism contract: ranks live as BIGINT in 1e-8 units — every
    * per-edge contribution is `floor(0.85·r·w/outw + 0.5)` (one double
    * expression with pinned association, then an exact integer sum), the
    * base and dangling terms are floored the same way, so five rounds of
    * shuffle-merge arithmetic cannot diverge between engines: the DuckDB
    * oracle unrolls the identical five iterations.
    *
    * Scale notes (100 TB): the corpus-scale work is the ONE user-keyed
    * window building transitions; after the (src, dst) rollup everything
    * operates on edge-catalog-sized frames — each iteration is one
    * ranks⋈edges join on src (both sides edge/node-sized, NOT
    * corpus-sized) and one dst-keyed aggregation with map-side partials,
    * the standard distributed PR round; n and the dangling mass are
    * driver-held scalars (one-row aggregates over checkpointed blocks —
    * the n2b convergence-scalar convention). Each round reads the
    * checkpointed edge/node/outw blocks, never the corpus.
    */
  def pageRank(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val seq0 = nodeSeq(events)
    // the ONE corpus-scale pass materializes here: every unrolled round
    // (and outw/nodes) reads the flat, node²-bounded edge-catalog blocks
    // instead of replaying the user-keyed window
    val edges = Materialize(seq0
      .withColumn("src", lag(col("node"), 1).over(w))
      .filter(col("src").isNotNull)
      .select(col("src"), col("node").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w")))
    // outw and the node catalog are node-sized and read EVERY round (and
    // outw once more by the returned frame)
    val outw = Materialize(edges.groupBy("src").agg(sum("w").as("outw")))
    val nodes = Materialize(edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct())
    // n and the per-round dangling mass are ONE-ROW aggregates over
    // node-sized materialized frames, held as local scalars (the n2b
    // convergence-scalar convention) instead of per-round broadcast joins
    val n = nodes.count()
    var ranks = nodes
      .select(col("node"), lit(math.floor(1e8 / n + 0.5).toLong).as("r"))
    // only frames THIS loop checkpointed may be released: round 0's plain
    // plan bottoms out at the edges checkpoint, and a leaf-walking release
    // there would destroy the edge blocks every later round still reads
    var prevOwned: Option[DataFrame] = None
    for (_ <- 1 to 5) {
      val contribs = ranks
        .join(outw.withColumnRenamed("src", "node"), Seq("node"))
        .join(edges, col("node") === col("src"))
        .select(col("dst"),
          floor(lit(0.85) * col("r").cast("double") * col("w") / col("outw") + 0.5)
            .cast("long").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      // one flat scan of the previous round's checkpoint blocks → one long
      val dang: Long = ranks
        .join(outw.withColumnRenamed("src", "node"), Seq("node"), "left")
        .filter(col("outw").isNull)
        .agg(coalesce(sum("r"), lit(0L)).as("dm"))
        .head().getLong(0)
      // each round materializes (node-catalog-sized blocks) and the
      // superseded snapshot is released, so every per-round plan reads flat
      // checkpoint blocks instead of a tree that doubles per round
      val base = math.floor(1.5e7 / n + 0.5).toLong +
        math.floor(0.85 * dang.toDouble / n + 0.5).toLong
      val next = Materialize(nodes
        .join(contribs.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("s"), lit(0L))).as("r")))
      prevOwned.foreach(Materialize.release)
      prevOwned = Some(next)
      ranks = next
    }
    // the returned frame reads only outw and the last ranks
    Seq(edges, nodes).foreach(Materialize.release)
    ranks.join(outw.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("outw"), lit(0L)).as("out_weight"),
        (col("r").cast("double") / 1e8).as("pr"))
  }

  /** G8 — triangle counting over the property-transition graph (g7's node
    * set, simple undirected form: self-loops dropped, directions merged,
    * multi-edges collapsed): per node, its degree and the number of
    * triangles it participates in — the clustering-structure diagnostic
    * next to g7's link analysis (high triangle density ⇒ tightly looping
    * navigation neighborhoods).
    *
    * Algorithm: DEGREE-ORDERED edge orientation (the standard distributed
    * triangle scheme — Suri & Vassilvitskii, WWW'11 "Counting triangles
    * and the curse of the last reducer"): orient every edge from the
    * (degree, id)-smaller endpoint to the larger, enumerate wedges at the
    * small end, close them against the oriented edge set. Each triangle
    * {p≺q≺r} is found exactly once (the p-wedge (q, r)).
    *
    * Scale notes (100 TB): orientation bounds every node's OUT-degree by
    * O(√m) regardless of its true degree, so wedge volume is O(m^{3/2}) —
    * optimal for enumeration — and the hub that breaks naive
    * neighbor-join triangle counting ("the last reducer") contributes
    * almost no wedges because its edges all point INTO it. Every join is
    * keyed (wedge join on u, closure on (y, z)); the corpus-scale work is
    * the same one user-keyed window g7 pays, and everything after the
    * edge rollup is edge-catalog-sized.
    */
  def triangles(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val seq0 = nodeSeq(events)
    // the edge catalog is referenced by deg (×2), the orientation joins and
    // the closure join, and every broadcast branch would replay the
    // corpus-scale window: materialized, every downstream frame is
    // edge-catalog-sized (the g7/g13 edges discipline)
    val und = Materialize(seq0
      .withColumn("src", lag(col("node"), 1).over(w))
      .filter(col("src").isNotNull && col("src") =!= col("node"))
      .select(least(col("src"), col("node")).as("a"),
        greatest(col("src"), col("node")).as("b"))
      .distinct())
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // oriented edges feed the wedge join twice and the closure once: flat
    // blocks, not three re-runs of the degree joins
    val ori = Materialize(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv")))
    val e1 = ori.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val e2 = ori.select(col("u"), col("v").as("z"), col("dv").as("dz"))
    val tris = e1.join(e2, Seq("u"))
      .filter(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
      .join(ori.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
      .select(col("u").as("x"), col("y"), col("z"))
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_ct"))
    deg.select(col("n").as("node"), col("deg"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri_ct"), lit(0L)).as("tri_ct"))
  }

  /** G13 — community detection by synchronous LABEL PROPAGATION (Raghavan,
    * Albert, Kumara 2007, Phys. Rev. E 76 036106) over g7/g8's
    * property-transition graph, in its undirected weighted form (directions
    * merged, self-loops dropped, multi-edges summed): every node starts in
    * its own community and each round simultaneously adopts the label
    * carrying the MOST incident edge weight among its neighbors, ties to
    * the smallest label — the deterministic synchronous variant with a
    * fixed unrolled round count, so the oracle can state the identical
    * fixpoint prefix as chained CTEs (the g7 convention for iterative
    * graph work; free-running asynchronous LPA is order-dependent and
    * could not be oracle-checked).
    *
    * Scale notes (100 TB): the only corpus-scale pass is the same ONE
    * user-keyed window g7/g8 pay; everything after the edge rollup is
    * edge-catalog-sized. Each round is one keyed aggregation of labels
    * joined against the checkpointed adjacency — labels move, the graph
    * does not (the distributed-LPA layout); the argmax is a two-level
    * partial agg (max of (weight, −label) structs), never a single
    * reducer; per-round label frames are materialized and release
    * their predecessor (the pageRank discipline), so the plan never grows
    * with rounds. The community-size window rides the final label
    * partitioning.
    */
  def labelPropagation(events: DataFrame, iters: Int = 4): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val seq0 = nodeSeq(events)
    val und = seq0.withColumn("src", lag(col("node"), 1).over(w))
      .filter(col("src").isNotNull && col("src") =!= col("node"))
      .select(least(col("src"), col("node")).as("a"),
        greatest(col("src"), col("node")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
    val adj = Materialize(und.select(col("a").as("node"), col("b").as("nbr"), col("w"))
      .union(und.select(col("b").as("node"), col("a").as("nbr"), col("w"))))
    var labels = adj.select(col("node")).distinct()
      .withColumn("label", col("node"))
    var prevOwned: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      // NOT fused to one hash(node) exchange: that exchange would carry RAW
      // edge rows where the two-level form ships map-side (node, label)
      // partials
      val next = Materialize(adj
        .join(labels.select(col("node").as("nbr"), col("label")), Seq("nbr"))
        .groupBy("node", "label").agg(sum("w").as("lw"))
        .groupBy("node")
        .agg(max(struct(col("lw"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label")))
      prevOwned.foreach(Materialize.release)
      prevOwned = Some(next)
      labels = next
    }
    val cw = Window.partitionBy("community")
    labels.select(col("node"), col("label").as("community"))
      .withColumn("community_size", count(lit(1)).over(cw).cast("long"))
  }

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_no",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("event_ct"),
        min(col("us")).as("session_start_us"),
        max(col("us")).as("session_end_us"))
  }

  /** G12 — pairwise SOURCE-OVERLAP matrix by exact content fingerprint:
    * for every source pair, the count of distinct document fingerprints
    * present in both, with per-source totals and the 4-dp Jaccard — the
    * doc-level provenance complement of g10's shingle-level contamination
    * (g10 answers "did source B copy text FROM A"; this answers "how much
    * of A and B is the SAME document"). The standard report before mixing
    * sources into a training run: a high-overlap pair means the mixture
    * weights double-count that content.
    *
    * Scale notes (100 TB): one fingerprint-keyed exchange of the DISTINCT
    * (source, fp) projection; per-fp fanout is bounded by the source count
    * (a constant ≤ dozens), so the pair expansion is ≤ sources²/2 rows per
    * fingerprint, never corpus²; per-source totals come back as a
    * broadcast of a source-cardinality frame. All-integer until the final
    * 4-dp floor division.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val fps = docs.select(col("source"), md5(col("text")).as("fp")).distinct()
    // source-cardinality; its two broadcast branches would each re-derive
    // the corpus-scale distinct
    val counts = Materialize(fps.groupBy("source").agg(count(lit(1)).as("n_fps")))
    val shared = fps
      .join(fps.select(col("source").as("source_b"), col("fp")), Seq("fp"))
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_fps"))
    // the full matrix, zero-overlap pairs included: a mixing review reads
    // the zeros as evidence, and the frame stays sources²/2 rows
    counts.select(col("source").as("source_a"), col("n_fps").as("fps_a"))
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n_fps").as("fps_b"))), col("source_a") < col("source_b"))
      .join(broadcast(shared), Seq("source_a", "source_b"), "left")
      .withColumn("shared_fps", coalesce(col("shared_fps"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("shared_fps"),
        col("fps_a"), col("fps_b"),
        (floor(col("shared_fps") * 10000.0 /
          (col("fps_a") + col("fps_b") - col("shared_fps")) + 0.5) / 10000.0)
          .as("jaccard"))
  }

  /** G11 — item-item COSINE similarity over binary user-interaction sets,
    * the collaborative-filtering staple ("users who viewed X also viewed
    * Y"): item = the view/purchase event's campaign bucket (`props.k`),
    * user-item pairs deduplicated to presence, and for every item pair
    * sharing ≥ 2 users, `cosine = |U_a ∩ U_b| / √(|U_a|·|U_b|)` —
    * the item-similarity table a recommender or a mixture-weighting stage
    * reads. Exactly deterministic: the score is one integer-fed division
    * of correctly-rounded IEEE ops, so both engines produce the same bits
    * with no quantization needed.
    *
    * Scale notes (100 TB): the pair generation is a USER-KEYED self-join —
    * the d18 posting-join shape with user as the posting key — so candidate
    * volume is Σ_u |items_u|², never |items|². The 1000-item per-user cap drops
    * the hyperactive tail (a user with 10⁵ items contributes 10¹⁰ pairs
    * and no signal — the standard active-user bound in published CF
    * pipelines), enforced on ONE user-keyed exchange that the self-join
    * then reuses. Per-item counts are item-cardinality-sized and broadcast
    * to the candidate frame; the final agg groups pair keys with map-side
    * partials.
    */
  def itemSimilarity(events: DataFrame): DataFrame = {
    val ui = events.filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
      .withColumn("u_ct", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("u_ct") <= 1000)
      .select(col("user_id"), col("item"))
    // `ui` is not materialized: a materialized frame hides its size from
    // AQE, so the downstream joins would lose their runtime broadcast
    // conversion. Deriving it twice is cheaper — the self-join sides share
    // the window exchange, and only the two itemCt broadcast branches re-run
    // the prefix.
    val itemCt = ui.groupBy("item").agg(count(lit(1)).as("n"))
    val co = ui.select(col("user_id"), col("item").as("item_a"))
      .join(ui.select(col("user_id"), col("item").as("item_b")), Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2L)
    co.join(broadcast(itemCt.select(col("item").as("item_a"), col("n").as("n_a"))),
        Seq("item_a"))
      .join(broadcast(itemCt.select(col("item").as("item_b"), col("n").as("n_b"))),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("co"),
        (col("co") / sqrt((col("n_a") * col("n_b")).cast("double"))).as("cosine"))
  }
}
