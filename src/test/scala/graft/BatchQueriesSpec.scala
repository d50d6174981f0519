package graft

import graft.operators.StatsOps
import org.apache.spark.sql.functions._

/** Smoke + spot checks for every SparkEntry query (the DuckDB hash-match gate
  * is the driver's; these pin down invariants the oracle can't see).
  */
class BatchQueriesSpec extends SparkSpec {

  test("every declared query returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every query has an oracle (rows-only exceptions named explicitly)") {
    // n2b is the ONE sanctioned rows-only query: Lloyd's k-means loop runs
    // until convergence — not stateable as one DuckDB SQL query.
    // Its behavioral gate is AnnOpsSpec's recall bound at sf0.1. Anything
    // else missing an oracle is a hole in the correctness gate.
    val rowsOnly = Set("n2b_ann_ivf_trained")
    assert((SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly).isEmpty)
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
    assert((rowsOnly -- SparkEntry.queries.keySet).isEmpty) // no stale entries
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("funnel enforces strict order and the 24h step window (A10)") {
    import spark.implicits._
    val h = 3600L * 1000000
    def ev(u: Long, t: String, hrs: Long) = (u * 10 + hrs, u, t, hrs * h)
    // u1 converts fully in-window; u2's click precedes its view (no stage 2);
    // u3's click lands 25h after first view (window expired); u4 clicks
    // in-window but its only purchase PRECEDES the click (no stage 3);
    // u5 never views (not even stage 1 — but counted in users)
    val rows = Seq(
      ev(1, "view", 1), ev(1, "click", 2), ev(1, "purchase", 3),
      ev(2, "click", 1), ev(2, "view", 2), ev(2, "purchase", 3),
      ev(3, "view", 1), ev(3, "click", 27), ev(3, "purchase", 28),
      ev(4, "view", 1), ev(4, "purchase", 2), ev(4, "click", 3),
      ev(5, "error", 1))
      .toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
    val r = StatsOps.funnel(rows).collect().head
    assert(r.getLong(r.fieldIndex("users")) === 5L)
    assert(r.getLong(r.fieldIndex("viewed")) === 4L)
    assert(r.getLong(r.fieldIndex("clicked")) === 2L, "u1 and u4 click in-window after view")
    assert(r.getLong(r.fieldIndex("purchased")) === 1L, "only u1 purchases after its click")
    assert(r.getDouble(r.fieldIndex("view_to_click")) === 0.5)
  }

  test("rfm: quintile scores bounded, near-equal buckets, code consistent (A11)") {
    val r = StatsOps.rfm(Tables.table(spark, sf, "events")).cache()
    val purchasers = Tables.table(spark, sf, "events")
      .filter(col("event_type") === "purchase").select("user_id").distinct().count()
    assert(r.count() === purchasers, "every purchaser scored exactly once")
    for (c <- Seq("r", "f", "m"))
      assert(r.filter(col(c) < 1 || col(c) > 5).count() === 0, s"$c out of range")
    // ntile buckets differ by at most one
    val sizes = r.groupBy("r").count().select("count")
      .collect().map(_.getLong(0))
    assert(sizes.max - sizes.min <= 1, s"uneven quintiles: ${sizes.mkString(",")}")
    assert(r.filter(col("rfm_code") =!=
      col("r") * 100 + col("f") * 10 + col("m")).count() === 0)
    assert(r.filter(col("recency_days") < 0 || col("monetary") <= 0).count() === 0)
    r.unpersist()
  }

  test("event transitions: a closed Markov rollup of the whole stream (A12)") {
    val events = Tables.table(spark, sf, "events")
    val t = StatsOps.eventTransitions(events).cache()
    // every event is exactly one transition target
    assert(t.agg(sum("ct")).head.getLong(0) === events.count())
    // _start row-total = user count (each sequence starts once)
    val users = events.select("user_id").distinct().count()
    assert(t.filter(col("prev_type") === "_start")
      .agg(sum("ct")).head.getLong(0) === users)
    // row totals really are the row sums; probabilities bounded
    val bad = t.groupBy("prev_type", "row_total").agg(sum("ct").as("s"))
      .filter(col("s") =!= col("row_total"))
    assert(bad.count() === 0)
    assert(t.filter(col("prob") <= 0 || col("prob") > 1).count() === 0)
    t.unpersist()
  }

  test("rolling active: WAU bounds DAU, stickiness bounded, first day degenerate (A13)") {
    val events = Tables.table(spark, sf, "events")
    val r = StatsOps.rollingActive(events).cache()
    assert(r.filter(col("wau") < col("dau")).count() === 0)
    assert(r.filter(col("stickiness") <= 0 || col("stickiness") > 1).count() === 0)
    val users = events.select("user_id").distinct().count()
    assert(r.filter(col("wau") > users).count() === 0)
    // the first day has no trailing history: WAU == DAU there
    val first = r.orderBy("day").limit(1).collect().head
    assert(first.getLong(first.fieldIndex("dau")) ===
      first.getLong(first.fieldIndex("wau")))
    r.unpersist()
  }

  test("retention: offset-0 is the full cohort; counts never exceed it (R3)") {
    val r = StatsOps.retention(Tables.table(spark, sf, "events")).cache()
    assert(r.filter(col("day_offset") === 0)
      .filter(col("active_users") =!= col("cohort_users")).count() === 0)
    assert(r.filter(col("active_users") > col("cohort_users")).count() === 0)
    assert(r.filter(col("retention") < 0 || col("retention") > 1).count() === 0)
    assert(r.filter(col("day_offset") < 0).count() === 0)
    // cohort sizes sum to the distinct-user count (cohorts partition users)
    val users = Tables.table(spark, sf, "events").select("user_id").distinct().count()
    assert(r.filter(col("day_offset") === 0)
      .agg(sum("cohort_users")).head.getLong(0) === users)
    r.unpersist()
  }

  test("d1 dedup partitions all documents") {
    val d = SparkEntry.queries("d1_dedup_exact")(spark, sf)
    assert(d.agg(sum("dup_ct")).head.getLong(0) === 500L)
  }

  test("jaccard bounded in [0,1] and lsh candidates include exact dups") {
    val j = SparkEntry.queries("d3_minhash_lsh_pairs")(spark, sf)
    assert(j.filter(col("jaccard") < 0 || col("jaccard") > 1).count() === 0)
    // exact duplicate texts (if any) must be LSH candidates with jaccard 1
    val dups = SparkEntry.queries("d1_dedup_exact")(spark, sf)
      .filter(col("dup_ct") > 1).count()
    if (dups > 0) assert(j.filter(col("jaccard") === 1.0).count() > 0)
  }

  test("ann topk: rank 1 is the most similar, k bounded") {
    val t = SparkEntry.queries("n1_ann_cosine_topk")(spark, sf)
    assert(t.groupBy("query_id").count().filter(col("count") > 5).count() === 0)
    val perQueryMax = t.groupBy("query_id").agg(max("sim").as("mx"))
    val rank1 = t.filter(col("rnk") === 1).select(col("query_id"), col("sim"))
    val joined = rank1.join(perQueryMax, "query_id")
      .filter(col("sim") =!= col("mx"))
    assert(joined.count() === 0)
  }

  test("interval join respects bounds") {
    val j = SparkEntry.queries("j1_interval_join_order")(spark, sf)
    val o = Tables.table(spark, sf, "orders").select(col("o_orderkey").as("k"), col("o_orderdate"))
    val bad = j.join(o, j("o_orderkey") === o("k"))
      .filter(to_date(col("ship_date")) < to_date(col("o_orderdate")) ||
        to_date(col("ship_date")) > to_date(col("o_orderdate")) + expr("INTERVAL 90 DAYS"))
    assert(bad.count() === 0)
  }

  test("rank topn: at most 3 per customer, descending") {
    val r = SparkEntry.queries("r1_rank_topn")(spark, sf)
    assert(r.groupBy("o_custkey").count().filter(col("count") > 3).count() === 0)
    assert(r.filter(col("rnk") === 1).count() ===
      r.select("o_custkey").distinct().count())
  }

  test("multimodal frame sampling fans out rows; resize plan bounds dims") {
    val frames = operators.MultimodalOps.sampleFrames(
      operators.MultimodalOps.mediaRecords(spark, sf), 10)
    assert(frames.count() >= 500)  // at least one frame per doc
    assert(frames.filter(col("frame_idx") % 10 =!= 0).count() === 0)
    val resized = operators.MultimodalOps.resizePlan(
      SparkEntry.queries("m1_multimodal_decode")(spark, sf), 256)
    assert(resized.filter(col("out_width") > 256 || col("out_height") > 256).count() === 0)
    assert(resized.filter(col("out_width") <= 0 || col("out_height") <= 0).count() === 0)
  }

  test("multimodal decode: byte_len equals document n_chars (ascii payload)") {
    val m = SparkEntry.queries("m1_multimodal_decode")(spark, sf)
    val d = Tables.table(spark, sf, "documents").select(col("doc_id"), col("n_chars"))
    val bad = m.join(d, "doc_id").filter(col("byte_len") =!= col("n_chars"))
    assert(bad.count() === 0)
    assert(m.filter(col("width") < 64 || col("width") >= 2048).count() === 0)
  }

  test("pageRank: mass conserved, a pure hub dominates, dangling handled (G7)") {
    import spark.implicits._
    val r = StatsOps.pageRank(Tables.table(spark, sf, "events")).cache()
    val n = r.count()
    assert(n > 0 && r.filter(col("pr") <= 0).count() === 0)
    // integer-unit flow conserves total mass up to n rounding units per round
    val mass = r.agg(sum("pr")).head.getDouble(0)
    assert(math.abs(mass - 1.0) < n * 5 * 1e-8 + 1e-9, s"mass drifted: $mass")

    // constructed star graph: every spoke points only at the hub, the hub
    // only back to spoke 1 — the hub must out-rank every spoke; spokes
    // 2..4 (rank-fed only by the base term) tie exactly
    val hub = 99L
    val ev = (1 to 4).flatMap { u => // user u walks spoke-u → hub
      Seq((u.toLong * 10 + 1, u.toLong, s"""{"k": $u}"""),
        (u.toLong * 10 + 2, u.toLong, s"""{"k": $hub}"""))
    } :+ ((90L, 9L, s"""{"k": $hub}""")) :+ ((91L, 9L, """{"k": 1}"""))
    val df = ev.toDF("event_id", "user_id", "props")
      .withColumn("ts", timestamp_micros(col("event_id") * 1000000L))
    val pr = StatsOps.pageRank(df).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(pr(hub) === pr.values.max, s"hub not top-ranked: $pr")
    assert(pr(2L) === pr(3L) && pr(3L) === pr(4L), s"leaf spokes must tie: $pr")
    assert(pr(1L) > pr(2L), "the hub's sole out-link target must beat idle spokes")
    r.unpersist()
  }

  test("data-quality battery: integrity rules hold, measuring rules measure (DQ1)") {
    import org.apache.spark.sql.functions._
    val rep = graft.operators.RelationalOps.dataQualityReport(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.size === 9, "one row per declared check")
    // referential/PK/domain rules are clean on the fixture by construction
    Seq("orders_custkey_not_null", "orders_fk_customer", "lineitem_fk_orders",
      "orders_pk_unique", "lineitem_qty_positive", "lineitem_discount_domain")
      .foreach(c => assert(rep(c) === 0L, s"$c expected clean, got ${rep(c)}"))
    // measuring rules recomputed independently — nonzero proves the battery
    // measures rather than rubber-stamps
    val part = graft.Tables.table(spark, sf, "part")
    val dupNames = part.count() - part.select("p_name").distinct().count()
    assert(rep("part_name_unique") === dupNames && dupNames > 0)
    val shortDocs = graft.Tables.table(spark, sf, "documents")
      .filter(col("n_chars") < 64).count()
    assert(rep("documents_min_length") === shortDocs)
  }

  test("drift PSI: ~0 between random halves, alarms on a planted shift (DQ2)") {
    import org.apache.spark.sql.functions._
    // the fixture's halves are an unbiased split — total PSI far below the
    // conventional 0.2 alarm, and each term is finite and non-negative
    // (x-1 >= ln x ⇒ (p-q)·ln(p/q) >= 0)
    val rep = graft.operators.RelationalOps.driftPsi(spark, sf).cache()
    val total = rep.agg(sum("psi_term")).head.getDouble(0)
    assert(total >= 0.0 && total < 0.2, s"unbiased split alarmed: $total")
    assert(rep.filter(col("psi_term") < 0).count() === 0)
    // shares are real distributions
    val sums = rep.agg(sum("inc_share"), sum("hist_share")).head
    assert(math.abs(sums.getDouble(0) - 1.0) < 0.01)
    assert(math.abs(sums.getDouble(1) - 1.0) < 0.01)
    rep.unpersist()
    // planted drift: write a corpus whose odd half is 90% one lang and
    // even half uniform — the statistic must cross the alarm line
    import spark.implicits._
    val dir = tempDir("dq2")
    val langs = Seq("en", "de", "es", "fr", "zh")
    (0L until 1000L).map { i =>
      val lang = if (i % 2 == 1) { if (i % 10 < 9) "en" else "de" }
                 else langs((i / 2 % 5).toInt)
      (i, s"doc $i", lang, "web", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val drifted = graft.operators.RelationalOps.driftPsi(spark, dir)
      .agg(sum("psi_term")).head.getDouble(0)
    assert(drifted > 0.2, s"planted drift not detected: $drifted")
  }

  test("attribution: first/last touch, window bound, tie-break, both-model overlap (A14)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def ev(id: Long, user: Long, tpe: String, us: Long, value: Double, k: Long) =
      (id, new java.sql.Timestamp(us / 1000), user, tpe, value, s"""{"k":$k}""")
    val h = 3600L * 1000000
    val rows = Seq(
      // user 1: view(ch0) at t0, view(ch1) at t0+1h, purchase at t0+2h
      //   -> first touch ch0, last touch ch1
      ev(1, 1, "view", 10 * h, 0.0, 0), ev(2, 1, "view", 11 * h, 0.0, 1),
      ev(3, 1, "purchase", 12 * h, 50.0, 9),
      // user 2: only view is OUTSIDE the 24h lookback -> unattributed
      ev(4, 2, "view", 10 * h, 0.0, 2), ev(5, 2, "purchase", 40 * h, 30.0, 9),
      // user 3: single qualifying view (ch3) -> counts in BOTH models
      ev(6, 3, "view", 20 * h, 0.0, 3), ev(7, 3, "purchase", 21 * h, 20.0, 9),
      // user 4: two views at the SAME timestamp -> event_id breaks the tie
      ev(8, 4, "view", 30 * h, 0.0, 4), ev(9, 4, "view", 30 * h, 0.0, 0),
      ev(10, 4, "purchase", 31 * h, 10.0, 9))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.operators.StatsOps.attribution(rows)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    // user 2's purchase appears nowhere (outside the 24h window) — three
    // attributed purchases under each model
    assert(out.values.map(_._1).sum === 3L, s"first-touch purchases: $out")
    assert(out.values.map(_._3).sum === 3L, s"last-touch purchases: $out")
    // u1: first ch0 ($50), last ch1 ($50); u4 tie at equal ts: first = lower
    // event_id (id8, ch4), last = higher event_id (id9, ch0)
    assert(out(0L) === ((1L, 50.0, 1L, 10.0)), s"ch0: $out")
    assert(out(1L) === ((0L, 0.0, 1L, 50.0)), s"ch1: $out")
    assert(out(4L) === ((1L, 10.0, 0L, 0.0)), s"ch4: $out")
    // u3's single candidate counts in BOTH models (ch3)
    assert(out(3L) === ((1L, 20.0, 1L, 20.0)), s"ch3: $out")
  }

  test("attribution multi-touch: linear + U-shape splits conserve each purchase (A14)") {
    import spark.implicits._
    def ev(id: Long, user: Long, tpe: String, us: Long, value: Double, k: Long) =
      (id, new java.sql.Timestamp(us / 1000), user, tpe, value, s"""{"k":$k}""")
    val h = 3600L * 1000000
    val rows = Seq(
      // user 1: THREE touches ch0→ch1→ch2, purchase $60
      //   linear: $20 each; U-shape: 40/20/40 → $24/$12/$24
      ev(1, 1, "view", 10 * h, 0.0, 0), ev(2, 1, "view", 11 * h, 0.0, 1),
      ev(3, 1, "view", 12 * h, 0.0, 2), ev(4, 1, "purchase", 13 * h, 60.0, 9),
      // user 3: single touch ch3, $20 — both models give the full value
      ev(6, 3, "view", 20 * h, 0.0, 3), ev(7, 3, "purchase", 21 * h, 20.0, 9),
      // user 4: two touches ch4, ch0, $10 — 50/50 in both models
      ev(8, 4, "view", 30 * h, 0.0, 4), ev(9, 4, "view", 30 * h + 1, 0.0, 0),
      ev(10, 4, "purchase", 31 * h, 10.0, 9))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.operators.StatsOps.attribution(rows)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(5), r.getDouble(6))))
      .toMap
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-3
    assert(close(out(0L)._1, 25.0) && close(out(0L)._2, 29.0), s"ch0: $out")
    assert(close(out(1L)._1, 20.0) && close(out(1L)._2, 12.0), s"ch1: $out")
    assert(close(out(2L)._1, 20.0) && close(out(2L)._2, 24.0), s"ch2: $out")
    assert(close(out(3L)._1, 20.0) && close(out(3L)._2, 20.0), s"ch3: $out")
    assert(close(out(4L)._1, 5.0) && close(out(4L)._2, 5.0), s"ch4: $out")
    // conservation: each model's split sums to the attributed purchase
    // total ($90) — within the documented n·5e-5 per-row decimal rounding
    assert(close(out.values.map(_._1).sum, 90.0), s"linear total: $out")
    assert(close(out.values.map(_._2).sum, 90.0), s"U-shape total: $out")
  }

  test("cluster size spectrum partitions the corpus; sizes from known clusters (D20)") {
    import spark.implicits._
    // clusters: {1,2,3} one triple, {4,5} one pair, {6},{7} singletons
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 6L), (7L, 7L)).toDF("doc_id", "cluster_id")
    val spec = graft.operators.DedupOps.clusterSizeSpectrum(clusters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(spec === Map(3L -> ((1L, 3L)), 2L -> ((1L, 2L)), 1L -> ((2L, 2L))))
    // and on the real fixture: n_docs over all sizes == corpus size
    val docs = graft.Tables.table(spark, sf, "documents")
    val real = graft.operators.DedupOps.clusterSizeSpectrum(
      graft.operators.DedupOps.nearDupClusters(docs, 0.7))
    assert(real.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head.getLong(0) === docs.count())
  }

  test("source overlap counts shared fingerprints per source pair (G12)") {
    import spark.implicits._
    // t1 in A and B; t2 in A, B, C; t3 only A; t4 only C; D disjoint.
    // Duplicate rows of the same (source, text) must not double-count
    // (distinct projection), and zero-overlap pairs must still emit.
    val docs = Seq(
      (1L, "A", "t1"), (2L, "A", "t2"), (3L, "A", "t3"),
      (4L, "B", "t1"), (5L, "B", "t2"), (6L, "B", "t1"),
      (7L, "C", "t2"), (8L, "C", "t4"), (9L, "D", "t9"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.StatsOps.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // full matrix: C(4,2) pairs, disjoint ones included with zeros
    assert(out.size === 6)
    // A∩B = {t1,t2}: |A|=3, |B|=2 → j = 2/3; A∩C = {t2}: j = 1/4; B∩C = 1/3
    assert(out(("A", "B")) === ((2L, 3L, 2L, 0.6667)))
    assert(out(("A", "C")) === ((1L, 3L, 2L, 0.25)))
    assert(out(("B", "C")) === ((1L, 2L, 2L, 0.3333)))
    assert(out(("A", "D")) === ((0L, 3L, 1L, 0.0)))
  }

  test("referential integrity: fixture FK graph is clean; orphans and NULL keys counted (DQ7)") {
    import spark.implicits._
    val rows = graft.operators.RelationalOps.referentialIntegrity(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows.size === 6)
    rows.foreach { case (rel, (total, orphans, ok)) =>
      assert(total > 0, s"$rel scanned nothing")
      assert(orphans === 0L && ok, s"$rel has orphans in pristine fixtures")
    }
    assert(rows("lineitem.l_orderkey->orders")._1 ===
      graft.Tables.table(spark, sf, "lineitem").count())
    // orphan semantics on a synthetic relation: a dangling key and a NULL
    // key both count as orphans
    val fact = Seq(Some(1L), Some(2L), Some(99L), None)
      .toDF("fk")
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val bad = graft.operators.RelationalOps
      .fkCheck("fact.fk->dim", fact, "fk", dim, "pk")
      .head
    assert(bad.getLong(1) === 4L && bad.getLong(2) === 2L && !bad.getBoolean(3))
  }

  test("column profile measures rows/nulls/distincts/min-max per column (DQ3)") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.table(spark, sf, "documents")
    val prof = graft.operators.RelationalOps.columnProfile(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(prof.keySet === Set("lang", "source", "n_chars"))
    val n = docs.count()
    prof.values.foreach { case (rows, nulls, distinct, _, _) =>
      assert(rows === n)
      assert(nulls >= 0 && distinct <= n - nulls)
    }
    // recompute one column independently: the profile measures, not stamps
    assert(prof("lang")._3 === docs.select("lang").distinct().count())
    assert(prof("n_chars")._4.toLong ===
      docs.agg(min("n_chars")).head.getLong(0))
    assert(prof("n_chars")._5.toLong ===
      docs.agg(max("n_chars")).head.getLong(0))
    // nulls are COUNTED, not crashed on: plant one
    import spark.implicits._
    val withNull = docs.select("doc_id", "lang", "source", "n_chars")
      .withColumn("lang", when(col("doc_id") === 1L, lit(null)).otherwise(col("lang")))
    val p2 = graft.operators.RelationalOps.columnProfile(withNull)
      .filter(col("col_name") === "lang").head
    assert(p2.getLong(2) === 1L, "planted null not counted")
  }

  test("profile drift diffs dq3's battery over l3's snapshots (DQ8)") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.table(spark, sf, "documents")
    val drift = graft.operators.RelationalOps.profileDrift(docs)
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    assert(drift.keySet === Set("lang", "source", "n_chars"))
    // row counts must equal independent recomputation of l3's snapshots
    val v1 = docs.filter(col("doc_id") % 5 =!= 4).count()
    val v2 = docs.filter(col("doc_id") % 7 =!= 6).count()
    drift.values.foreach { r =>
      assert(r.getAs[Long]("rows_v1") === v1)
      assert(r.getAs[Long]("rows_v2") === v2)
      assert(r.getAs[Long]("row_delta") === v2 - v1)
    }
    // plant a drifting column: an empty-string lang on a doc only v2 keeps
    // (doc_id 4: dropped by v1's %5, kept by v2's %7) moves v2's min bound
    import spark.implicits._
    val planted = docs.withColumn("lang",
      when(col("doc_id") === 4L, lit("")).otherwise(col("lang")))
    val d2 = graft.operators.RelationalOps.profileDrift(planted)
      .filter(col("col_name") === "lang").head
    assert(d2.getAs[Boolean]("min_changed"), "planted v2-only min not seen")
    assert(d2.getAs[Boolean]("drifted"))
    // and an undisturbed numeric column stays quiet on the real corpus
    assert(!drift("n_chars").getAs[Boolean]("min_changed") ||
      drift("n_chars").getAs[Boolean]("drifted"),
      "min_changed must imply drifted")
  }
}
