package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan CONTRACTS for the headline operators — the properties the
  * 100 TB story depends on, pinned as regression tests so a refactor that
  * silently de-optimizes a plan (drops a pushdown, un-broadcasts a dim,
  * loses a WindowGroupLimit) fails CI instead of only showing up in a bench.
  * This spec is the plan record: a plan claim made anywhere else is pinned
  * here.
  */
class PlanContractSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    // materialize FIRST: with AQE the pre-execution executedPlan is the
    // initial (isFinalPlan=false) plan — contracts must pin the FINAL
    // adaptive plan or Exchange/broadcast assertions silently drift
    df.count()
    df.queryExecution.executedPlan.toString
  }
  private def count(p: String, needle: String): Int =
    needle.r.findAllIn(p).size

  test("scans push filters and prune columns (p5 projection contract)") {
    val p = planOf("p5_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull"), s"no pushed filters:\n$p")
    assert(p.contains("ReadSchema"), p)
    // projection of 3 columns + filter col must not scan the full orders schema
    assert(!p.contains("o_orderpriority"), "unpruned scan reads o_orderpriority")
  }

  test("dim enrichment is pure broadcast: 3 BHJ, zero fact-side shuffles (j3)") {
    val p = planOf("j3_dim_enrich")
    assert(count(p, "BroadcastHashJoin") === 3, p)
    assert(count(p, "Exchange hashpartitioning") === 0, p)
    assert(count(p, "SortMergeJoin") === 0, p)
  }

  test("decontamination broadcasts the benchmark side (t5)") {
    val p = planOf("t5_decontaminate")
    assert(count(p, "BroadcastHashJoin") >= 1, p)
  }

  test("rank <= k filters compile to map-side WindowGroupLimit (g1, s6, d12)") {
    Seq("g1_ngram_topk", "s6_domain_cap", "d12_segment_dedup").foreach { q =>
      val p = planOf(q)
      assert(count(p, "WindowGroupLimit") >= 1, s"$q lost its WindowGroupLimit:\n$p")
    }
  }

  test("the native as-of join plans as the custom operator with per-side keyed sort (j4)") {
    val p = planOf("j4_asof_native")
    assert(p.contains("AsOfJoin"), p)
    assert(count(p, "Exchange hashpartitioning") <= 3, p)
    assert(count(p, "SortMergeJoin") === 0 && count(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("semantic decontamination never shuffles the corpus embeddings (b2)") {
    val p = planOf("b2_semantic_decontam")
    // one broadcast of the benchmark side; the single exchange is the
    // vec_id-keyed max agg AFTER similarity is reduced to (vec_id, sim)
    assert(count(p, "BroadcastNestedLoopJoin") === 1, p)
    assert(count(p, "Exchange hashpartitioning") === 1, p)
    assert(!p.toLowerCase.contains("sortmergejoin"), p)
  }

  test("n10 candidate scan is probe-bounded: broadcast equi-join on cell, no cartesian (n10)") {
    val p = planOf("n10_ivf_sq8_topk")
    // the int8 candidate pass joins corpus codes to BROADCAST probes on the
    // cell key — candidates follow probed-cell membership, never n²; the
    // rerank joins are broadcast too (candidate lists are query-sized);
    // cell assignment is a literal argmax — no join form can appear for it
    assert(count(p, "BroadcastHashJoin") >= 3, p)
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    assert(count(p, "SortMergeJoin") === 0, p)
    // keyed exchanges: centroid derivation (cell,dim → cell — index-time
    // cost, 2) and the two-phase top-k merges (2×2); the corpus itself
    // never hash-partitions on vec_id
    assert(count(p, "Exchange hashpartitioning") <= 6, p)
  }

  test("n11 IVFADC scan is probe-bounded: broadcast equi-join on cell, no cartesian (n11)") {
    val p = planOf("n11_ivfpq_topk")
    // the ADC pass joins the 8-int corpus codes to BROADCAST per-(query,
    // probed-cell) distance tables on the cell key — candidates follow
    // probed-cell membership, never n²; encode and assignment are literal
    // projections (codebooks are driver-held), so no join form can appear
    // for them; the rerank joins are broadcast (candidate lists are
    // query-sized)
    assert(count(p, "BroadcastHashJoin") >= 3, p)
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    assert(count(p, "SortMergeJoin") === 0, p)
    // keyed exchanges: only the two-phase top-k merges — centroid and
    // codebook derivation are index-time collects OUTSIDE this plan, and
    // the corpus itself never hash-partitions on vec_id
    assert(count(p, "Exchange hashpartitioning") <= 6, p)
  }

  test("n14 kNN join is cell-blocked: one equi-join on cell, no cartesian (n14)") {
    // pin the construction STAGE: the gate-registered knnJoin serves the
    // memoized checkpoint (a scan) once warm, so the contract targets the
    // plan that builds it (the c5 stage-contract pattern)
    val e = graft.Tables.table(spark, sf, "embeddings")
    val g = graft.operators.AnnOps.knnJoinStage(e, 5, 3)
    g.count()
    val p = g.queryExecution.executedPlan.toString
    // the candidate pass is an EQUI-JOIN on the cell key (probe side ×
    // member side — the blocked self-join; broadcastable at fixture size,
    // a keyed shuffle at corpus scale): never a cartesian over vectors,
    // and cell assignment/probe selection are literal projections against
    // the driver-held quantizer, so no join form can appear for them
    assert(count(p, "BroadcastHashJoin") + count(p, "ShuffledHashJoin") >= 1, p)
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    assert(count(p, "SortMergeJoin") === 0, p)
    // the top-k is a PARTIAL WindowGroupLimit: each map split forwards at
    // most k rows per vector, so the full candidate list never moves
    // through an exchange (the g1/s6/d12 rank-pushdown contract)
    assert(count(p, "WindowGroupLimit") >= 1, p)
    // keyed exchanges: centroid derivation (index-time, memoized after the
    // first call), the probe-side spread, and the final per-vector window
    assert(count(p, "Exchange hashpartitioning") <= 8, p)
  }

  test("c5 serving: probe-bounded candidate stage, pool-bounded greedy tail, no cartesian (c5)") {
    // stage contract: the serving pool IS ivfQuantizedTopK(k=pool=cand=20)
    // — n10's exact probe-bounded shape (broadcast equi-join on cell,
    // no cartesian, corpus never vec_id-partitioned), asserted on the
    // stage plan because the greedy tail checkpoints it away
    val e = graft.Tables.table(spark, sf, "embeddings")
    val cand = graft.operators.AnnOps.ivfQuantizedTopK(e, k = 20, nProbe = 3)
    cand.count()
    val p1 = cand.queryExecution.executedPlan.toString
    assert(count(p1, "BroadcastHashJoin") >= 3, p1)
    assert(count(p1, "CartesianProduct") === 0, p1)
    assert(count(p1, "BroadcastNestedLoopJoin") === 0, p1)
    assert(count(p1, "SortMergeJoin") === 0, p1)
    assert(count(p1, "Exchange hashpartitioning") <= 6, p1)
    // capstone contract: the greedy tail is ONE query-keyed exchange over
    // the pool-bounded union of candidates + pool pairs, then the k rounds
    // fold INSIDE each query's group (MapGroups — embarrassingly parallel
    // across queries, constant job count in k); the pair matrix rides
    // broadcast joins only — no cartesian, no SMJ, nothing corpus-keyed
    val p2 = planOf("c5_retrieval_serve")
    assert(count(p2, "Union") >= 1, p2)
    assert(p2.contains("MapGroups"), p2)
    assert(count(p2, "CartesianProduct") === 0, p2)
    assert(count(p2, "SortMergeJoin") === 0, p2)
    assert(count(p2, "BroadcastNestedLoopJoin") === 0, p2)
    assert(count(p2, "Exchange hashpartitioning") === 1, p2)
  }

  test("signature extraction is scan-side: no shuffle before the fingerprint (d2, d4)") {
    Seq("d2_minhash_signature", "d4_simhash").foreach { q =>
      val p = planOf(q)
      assert(count(p, "Exchange hashpartitioning") === 0,
        s"$q shuffles during what should be a pure scan-project:\n$p")
    }
  }

  test("length buckets reuse the window partitioning for the batch agg (s7)") {
    val p = planOf("s7_length_buckets")
    // window on (shard, bucket) then groupBy (shard, bucket, batch_idx):
    // clustering keys are a superset, so ONE exchange total
    assert(count(p, "Exchange hashpartitioning") === 1, p)
  }

  test("LSH pair mining: candidates-only verify, at most ONE keyed shuffle (d3)") {
    val p = planOf("d3_minhash_lsh_pairs")
    // band self-join + jaccard verify ride broadcast joins; the single
    // keyed exchange is the pair-dedup/count — NEVER an all-pairs shuffle
    assert(count(p, "Exchange hashpartitioning") <= 1, p)
    assert(count(p, "SortMergeJoin") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("stratified hash sampling is a pure corpus predicate: zero keyed shuffles (s1)") {
    val p = planOf("s1_hash_sample")
    // the 5-row rate table broadcasts; the corpus side is scan → filter
    assert(count(p, "Exchange hashpartitioning") === 0, p)
    assert(count(p, "BroadcastHashJoin") === 1, p)
  }

  test("codec pipelines never shuffle after the widening exchange (m5, v2)") {
    Seq("m5_audio_decode", "v2_mjpeg_decode").foreach { q =>
      val p = planOf(q)
      // encode + decode + per-frame emit all happen inside one mapPartitions
      // pass; the only exchange is spread's round-robin split widening
      assert(count(p, "Exchange hashpartitioning") === 0,
        s"$q shuffles inside the codec pipeline:\n$p")
      assert(count(p, "BroadcastHashJoin") === 0 && count(p, "SortMergeJoin") === 0, p)
    }
  }

  test("mjpeg sampling decodes range-parallel: one balance exchange, never keyed (v3)") {
    val p = planOf("v3_mjpeg_sample")
    // stage 1 walks boundaries and slices sampled frames; a round-robin
    // exchange then spreads decode across tasks (parallelism ∝ sampled
    // frames, not blobs). Exactly TWO round-robin exchanges: spread's split
    // widening + the frame-balance one. Keyed partitioning would inherit
    // per-blob skew — pinned absent.
    assert(count(p, "Exchange RoundRobinPartitioning") === 2,
      s"v3 lost the range-parallel decode exchange:\n$p")
    assert(count(p, "Exchange hashpartitioning") === 0, p)
    assert(count(p, "BroadcastHashJoin") === 0 && count(p, "SortMergeJoin") === 0, p)
  }

  test("real-BPE token stats is ONE corpus scan with no join-back (t11)") {
    val p = planOf("t11_bpe_token_stats")
    // lang rides the counting aggregation's grouping key; a regression to
    // count-then-join-lang-back would reintroduce a join and a second scan
    assert(count(p, "BroadcastHashJoin") === 0 && count(p, "SortMergeJoin") === 0,
      s"t11 regressed to a lang join-back:\n$p")
    assert(count(p, "Scan parquet") === 1, s"t11 scans the corpus twice:\n$p")
    // two keyed exchanges: (doc_id, lang) partial agg + lang final agg
    // (spread's round-robin widening is not keyed and not counted here)
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("gopher rule battery is a pure zero-shuffle scan-projection (t12)") {
    val p = planOf("t12_gopher_rules")
    assert(count(p, "Exchange") === 0, s"t12 grew a shuffle:\n$p")
    assert(count(p, "BroadcastHashJoin") === 0 && count(p, "SortMergeJoin") === 0, p)
    assert(p.contains("Scan parquet"), p)
  }

  test("gopher REPETITION battery stays a zero-shuffle single scan (t17)") {
    // nine per-n gram folds must all ride ONE corpus scan as row-local
    // expressions — a regression to explode + groupBy per n would cost
    // nine corpus shuffles at 100 TB
    val p = planOf("t17_gopher_repetition")
    assert(count(p, "Exchange") === 0, s"t17 grew a shuffle:\n$p")
    assert(count(p, "BroadcastHashJoin") === 0 && count(p, "SortMergeJoin") === 0, p)
    assert(count(p, "Scan parquet") === 1, s"t17 scans the corpus twice:\n$p")
  }

  test("profile drift is two pruned scan batteries joined report-sized (dq8)") {
    val p = planOf("dq8_profile_drift")
    // each side is dq3's per-column battery (one scan per profiled column
    // per snapshot = 6 scans); the join input is report-sized (3 rows per
    // side), so nothing corpus-scale may reach a join exchange
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "Scan parquet") <= 6, s"dq8 scan count drifted:\n$p")
  }

  test("boilerplate strip anti-joins a BROADCAST set; the corpus is never join-shuffled (d17)") {
    val p = planOf("d17_boilerplate_strip")
    // the >=minDf set is small by construction: its anti-join and the base
    // left-join must both ride broadcasts — a SortMergeJoin here would
    // shuffle the exploded corpus to meet a kilobyte-sized probe set
    assert(count(p, "BroadcastHashJoin") >= 2, s"d17 lost a broadcast join:\n$p")
    assert(count(p, "SortMergeJoin") === 0 && count(p, "CartesianProduct") === 0, p)
    // keyed exchanges: the seg-df count + the reassembly groupBy (partials
    // for both ride map-side); anything beyond ~4 means a join de-broadcast
    assert(count(p, "Exchange hashpartitioning") <= 4, s"d17 shuffle shape drifted:\n$p")
  }

  test("containment pairing is posting-bounded: no cartesian, shingle-keyed candidates (d18)") {
    val p = planOf("d18_containment_pairs")
    assert(count(p, "CartesianProduct") === 0, s"d18 went pairwise:\n$p")
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    // the posting self-join keys on the rare shingle; the verify joins the
    // per-doc set table back by id — hash joins all the way down
    assert(count(p, "BroadcastHashJoin") + count(p, "SortMergeJoin") >= 2, p)
  }

  test("ppl bucketing runs the LM subtree once via the materialized scored frame (t14)") {
    val p = planOf("t14_ppl_buckets")
    // both consumers (value histogram + bucket assignment) must read the
    // doc-level checkpoint blocks, not re-run the corpus-scale t13 subtree
    // (pruning-divergent branches de-canonicalize it, so AQE reuse can't
    // help here; r14 moved the materialization from cache to
    // localCheckpoint so consumers keep the AQE-coalesced layout)
    assert(count(p, "Scan ExistingRDD") >= 2, s"t14 lost its scored frame:\n$p")
    // nothing corpus-scale may survive in the bucketing plan itself: the
    // LM work lives entirely in the checkpointed subtree
    assert(count(p, "Scan parquet") === 0, s"t14 re-reads the corpus:\n$p")
    // the threshold row comes back as a broadcast, never a corpus shuffle
    assert(count(p, "SortMergeJoin") === 0, p)
  }

  /** The FINAL adaptive plan (post-execution, final section only): stage
    * reuse (ReusedExchange) is a runtime decision AQE only surfaces there —
    * the initial plan `planOf` pins never shows it.
    */
  private def finalPlanOf(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("the composed curation capstone keeps t15's single tf explode (c3)") {
    val p = finalPlanOf("c3_curated_train_export")
    // t15's tf table is materialized, so its word
    // explode lives in the checkpointed subtree and must NOT appear in
    // c3's composed plan at all — a pushed filter can no longer
    // de-canonicalize and double it (the pre-r14 hazard this contract
    // originally pinned via the isNotNull discipline). s11's cluster
    // closure and d17's segment strip keep their own shapes; no word
    // explode belongs here.
    assert(count(p, "Generate explode\\(split\\(text") === 0,
      s"c3 re-runs t15's corpus explode:\n$p")
    assert(count(p, "Scan ExistingRDD") >= 1, s"c3 lost t15's tf blocks:\n$p")
  }

  test("the multimodal capstone decodes each modality exactly once (c4)") {
    val p = finalPlanOf("c4_multimodal_curation")
    // one codec pass per modality: the image phash seam runs once, inside
    // the materialized band table of the shared banded-hamming pair search
    // (read back as block scans), so the audio fingerprint seam is the only
    // MapPartitions node left — a second would mean a gate re-decodes
    // inside the composition (c4 ~= m7 + m8 + t12 by construction)
    assert(count(p, "MapPartitions") === 1, s"c4 decode seam count drifted:\n$p")
    assert(count(p, "Scan ExistingRDD") >= 1, s"c4 lost the image band blocks:\n$p")
    // gate assembly stays hash joins (the dropped-image anti probe is the
    // contract-pinned broadcast; nothing may degrade to sort-merge here)
    assert(count(p, "SortMergeJoin") === 0, p)
  }

  test("substring-span dedup is linear: no cartesian, bounded keyed exchanges (d13)") {
    val p = planOf("d13_substring_spans")
    // seed-and-extend must never pair documents: any nested-loop/cartesian
    // means the gram equi-join degenerated
    assert(count(p, "CartesianProduct") === 0, s"d13 went pairwise:\n$p")
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    // keyed exchanges: gram count agg, (doc,pos) distinct, doc window
    // (+1 slack for an AQE-planned join exchange at other SFs)
    assert(count(p, "Exchange hashpartitioning") <= 4, s"d13 shuffle shape drifted:\n$p")
    // the duplicated-seed join keys on gram — an equi-join, broadcast or SMJ
    assert(count(p, "BroadcastHashJoin") + count(p, "SortMergeJoin") >= 1, p)
  }

  test("span removal joins spans per-doc once and filters map-side (d14)") {
    val p = planOf("d14_strip_spans")
    assert(count(p, "CartesianProduct") === 0, p)
    // the doc-level spans join + d13's internal seed join — never more
    assert(count(p, "BroadcastHashJoin") + count(p, "SortMergeJoin") <= 2, p)
    // d13's three keyed exchanges + at most the span-array agg on doc_id
    assert(count(p, "Exchange hashpartitioning") <= 5, s"d14 shuffle shape drifted:\n$p")
  }

  test("lm scoring explodes the corpus ONCE: model aggs read the materialized db (t13)") {
    // collect() the frame ITSELF (not count() — that executes a different
    // plan and leaves this one isFinalPlan=false)
    val df = SparkEntry.queries("t13_lm_score")(spark, sf)
    df.collect()
    // the finalized adaptive plan prints "== Final Plan ==" followed by the
    // initial plan — keep only the final section or every node counts twice
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the per-doc bigram aggregate db is localCheckpoint-materialized (r14):
    // the probe and BOTH model sides (cb/ctx) read its blocks — without the
    // materialization the optimizer collapses the aggregate chains and each
    // model side re-runs the corpus-scale bigram explode (measured: 3
    // explode stages of ~12 s summed task time each at sf0.1)
    // >= 2, not 3: at some SFs AQE lets ctx ride cb's ReusedExchange
    // instead of reading the blocks a third time — also fine
    assert(count(p, "Scan ExistingRDD") >= 2, s"t13 model aggs lost the db blocks:\n$p")
    // the bigram explode must NOT appear in the scoring plan at all — it
    // lives once in the checkpointed subtree; the only corpus pass left
    // here is the vocab count's word explode
    assert(count(p, "Generate explode\\(transform\\(sequence") === 0,
      s"t13 re-explodes bigrams in the scoring plan:\n$p")
    assert(count(p, "Scan parquet") <= 1, s"t13 corpus scan count drifted:\n$p")
    // model tables join back as broadcasts (vocab-sized), never SMJ; the
    // one-row vocab count rides a broadcast cross join
    assert(count(p, "BroadcastHashJoin") === 2 && count(p, "SortMergeJoin") === 0, p)
  }

  test("dsir weights shuffle the corpus once; models come back as broadcasts (s10)") {
    val df = SparkEntry.queries("s10_dsir_weights")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the corpus is exploded into bigrams EXACTLY once — inside the
    // checkpointed db subtree (r14: the final-plan TEXT hid the bm
    // branch's re-explode; the SQL-metric dump showed 2 explode stages,
    // so db is now localCheckpoint-materialized like t13's): the weights
    // probe and the bm model both read the blocks, and NO explode may
    // appear in the scoring plan itself
    assert(count(p, "Generate explode") === 0, s"s10 re-explodes the corpus:\n$p")
    assert(count(p, "Scan ExistingRDD") >= 2, s"s10 lost the db blocks:\n$p")
    // the light totals projection — never another corpus pass
    assert(count(p, "Scan parquet") <= 1, s"s10 corpus scan count drifted:\n$p")
    // 1024-row model + one-row totals join back broadcast, never SMJ
    assert(count(p, "SortMergeJoin") === 0, p)
    assert(count(p, "BroadcastHashJoin") >= 1, p)
  }

  test("nb classifier shuffles the corpus once; model and totals broadcast back (t15)") {
    val df = SparkEntry.queries("t15_nb_quality")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the corpus explodes into words exactly ONCE — inside the
    // checkpointed tf subtree (r14: the model branch's sum-over-count
    // collapsed through the per-doc groupBy and re-ran the explode; the
    // final-plan text hid it, the SQL-metric dump showed 2 explode
    // stages). Model and scoring probe both read the blocks; no explode
    // may appear in the scoring plan; totals ride a no-explode projection.
    assert(count(p, "Generate explode") === 0, s"t15 re-explodes the corpus:\n$p")
    assert(count(p, "Scan ExistingRDD") >= 2, s"t15 lost the tf blocks:\n$p")
    assert(count(p, "Scan parquet") <= 1, s"t15 corpus scan count drifted:\n$p")
    // vocab-sized model + one-row totals/vocab join back broadcast
    assert(count(p, "SortMergeJoin") === 0, p)
    assert(count(p, "BroadcastHashJoin") >= 1, p)
  }

  test("semdedup stays within-cluster: broadcast centroids, no cartesian corpus pair (d16)") {
    val p = planOf("d16_semdedup")
    assert(count(p, "CartesianProduct") === 0, p)
    // centroid table is k-row — every centroid join is broadcast; the pair
    // join is label-keyed (shuffle or broadcast, never nested-loop)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("z-order keys are a pure scan-projection: zero exchanges (l1)") {
    val p = planOf("l1_zorder_key")
    assert(count(p, "Exchange") === 0, s"l1 must not shuffle:\n$p")
    assert(count(p, "Scan parquet") === 1, p)
  }

  test("layout bake-off: scan-side curve keys, one keyed rollup, no joins (l5)") {
    val p = planOf("l5_layout_compare")
    // both curve keys are codegen'd scan-side projections; the only
    // exchanges are the (layout, file_id) rollup and the layout verdict —
    // no join may appear anywhere (file stats need no dimension lookups)
    assert(count(p, "Join") === 0, s"l5 must not join:\n$p")
    assert(count(p, "Scan parquet") === 1, p)
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("pagerank rounds read the materialized edge catalog, not the corpus (g7)") {
    val df = SparkEntry.queries("g7_pagerank")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the returned frame is (final ranks checkpoint) ⋈ outw(edge checkpoint):
    // the corpus-scale window ran ONCE inside the edge materialization —
    // no parquet scan and no window may appear in the final consumer plan
    assert(count(p, "Scan parquet") === 0, s"g7 re-reads the corpus:\n$p")
    assert(!p.contains("RunningWindowFunction") && count(p, "WindowExec") === 0,
      s"g7 replays the transition window:\n$p")
  }

  test("image near-dup pairs ride the d8 banded shape: no all-pairs join (m7)") {
    val p = planOf("m7_phash_pairs")
    // candidates come from the (band, bkey) bucket join; the hamming verify
    // is inlined on its output — an all-pairs regression would surface as a
    // nested-loop or cartesian join over the image table
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    assert(count(p, "SortMergeJoin") === 0, p)
  }

  test("audio fingerprint dedup is d1's plan at the codec seam (m8)") {
    val p = planOf("m8_audio_fingerprint")
    // decode + key extraction inside one mapPartitions pass; the ONLY keyed
    // exchange is the prefix-key groupBy (spread's round-robin widening and
    // AQE coalescing aside) — no joins at all
    assert(count(p, "Exchange hashpartitioning") <= 1, p)
    assert(count(p, "BroadcastHashJoin") === 0 && count(p, "SortMergeJoin") === 0, p)
  }

  test("filtered vector search is filter-then-score: keyed BHJ, no nested loop (n8)") {
    val p = planOf("n8_ann_filtered_topk")
    // the label filter must reach the JOIN (a BroadcastHashJoin on label),
    // not run as a post-score filter over an all-pairs nested loop
    assert(count(p, "BroadcastHashJoin") === 1, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0,
      s"n8 regressed to score-then-filter:\n$p")
    assert(count(p, "SortMergeJoin") === 0, p)
  }

  test("multimodal curation: broadcast anti on the pair-bounded image list (c4)") {
    val p = planOf("c4_multimodal_curation")
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    // the dropped-image list is pair-bounded — its anti join must broadcast;
    // the text/audio gates are corpus-sized subsets, so their id-keyed semi
    // joins may shuffle (that IS the scale-correct plan) but never more
    // than one keyed join each
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(count(p, "SortMergeJoin") <= 2, p)
  }

  test("nearest as-of runs BOTH directional passes through the custom operator (j6)") {
    val p = planOf("j6_asof_nearest")
    assert(count(p, "AsOfJoin") >= 2, s"j6 lost a native directional pass:\n$p")
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    assert(count(p, "CartesianProduct") === 0, p)
  }

  test("triangle counting is keyed joins only — no cartesian wedge explosion (g8)") {
    val p = planOf("g8_triangles")
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("weighted sampling bounds the global top-n map-side (s12)") {
    val p = planOf("s12_weighted_sample")
    // the rank-filter must compile to a bounded top-n — either the
    // two-phase WindowGroupLimit or (better) TakeOrderedAndProject, which
    // takes the per-partition top-100 map-side and ranks only the 100
    // survivors; a full global Sort+Window over the corpus is the
    // regression this pins against
    assert(p.contains("TakeOrderedAndProject") || count(p, "WindowGroupLimit") >= 1,
      s"s12 lost its partial top-n:\n$p")
    assert(count(p, "BroadcastHashJoin") === 0 && count(p, "SortMergeJoin") === 0, p)
  }

  test("fuzzy matching is posting-blocked: no all-pairs name join (e1)") {
    val p = planOf("e1_fuzzy_match")
    // candidates come from the bigram posting self-join; a regression to
    // brute-force all-pairs would surface as a nested-loop/cartesian join
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("entity resolution clusters the vocabulary, never the record table (e2)") {
    val p = planOf("e2_entity_resolve")
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("incremental dedup never shuffles the history corpus (d19)") {
    val p = planOf("d19_incremental_dedup")
    // batch side broadcast at every join: band probe, signature join-back,
    // exact-fingerprint probe, and both assembly joins. The only keyed
    // exchanges are the batch-keyed min() aggs (and AQE coalescing) —
    // history rows never sort-merge or hash-exchange on their own key
    assert(count(p, "SortMergeJoin") === 0, p)
    assert(count(p, "CartesianProduct") === 0, p)
    assert(count(p, "BroadcastHashJoin") >= 4, p)
  }
}
