package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.json.
  *
  * Each key in [[queries]] is one operator row from SURVEY §2 (or an
  * LLM-data-pipeline extension); [[oracleSql]] holds the equivalent DuckDB SQL
  * over the same parquet tables. Column names and value semantics are aligned
  * between both sides (decimal-exact sums, integer threshold comparisons,
  * µs-truncated event timestamps) so results hash-match bit-for-bit.
  */
object SparkEntry {

  /** Flagship query (ProvinceStats analog, the reference's cleanest
    * declarative pipeline — app/dws/ProvinceStatsSQLApp.java:112-132) on
    * sf0.001; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    StatsOps.provinceStats(spark, "/root/testdata/sf0.001")

  /** The one place a roster query meets its input: `op` over table `name`
    * of the roster directory. Every parameter a query binds that differs
    * from its operator's default is written at its entry in [[queries]].
    */
  private def on(name: String)(op: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => op(Tables.table(s, d, name))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.3 projection / filter / flatten / split
    "p1_json_parse" -> (LogOps.jsonParse _),
    "p3_cdc_filter" -> (LogOps.cdcNormalize _),
    "p4_log_split" -> (LogOps.logSplit _),
    "p5_scan_project" -> (RelationalOps.scanProject _),
    "p6_config_router" -> (RelationalOps.configRouter _),
    "p9_normalize_union" -> (RelationalOps.normalizeUnion _),
    "x1_tokenize" -> (tokenize _),
    "x2_exact_distinct_udaf" -> (exactDistinctUdaf _),
    // §2.4 joins
    "j1_interval_join_order" -> (RelationalOps.intervalJoinOrder _),
    "j2_interval_join_payment" -> (RelationalOps.intervalJoinPayment _),
    "j3_dim_enrich" -> (RelationalOps.dimEnrich _),
    "j4_asof_native" -> (asofNative _),
    "j5_asof_tolerance" -> (asofTolerance _),
    // j6: merge_asof direction='nearest' — TWO passes of the native as-of
    // operator (forward = backward on negated micros), arbitrated by
    // distance with backward winning ties
    "j6_asof_nearest" -> (asofNearest _),
    // §2.5 aggregations / §2.6 windows
    "a1_visitor_stats" -> (StatsOps.visitorStats _),
    "a2_product_stats" -> (StatsOps.productStats _),
    "a3_province_stats" -> (StatsOps.provinceStats _),
    "a4_keyword_stats" -> (StatsOps.keywordStats _),
    "a5_unique_visit" -> (LogOps.uniqueVisit _),
    "a6_new_visitor_fix" -> (LogOps.newVisitorFix _),
    "a7_ads_sum" -> (RelationalOps.adsSum _),
    // dq1: data-quality validation battery — one report row per check
    // (nulls, FK integrity, PK uniqueness, domains, parse health)
    "dq1_quality_checks" -> (RelationalOps.dataQualityReport _),
    // dq2: PSI drift between the d19 corpus halves over the lang
    // distribution — the model-monitoring statistic, engine-exact
    "dq2_drift_psi" -> (RelationalOps.driftPsi _),
    // dq3: per-column catalog profile — rows/nulls/exact distincts/min/max,
    // one pruned scan per column
    "dq3_column_profile" -> on("documents")(RelationalOps.columnProfile),
    // dq8: profile drift between l3's snapshots — dq3's battery per side,
    // report-sized join, integer cross-product thresholds, drifted verdict
    "dq8_profile_drift" -> on("documents")(RelationalOps.profileDrift),
    // dq9: embedding-space outliers — bottom 1/20 of each cell by kNN-graph
    // density (DECIMAL edge-sim sum); rides the memoized n14 graph
    "dq9_embedding_outliers" -> on("embeddings")(AnnOps.knnDensityOutliers),
    // dq4: k-anonymity audit over the (lang, source, len-bucket)
    // quasi-identifier — sub-k groups flagged, one bounded keyed agg
    "dq4_k_anonymity" -> on("documents")(RelationalOps.kAnonymity),
    // l3: snapshot diff (added/removed/changed/unchanged counts) — one
    // id-keyed full outer join of the two manifest projections
    "l3_snapshot_diff" -> on("documents")(RelationalOps.snapshotDiff),
    // dq5: per-stream freshness/lag/volume vs the table's own max — the
    // ingest-SLA dashboard, one keyed scan-agg + one-row broadcast
    "dq5_freshness" -> on("events")(RelationalOps.freshness),
    // a14: first/last-touch attribution — j1-shaped candidate join, both
    // argmin/argmax windows on one purchase-keyed exchange, decimal revenue
    "a14_attribution" -> on("events")(StatsOps.attribution),
    // l4: data-skipping effectiveness — files touched under arrival vs
    // z-order layout for one box predicate; per-file stats in one keyed agg
    "l4_skipping_stats" -> on("events")(Bucketing.skippingStats),
    // l5: the three-way layout bake-off — arrival vs Morton vs Hilbert
    // skipping under the same box predicate (native hilbert_key rounds)
    "l5_layout_compare" -> on("events")(Bucketing.layoutCompare),
    // g10: cross-source shingle-overlap matrix — the subcorpus governance
    // view of decontamination; shingle df bounded by source count
    "g10_cross_source" -> on("documents")(CurationOps.crossSourceContamination),
    // s13: exact per-stratum 10% sample by salted-hash order — integer
    // quota compare, one lang-keyed exchange for both windows
    "s13_stratified_sample" -> on("documents")(CurationOps.stratifiedSample),
    "s14_cluster_balanced_sample" -> on("embeddings")(CurationOps.clusterBalancedSample),
    // dq6: per-stream daily volume z-score anomalies — one corpus
    // scan-agg; shift-invariant integer variance (no s² overflow)
    "dq6_volume_anomaly" -> on("events")(RelationalOps.volumeAnomaly),
    // dq7: FK-graph referential integrity — orphan counts per relation
    "dq7_referential_integrity" -> (RelationalOps.referentialIntegrity _),
    // t16: char-entropy quality signal (the compression-proxy filter) —
    // native single-pass codegen expression, zero shuffle
    "t16_char_entropy" -> on("documents")(TextOps.charEntropy),
    // t17: the FULL Gopher Table-A1 repetition battery — top-{2,3,4}-gram
    // and dup-{5..10}-gram character fractions, integer-compared thresholds
    "t17_gopher_repetition" -> on("documents")(TextOps.gopherRepetition),
    // g11: item-item cosine over binary user sets (collaborative
    // filtering) — user-keyed posting self-join, active-user bound
    "g11_item_similarity" -> on("events")(StatsOps.itemSimilarity),
    // g12: doc-level source-overlap matrix (g10's shingle-level complement)
    "g12_source_overlap" -> on("documents")(StatsOps.sourceOverlap),
    "a9_sessionize" -> (StatsOps.sessionize _),
    "a10_funnel" -> on("events")(StatsOps.funnel),
    "a11_rfm" -> on("events")(StatsOps.rfm),
    "a13_rolling_active" -> on("events")(StatsOps.rollingActive),
    "a12_event_transitions" -> on("events")(StatsOps.eventTransitions),
    "g7_pagerank" -> on("events")(StatsOps.pageRank),
    // g8: triangle counting via degree-ordered orientation — wedge volume
    // O(m^1.5), hub-skew-immune ("curse of the last reducer")
    "g8_triangles" -> on("events")(StatsOps.triangles),
    // g13: label-propagation communities over the same graph — synchronous
    // deterministic rounds (max incident weight, ties to smallest label)
    "g13_label_prop" -> on("events")(StatsOps.labelPropagation(_)),
    // g9: PMI collocation mining — one quantized ln over exact counts,
    // min-support filter, bounded top-k
    "g9_collocations" -> on("documents")(CurationOps.collocations),
    "l1_zorder_key" -> on("events")(Bucketing.zorderEvents),
    // l2: compaction planning (the small-files chore): first-fit-in-order
    // file assignment at ~16KB targets within (lang, doc_id%16) slices —
    // one bounded running-sum window per slice, never a global sort
    "l2_compaction_plan" -> on("documents")(Bucketing.compactionPlan),
    "r3_retention" -> on("events")(StatsOps.retention),
    // a15: month-grained cohort LTV over orders — money-weighted r3 with
    // exact-decimal cumulative revenue per founding buyer
    "a15_cohort_ltv" -> on("orders")(StatsOps.cohortLtv),
    "w2_sliding_counts" -> (StatsOps.slidingCounts _),
    "w3_session_window" -> (StatsOps.sessionWindowStats _),
    "w6_user_jump" -> (LogOps.userJump _),
    // §2.8 scalar functions, §2.10 ranking
    "f1_date_functions" -> (StatsOps.dateFunctions _),
    "r1_rank_topn" -> (RelationalOps.rankTopN _),
    "r2_window_funcs" -> (RelationalOps.windowFuncs _),
    "a8_rollup" -> (RelationalOps.rollupStats _),
    // LLM-data-pipeline: dedup
    "d1_dedup_exact" -> on("documents")(DedupOps.dedupExact),
    "d2_minhash_signature" -> on("documents")(DedupOps.minhashSignature),
    "d3_minhash_lsh_pairs" -> on("documents")(DedupOps.minhashLshPairs),
    "d4_simhash" -> on("documents")(DedupOps.simhash),
    "d5_ngram_jaccard" -> on("documents")(DedupOps.ngramJaccard),
    "d6_embedding_neardup" -> on("embeddings")(AnnOps.embeddingNearDups),
    // d16 runs τ = 0.35: the fixture's within-cell cosines stay below ~0.47,
    // so the production 0.95 would never exercise the drop rule
    "d16_semdedup" -> on("embeddings")(AnnOps.semDedup(_, threshold = 0.35)),
    // d7 runs on a FIXED 500-doc demo slice (deterministic doc_id bound,
    // not the whole table): the 16-bit demo fingerprint is contract-gated
    // to <= 1k docs — the slice keeps the query oracle-green at every SF
    // while the operator-level gate still fails loudly on oversized input
    "d7_simhash_pairs" -> on("documents")(docs =>
      DedupOps.simhashPairs(docs.filter(col("doc_id") < 500))),
    "d8_simhash64_pairs" -> on("documents")(DedupOps.simhash64Pairs(_)),
    "d9_winnow_fingerprints" -> on("documents")(DedupOps.winnowFingerprints),
    "d15_winnow_pairs" -> on("documents")(DedupOps.winnowPairs(_)),
    // d10/d11/d20/s11 (and c3 inside its operator) cluster at Jaccard 0.7 —
    // one threshold, so all of them ride the same memoized closure
    "d10_neardup_clusters" -> on("documents")(DedupOps.nearDupClusters(_, 0.7)),
    "d11_dedup_by_cluster" -> on("documents")(docs =>
      DedupOps.dedupByCluster(docs, DedupOps.nearDupClusters(docs, 0.7))),
    "d12_segment_dedup" -> on("documents")(DedupOps.segmentDedup),
    "d13_substring_spans" -> on("documents")(DedupOps.exactSubstringSpans(_)),
    // d14/d17 strip against the corpus's own reference sets
    "d14_strip_spans" -> on("documents")(docs =>
      DedupOps.stripDuplicatedSpans(docs, DedupOps.duplicatedGrams(docs))),
    "d17_boilerplate_strip" -> on("documents")(docs =>
      DedupOps.boilerplateStrip(docs, DedupOps.boilerplateSegments(docs))),
    "d18_containment_pairs" -> on("documents")(DedupOps.containmentPairs(_)),
    // d19: incremental batch-vs-history dedup triage (exact | near | novel);
    // history is never shuffled — batch side broadcast at every join
    "d19_incremental_dedup" -> on("documents")(DedupOps.incrementalDedup),
    // d20: duplicate-cluster size spectrum over the session-shared closure
    "d20_cluster_spectrum" -> on("documents")(docs =>
      DedupOps.clusterSizeSpectrum(DedupOps.nearDupClusters(docs, 0.7))),
    "g5_dup_rate_by_source" -> on("documents")(DedupOps.dupRateBySource),
    // LLM-data-pipeline: similarity search
    "n1_ann_cosine_topk" -> on("embeddings")(AnnOps.cosineTopK),
    // n8: metadata-FILTERED vector search — top-k among same-label vectors
    // only; the label equality turns n1's nested-loop into a keyed
    // broadcast hash join (filter-then-score)
    "n8_ann_filtered_topk" -> on("embeddings")(AnnOps.filteredTopK),
    "n2_ann_ivf_topk" -> on("embeddings")(AnnOps.ivfTopK),
    // n2b: the TRAINED quantizer end-to-end (kmeansTrain → assignCells →
    // ivfSearchAssigned). Lloyd's loop stops at convergence, so no single
    // SQL query states it: no oracleSql entry (driver records rows-only);
    // the recall bound vs n1's brute-force truth is spec-pinned at sf0.1
    // (AnnOpsSpec)
    "n2b_ann_ivf_trained" -> on("embeddings")(AnnOps.ivfTrainedTopK),
    "n3_ann_lsh_topk" -> on("embeddings")(AnnOps.lshTopK),
    "n6_pq_adc" -> on("embeddings")(AnnOps.pqAdcTopK),
    // n7: k-NN weak labeling — majority label of the top-5 cosine
    // neighbors, deterministic (sim DESC, id) / (votes DESC, label) ties
    "n7_knn_label" -> on("embeddings")(AnnOps.knnLabel),
    "n4_embed_quantize" -> on("embeddings")(AnnOps.quantizeStats),
    // n9: SQ8 search — int8-code candidate scan (cosine of the quantized
    // vectors: scales cancel, all-integer-derived) + exact float rerank of
    // the top-20 survivors per query
    "n9_quantized_topk" -> on("embeddings")(AnnOps.quantizedTopK),
    // n10: IVF probe-bounded SQ8 — the int8 scan touches only the 3 probed
    // cells per query (n2 x n9 composition); deterministic 6-dp centroid
    // means + 4-dp-quantized probe scores keep every stage oracle-stateable
    "n10_ivf_sq8_topk" -> on("embeddings")(AnnOps.ivfQuantizedTopK(_)),
    // n11: IVFADC — coarse cells + RESIDUAL product quantization; per query
    // only the 4 probed cells' 8-int codes are ADC-scored against a
    // per-(query, cell) residual distance table, then the n1 float rerank
    "n11_ivfpq_topk" -> on("embeddings")(AnnOps.ivfPqTopK(_)),
    // n13: MMR diversified top-k — the RAG reranker between search and the
    // context window; greedy rounds unrolled, pool-bounded by construction
    "n13_mmr_topk" -> on("embeddings")(AnnOps.mmrTopK(_)),
    // n14: the kNN JOIN — every corpus vector's top-5 neighbors, probe-
    // bounded by the memoized coarse quantizer (the SemDeDup / kNN-graph
    // index-side primitive; candidate pairs = probed fraction, never n²)
    "n14_knn_join" -> on("embeddings")(AnnOps.knnJoin(_)),
    "n5_cosine_sim_fn" -> (cosineSimFn _),
    // LLM-data-pipeline: corpus curation (decontamination, sampling,
    // shard shuffle, n-gram frequency)
    // t5: every 97th doc stands in for the held-out benchmark corpus
    "t5_decontaminate" -> on("documents")(docs =>
      CurationOps.decontaminate(docs, docs.filter(col("doc_id") % 97 === 0))),
    "b1_bloom_decontaminate" -> on("documents")(CurationOps.bloomDecontaminate),
    "b2_semantic_decontam" -> on("embeddings")(AnnOps.semanticDecontaminate),
    "s1_hash_sample" -> on("documents")(CurationOps.hashSample),
    "s2_train_shuffle" -> on("documents")(CurationOps.trainShuffle),
    "s3_seq_pack" -> on("documents")(CurationOps.packSequences),
    "s4_mixture_sample" -> on("documents")(CurationOps.mixtureSample),
    "s5_doc_chunk" -> on("documents")(CurationOps.chunkDocuments),
    "s6_domain_cap" -> on("documents")(CurationOps.domainCap(_)),
    "s7_length_buckets" -> on("documents")(CurationOps.lengthBuckets),
    // s8: sequence packing driven by REAL BPE subword counts (t10's merge
    // table) instead of the chars/4 estimate — counting and packing compose
    "s8_bpe_pack" -> on("documents")(docs =>
      CurationOps.packSequencesFrom(CurationOps.bpeTokenCounts(
        docs.filter(col("doc_id") < 100), CurationOps.DemoBpeMerges))),
    "g1_ngram_topk" -> on("documents")(CurationOps.ngramTopK),
    "g3_tfidf_topterms" -> on("documents")(CurationOps.tfidfTopTerms),
    "g4_vocab_stats" -> on("documents")(CurationOps.vocabStats),
    "g6_zipf_slope" -> on("documents")(CurationOps.zipfSlope),
    "s9_temperature_mix" -> on("documents")(CurationOps.temperatureMix),
    "s10_dsir_weights" -> on("documents")(CurationOps.dsirWeights),
    "s11_leakage_split" -> on("documents")(docs =>
      CurationOps.leakageSafeSplit(docs, DedupOps.nearDupClusters(docs, 0.7))),
    // s12: Efraimidis-Spirakis weighted sampling without replacement —
    // global top-n on the 4dp-quantized ln(u)/w key, WindowGroupLimit plan
    "s12_weighted_sample" -> on("documents")(CurationOps.weightedSample),
    // g2: exact percentile, the value the DuckDB oracle states
    "g2_token_quantiles" -> on("documents")(CurationOps.tokenQuantiles),
    // LLM-data-pipeline: text analysis
    "c1_corpus_curation" -> on("documents")(TextOps.curateCorpus),
    "c2_training_pipeline" -> on("documents")(CurationOps.trainingPipeline),
    "c3_curated_train_export" -> on("documents")(CurationOps.curatedTrainExport),
    "t1_lang_id" -> on("documents")(TextOps.langId),
    "t2_text_quality" -> on("documents")(TextOps.textQuality),
    "t3_token_count" -> on("documents")(TextOps.tokenCount),
    "t4_fingerprint" -> on("documents")(TextOps.fingerprint),
    "t6_pii_redact" -> on("documents")(TextOps.piiRedact),
    "t8_normalize" -> on("documents")(TextOps.normalizeText),
    "t7_repetition" -> on("documents")(TextOps.repetitionStats),
    "t9_regex_tokens" -> on("documents")(TextOps.regexTokens),
    // e1: fuzzy entity matching — bigram-posting-blocked candidate pairs,
    // exact integer levenshtein verify; oracle brute-forces all pairs so
    // blocking completeness is hash-checked
    "e1_fuzzy_match" -> on("part")(TextOps.fuzzyNameMatch(_)),
    // e2: canonical entity assignment — e1's pairs transitively closed with
    // the d10 connectedComponents machinery over the name vocabulary, every
    // record rewritten to its component's canonical name
    "e2_entity_resolve" -> on("part")(TextOps.entityResolve),
    "t12_gopher_rules" -> on("documents")(TextOps.gopherRules),
    "t13_lm_score" -> on("documents")(TextOps.lmScore),
    "t14_ppl_buckets" -> on("documents")(TextOps.pplBuckets),
    "t15_nb_quality" -> on("documents")(TextOps.nbQualityScore),
    // t10: BPE subword tokenization through the fixed demo merge table
    // (training determinism is spec-pinned; the oracle replays the same
    // merge ranks as string replacements)
    "t10_bpe_tokenize" -> on("documents")(docs => CurationOps.bpeTokenize(
      docs.filter(col("doc_id") < 100), CurationOps.DemoBpeMerges)),
    // t11: per-language token distribution from REAL BPE subword counts —
    // the production accounting default once a merge table exists (t3/g2/s3
    // keep the chars/4 bootstrap face)
    "t11_bpe_token_stats" -> on("documents")(
      CurationOps.bpeTokenStats(_, CurationOps.DemoBpeMerges)),
    // LLM-data-pipeline: multimodal (m1 = deterministic fake decoder with a
    // full arithmetic oracle; m2 = REAL javax.imageio PNG encode→decode)
    "m1_multimodal_decode" -> (MultimodalOps.decodeFeatures _),
    "m2_image_decode" -> (MultimodalOps.decodeImages _),
    // m3: resize planning over the m1 feature table — pure in-plan
    // arithmetic (scale factor, floored target dims), stated exactly by
    // the oracle; only upscale-capped shrink-to-fit 512 is exercised
    "m3_resize" -> ((s: SparkSession, d: String) =>
      MultimodalOps.resizePlan(MultimodalOps.decodeFeatures(s, d), 512)),
    // m6: perceptual average-hash over the REAL PNG decode — 4x4
    // nearest-neighbor grid, integer brighter-than-mean bits, per-hash
    // dup-candidate counts; the oracle replays the gradient arithmetic
    "m6_image_phash" -> (MultimodalOps.imagePhash _),
    // m7: image near-dup PAIRS — 64-bit average-hash over the real ImageIO
    // decode, banded-hamming candidate join (d8's machinery verbatim), exact
    // hamming <= 3 verify; the oracle replays the pixel arithmetic and
    // brute-forces all pairs, so banding must be COMPLETE to hash-match
    "m7_phash_pairs" -> ((s: SparkSession, d: String) => MultimodalOps.imagePhashPairs(s, d)),
    "m4_audio_features" -> on("documents")(MultimodalOps.audioFeatures),
    // m8: audio fingerprint dedup — d1's exact-dedup shape at the audio
    // seam: 2-frame energy prefix key over REAL WAV decode, hash-groupBy to
    // (keeper, dup_ct); the oracle replays the sample recurrence
    "m8_audio_fingerprint" -> (MultimodalOps.audioFingerprintDups _),
    // c4: multimodal curation capstone — text gopher-keep AND image
    // phash-canonical AND audio fingerprint-keeper, every gate reused
    // verbatim from its standalone operator (and its oracle likewise)
    "c4_multimodal_curation" -> (MultimodalOps.multimodalCuration _),
    // c5: RAG retrieval serving capstone — n10's probe-bounded IVF×SQ8
    // scan, exact rerank to the pool=20 list, n13's MMR greedy tail; the
    // oracle composes the two gated stages' CTE chains verbatim
    "c5_retrieval_serve" -> on("embeddings")(AnnOps.retrievalServe),
    // m5: REAL WAV round trip — encode RIFF/WAVE bytes per doc, decode with
    // the in-JDK javax.sound parser, aggregate frames at the codec seam;
    // same arithmetic oracle as m4, so a codec fault breaks the hash
    "m5_audio_decode" -> (MultimodalOps.decodeAudioFrames _),
    // v1: frame sampling over video-mime records — every 30th of the stub
    // decoder's md5-derived frame count; fan-out + dims are oracle-checked,
    // the opaque frame bytes stay out of the compared columns
    "v1_frame_sample" -> ((s: SparkSession, d: String) =>
      MultimodalOps.sampleFrames(MultimodalOps.videoRecords(s, d), 30)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width"), col("height"))),
    // v2: REAL video decode — a genuine MJPEG (concatenated-JPEG) stream is
    // encoded per doc and split+decoded frame by frame with the in-JDK JPEG
    // plugin; the oracle states the frame fan-out and dims arithmetically,
    // so the hash only matches if the segment-walking splitter found every
    // real frame boundary (v1's stub face keeps the too-big-to-encode dims)
    "v2_mjpeg_decode" -> ((s: SparkSession, d: String) =>
      MultimodalOps.decodeMjpegFrames(MultimodalOps.mjpegRecords(s, d))),
    // v3: frame sampling on the REAL codec with decode-skipping — the
    // boundary walk touches every frame, JPEG decode only every 2nd; the
    // oracle is v2's fan-out filtered to even frame indices
    "v3_mjpeg_sample" -> ((s: SparkSession, d: String) => MultimodalOps.sampleMjpegFrames(s, d, 2))
  )

  /** X1 positional tokenize (LATERAL TABLE(split_words(...)),
    * app/dws/KeywordStatsApp.java:90-96) — bounded to the first 50 docs.
    */
  private def tokenize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.table(spark, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .withColumn("pos", col("pos").cast("long"))
      .filter(length(col("word")) > 0)
  }

  /** J4 — the NATIVE whole-operator as-of join (custom LogicalPlan +
    * SparkStrategy + SparkPlan, `graft.plans.AsOfJoin`): for every click,
    * the same user's latest view at or before it — proven against DuckDB's
    * built-in `ASOF LEFT JOIN`. The right side is pre-collapsed to one row
    * per (user, ts) so the "latest" pick is deterministic in both engines.
    */
  private def asofNative(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    graft.plans.AsOfJoinNative.asOf(clicks, views, "user_id", "ts", "ts")
      .select(col("click_id"), col("user_id"),
        unix_micros(col("ts")).as("click_ts_us"),
        col("r_view_id").as("view_id"),
        unix_micros(col("r_ts")).as("view_ts_us"))
  }

  /** J5 — the as-of join's `merge_asof`-style staleness bound: same shape as
    * j4 but versions older than 48h report unmatched. DuckDB states the same
    * semantics as ASOF JOIN + staleness nulling (rejecting the LATEST match
    * can never admit an older one, so post-filtering the asof pick is exact).
    */
  private def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    graft.plans.AsOfJoinNative.asOf(clicks, views, "user_id", "ts", "ts",
        toleranceMicros = Some(2L * 86400L * 1000000L))
      .select(col("click_id"), col("user_id"),
        unix_micros(col("ts")).as("click_ts_us"),
        col("r_view_id").as("view_id"),
        unix_micros(col("r_ts")).as("view_ts_us"))
  }

  /** J6 — the as-of join's `merge_asof(direction='nearest')` form: each
    * click takes the time-CLOSEST view either side, composed from TWO
    * passes of the native operator — backward on integer micros, forward
    * on NEGATED micros (`latest(-v ≤ -c)` ≡ `earliest(v ≥ c)`, exploiting
    * the operator's type-generic ordering) — then arbitrated per click by
    * absolute distance, backward winning exact ties (pandas' rule). The
    * DuckDB oracle states nearest directly as a windowed argmin over the
    * per-user candidate set with the same tie-break.
    *
    * Scale notes: each pass is the native operator's per-key merge (both
    * sides hash-partitioned by user, sorted within partitions, one
    * sequential sweep — never a time-range nested loop); the arbitration
    * is one click-keyed equi-join of two click-sized frames.
    */
  private def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("view_id"))
      .select(col("user_id"), col("view_id"), unix_micros(col("ts")).as("us"))
    val back = graft.plans.AsOfJoinNative.asOf(clicks, views, "user_id", "us", "us")
    val fwd = graft.plans.AsOfJoinNative.asOf(
      clicks.withColumn("nus", -col("us")),
      views.withColumn("nus", -col("us")), "user_id", "nus", "nus", prefix = "f_")
    val db = col("click_us") - col("r_us")
    val df = col("f_us") - col("click_us")
    val backWins = col("r_us").isNotNull && (col("f_us").isNull || db <= df)
    back.select(col("click_id"), col("user_id"), col("us").as("click_us"),
        col("r_view_id"), col("r_us"))
      .join(fwd.select(col("click_id"), col("f_view_id"), col("f_us")), Seq("click_id"))
      .select(col("click_id"), col("user_id"), col("click_us"),
        when(backWins, col("r_view_id")).otherwise(col("f_view_id")).as("view_id"),
        when(backWins, col("r_us")).otherwise(col("f_us")).as("view_us"),
        when(col("r_us").isNull && col("f_us").isNull, lit(null).cast("string"))
          .when(backWins, lit("backward")).otherwise(lit("forward")).as("direction"))
  }

  /** X2 — the typed `Aggregator` ([[graft.functions.ExactDistinct]], the
    * UDAF row of SURVEY §2.9) exercised through the registered SQL
    * surface: exact per-group distinct user counts over events, proven
    * against the oracle's COUNT(DISTINCT). The merge-associative Set buffer
    * is the same mechanism the streaming exact count-distinct uses.
    */
  private def exactDistinctUdaf(spark: SparkSession, dir: String): DataFrame = {
    GraftExtensions.register(spark)
    // per-call unique view name (concurrent calls must not stomp each other);
    // spark.sql analyzes eagerly, so the view drops on exit
    val view = s"graft_events_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"
    Tables.table(spark, dir, "events").createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT event_type, exact_count_distinct(user_id) AS uv,
         |       count(*) AS ct
         |FROM $view GROUP BY event_type""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  /** N5 — the native single-pass [[graft.functions.CosineSimF]] exercised
    * through the registered SQL surface (GraftExtensions), adjacent-id pairs.
    */
  private def cosineSimFn(spark: SparkSession, dir: String): DataFrame = {
    GraftExtensions.register(spark)
    val view = s"graft_emb_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"
    Tables.table(spark, dir, "embeddings").createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       floor(cosine_sim(a.embedding, b.embedding) * 1e4 + 0.5) / 1e4 AS sim
         |FROM $view a JOIN $view b ON b.vec_id = a.vec_id + 1""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  // ---- DuckDB oracle SQL -------------------------------------------------

  /** events.ts is TIMESTAMP_NS in parquet; both engines truncate to µs. */
  private val EV = "CAST(ts AS TIMESTAMP)"

  /** g7's oracle: the five PageRank rounds unrolled as chained CTEs, ONE
    * generator shared with nothing so iteration arithmetic lives in a
    * single place — ranks are BIGINT 1e-8 units, every floor expression
    * textually mirrors StatsOps.pageRank's pinned association.
    */
  private def pagerankSql(iters: Int): String = {
    val head =
      s"""WITH e AS (SELECT event_id, user_id, epoch_us($EV) AS us,
         |                  TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS node
         |           FROM events
         |           WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |t AS (SELECT lag(node) OVER (PARTITION BY user_id ORDER BY us, event_id) AS src,
         |             node AS dst
         |      FROM e),
         |ed AS (SELECT src, dst, count(*) AS w FROM t WHERE src IS NOT NULL GROUP BY src, dst),
         |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM ed GROUP BY src),
         |nd AS (SELECT DISTINCT node FROM (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         |nn AS (SELECT count(*) AS n FROM nd),
         |it0 AS (SELECT node, CAST(floor(100000000.0 / n + 0.5) AS BIGINT) AS r
         |        FROM nd CROSS JOIN nn)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val p = s"it${i - 1}"
      s"""dg$i AS (SELECT CAST(coalesce(sum(p.r), 0) AS BIGINT) AS dm
         |        FROM $p p LEFT JOIN ow ON ow.src = p.node WHERE ow.src IS NULL),
         |ct$i AS (SELECT ed.dst AS node,
         |                CAST(sum(CAST(floor(0.85 * CAST(p.r AS DOUBLE) * ed.w / ow.outw + 0.5) AS BIGINT)) AS BIGINT) AS s
         |         FROM $p p JOIN ow ON ow.src = p.node JOIN ed ON ed.src = p.node
         |         GROUP BY ed.dst),
         |it$i AS (SELECT nd.node,
         |                CAST(floor(15000000.0 / nn.n + 0.5) AS BIGINT) +
         |                CAST(floor(0.85 * CAST(dg$i.dm AS DOUBLE) / nn.n + 0.5) AS BIGINT) +
         |                CAST(coalesce(ct$i.s, 0) AS BIGINT) AS r
         |         FROM nd CROSS JOIN nn CROSS JOIN dg$i
         |         LEFT JOIN ct$i ON ct$i.node = nd.node)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + rounds +
      s"""
         |SELECT f.node, CAST(coalesce(ow.outw, 0) AS BIGINT) AS out_weight,
         |       CAST(f.r AS DOUBLE) / 100000000.0 AS pr
         |FROM it$iters f LEFT JOIN ow ON ow.src = f.node""".stripMargin
  }
  /** g13's oracle: the synchronous LPA rounds stated as chained CTEs —
    * identical undirected weighted edge rollup, identical argmax rule
    * (max summed incident weight, ties to the smallest label), `iters`
    * rounds unrolled so both engines run the same fixpoint prefix.
    */
  private def labelPropSql(iters: Int): String = {
    val head =
      s"""WITH e AS (SELECT event_id, user_id, epoch_us($EV) AS us,
         |                  TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS node
         |           FROM events
         |           WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |t AS (SELECT lag(node) OVER (PARTITION BY user_id ORDER BY us, event_id) AS src,
         |             node AS dst
         |      FROM e),
         |und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         |               CAST(count(*) AS BIGINT) AS w
         |        FROM t WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         |adj AS (SELECT a AS node, b AS nbr, w FROM und
         |        UNION ALL SELECT b, a, w FROM und),
         |l0 AS (SELECT DISTINCT node, node AS label FROM adj)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""l$i AS (SELECT node, label FROM (
         |         SELECT adj.node, l.label,
         |                row_number() OVER (PARTITION BY adj.node
         |                  ORDER BY sum(adj.w) DESC, l.label) AS rn
         |         FROM adj JOIN l${i - 1} l ON l.node = adj.nbr
         |         GROUP BY adj.node, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + rounds +
      s"""
         |SELECT node, label AS community,
         |       CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
         |FROM l$iters""".stripMargin
  }

  /** n13's oracle: the MMR greedy prefix UNROLLED — candidate pool is n1's
    * brute chain at rnk ≤ pool, the pool pair matrix carries 4-dp cosines,
    * and each round r picks argmax over floor((0.7·sim − 0.3·red)·1e4+0.5)
    * (ties → smaller neighbor id) among candidates not yet picked, with
    * red = max pair-sim against the picked set. λ and μ are independent
    * DOUBLE literals (never 1−λ — binary 1−0.7 ≠ 0.3).
    */
  private def mmrSql(k: Int, pool: Int): String = {
    val head =
      s"""WITH ${cosineCommon.replace("%QLIM%", "10")},
         |sims AS (SELECT query_id, vec_id AS neighbor_id,
         |                floor(list_dot_product(qe, ee) /
         |                      (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ee, ee)))
         |                      * 10000.0 + 0.5) / 10000.0 AS sim
         |         FROM q, e WHERE vec_id <> query_id),
         |cand AS (SELECT query_id, neighbor_id, sim FROM (
         |           SELECT query_id, neighbor_id, sim,
         |                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |           FROM sims) WHERE rn <= $pool),
         |p AS (SELECT c1.query_id, c1.neighbor_id AS a, c2.neighbor_id AS b,
         |             floor(list_dot_product(ea.ee, eb.ee) /
         |                   (sqrt(list_dot_product(ea.ee, ea.ee)) * sqrt(list_dot_product(eb.ee, eb.ee)))
         |                   * 10000.0 + 0.5) / 10000.0 AS psim
         |      FROM cand c1
         |      JOIN cand c2 ON c1.query_id = c2.query_id AND c1.neighbor_id <> c2.neighbor_id
         |      JOIN e ea ON ea.vec_id = c1.neighbor_id
         |      JOIN e eb ON eb.vec_id = c2.neighbor_id)""".stripMargin
    head + ",\n" + mmrGreedyTail(k)
  }

  /** The MMR greedy prefix UNROLLED over predefined CTEs `cand`
    * (query_id, neighbor_id, sim) and `p` (query_id, a, b, psim) — shared
    * by n13 (the brute n1 pool) and c5 (the IVF×SQ8 reranked pool). Round
    * 1 picks the pool's rank-1 row (mmr = 4-dp λ·sim); each later round r
    * picks argmax floor((0.7·sim − 0.3·red)·1e4+0.5) (ties → smaller
    * neighbor id) among unpicked candidates, red = max pair-sim against
    * the picked set.
    */
  private def mmrGreedyTail(k: Int): String = {
    require(k >= 1, s"MMR needs k >= 1, got $k")
    // λ/μ are AnnOps' serving constants — a default change there reaches
    // this SQL through the same name, so operator and oracle cannot diverge
    val lam = s"CAST(${AnnOps.MmrLambda} AS DOUBLE)"
    val mu = s"CAST(${AnnOps.MmrMu} AS DOUBLE)"
    val s1 =
      s"""s1 AS (SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS pick, sim,
         |              floor($lam * sim * 10000.0 + 0.5) / 10000.0 AS mmr
         |       FROM (SELECT query_id, neighbor_id, sim,
         |                    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |             FROM cand) WHERE rn = 1)""".stripMargin
    // k = 1 would otherwise leave mkString's bare start separator as a
    // trailing comma after s1 (invalid SQL)
    val rounds = if (k < 2) "" else (2 to k).map { r =>
      s"""s$r AS (
         |  SELECT * FROM s${r - 1}
         |  UNION ALL
         |  SELECT query_id, neighbor_id, CAST($r AS BIGINT) AS pick, sim, mmr FROM (
         |    SELECT x.query_id, x.neighbor_id, x.sim, x.mmr,
         |           row_number() OVER (PARTITION BY x.query_id ORDER BY x.mmr DESC, x.neighbor_id) AS rn
         |    FROM (
         |      SELECT c.query_id, c.neighbor_id, c.sim,
         |             floor(($lam * c.sim - $mu * rd.red)
         |                   * 10000.0 + 0.5) / 10000.0 AS mmr
         |      FROM cand c
         |      JOIN (SELECT p.query_id, p.a AS neighbor_id, max(p.psim) AS red
         |            FROM p JOIN s${r - 1} s ON s.query_id = p.query_id AND s.neighbor_id = p.b
         |            GROUP BY p.query_id, p.a) rd
         |        ON rd.query_id = c.query_id AND rd.neighbor_id = c.neighbor_id
         |      WHERE NOT EXISTS (SELECT 1 FROM s${r - 1} s2
         |                        WHERE s2.query_id = c.query_id AND s2.neighbor_id = c.neighbor_id)
         |    ) x) WHERE rn = 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s1 + rounds +
      s"\nSELECT query_id, neighbor_id, pick, sim, mmr FROM s$k"
  }

  /** c5's oracle: n10's chain VERBATIM ([[ivfSq8Rer]]) with the full
    * cand=20 exact-reranked list as the MMR pool (pool = cand, so `rer`
    * IS the pool — no rank cut), pool pair cosines from the corpus double
    * vectors (e0), then n13's greedy tail. The serving capstone's oracle
    * is the composition of its two gated stages' oracles, the c3
    * discipline.
    */
  private def c5Sql: String =
    s"""WITH $ivfSq8Rer,
       |cand AS (SELECT query_id, neighbor_id, sim FROM rer),
       |p AS (SELECT c1.query_id, c1.neighbor_id AS a, c2.neighbor_id AS b,
       |             floor(list_dot_product(ea.ee, eb.ee) /
       |                   (sqrt(list_dot_product(ea.ee, ea.ee)) * sqrt(list_dot_product(eb.ee, eb.ee)))
       |                   * 10000.0 + 0.5) / 10000.0 AS psim
       |      FROM cand c1
       |      JOIN cand c2 ON c1.query_id = c2.query_id AND c1.neighbor_id <> c2.neighbor_id
       |      JOIN e0 ea ON ea.vec_id = c1.neighbor_id
       |      JOIN e0 eb ON eb.vec_id = c2.neighbor_id),
       |""".stripMargin + mmrGreedyTail(AnnOps.ServeK)

  /** Exact decimal sum surfaced as double — mirror of Tables.dsum. */
  private def dsum(c: String) = s"CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE)"

  private val shingleCte =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |         SELECT doc_id,
      |                unnest([array_to_string(words[i:i+2], ' ')
      |                        for i in generate_series(1, len(words) - 2)]) AS shingle
      |         FROM w WHERE len(words) >= 3))""".stripMargin

  private def minhashSelect =
    (0 until 8).map { i =>
      val (salt, slice) = (i / 4, i % 4)
      s"min(substr(md5('$salt:' || shingle), ${1 + 8 * slice}, 8)) AS mh$i"
    }.mkString(", ")

  private val jaccardTail =
    """cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.a, c.b, count(*) AS inter_ct
      |          FROM cand c
      |          JOIN sh sa ON sa.doc_id = c.a
      |          JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
      |          GROUP BY c.a, c.b)
      |SELECT i.a AS doc_a, i.b AS doc_b, i.inter_ct,
      |       ca.n + cb.n - i.inter_ct AS union_ct,
      |       floor(i.inter_ct * 10000.0 / (ca.n + cb.n - i.inter_ct) + 0.5) / 10000.0 AS jaccard
      |FROM inter i JOIN cnt ca ON ca.doc_id = i.a JOIN cnt cb ON cb.doc_id = i.b""".stripMargin

  /** t12's full rule battery — shared by the t12 entry and c4's text gate. */
  private val t12GopherSql =
    """WITH s AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |         string_split(text, chr(10)) AS l,
      |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS char_ct,
      |         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
      |           + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS symbol_ct
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, char_ct, symbol_ct,
      |         CAST(len(w) AS BIGINT) AS n_words,
      |         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
      |         CAST(len(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS stop_ct,
      |         CAST(len(l) AS BIGINT) AS n_lines,
      |         CAST(len(list_filter(l, x -> starts_with(ltrim(x), '-') OR starts_with(ltrim(x), '*')
      |                                      OR starts_with(ltrim(x), '•'))) AS BIGINT) AS bullet_lines,
      |         CAST(len(list_filter(l, x -> ends_with(rtrim(x), '...'))) AS BIGINT) AS ellipsis_lines
      |  FROM s)
      |SELECT doc_id, n_words, char_ct, symbol_ct, alpha_words, stop_ct,
      |       n_lines, bullet_lines, ellipsis_lines,
      |       floor(char_ct * 10000.0 / n_words + 0.5) / 10000.0 AS mean_word_len,
      |       floor(symbol_ct * 10000.0 / n_words + 0.5) / 10000.0 AS symbol_ratio,
      |       n_words >= 50 AND n_words <= 100000 AS r_word_count,
      |       char_ct >= n_words * 3 AND char_ct <= n_words * 10 AS r_mean_word_len,
      |       symbol_ct * 10 <= n_words AS r_symbol_ratio,
      |       bullet_lines * 10 <= n_lines * 9 AS r_bullet_lines,
      |       ellipsis_lines * 10 <= n_lines * 3 AS r_ellipsis_lines,
      |       alpha_words * 10 >= n_words * 8 AS r_alpha_words,
      |       stop_ct >= 2 AS r_stopwords,
      |       (n_words >= 50 AND n_words <= 100000)
      |         AND (char_ct >= n_words * 3 AND char_ct <= n_words * 10)
      |         AND symbol_ct * 10 <= n_words
      |         AND bullet_lines * 10 <= n_lines * 9
      |         AND ellipsis_lines * 10 <= n_lines * 3
      |         AND alpha_words * 10 >= n_words * 8
      |         AND stop_ct >= 2 AS keep
      |FROM g""".stripMargin

  /** m7's pair query — shared by the m7 entry and c4's image
    * canonical-election gate (dropped = any doc_b position). BAND-BOUNDED
    * like the operator itself (and like d8's oracle): 4 bands × 16 bits is
    * pigeonhole-complete for hamming ≤ 3 (3 differing bits can dirty at most
    * 3 of 4 bands, so every qualifying pair shares a clean band), so the
    * candidate join replaces the former all-pairs per-bit GROUP BY exactly —
    * same rows, oracle cost follows candidates, not n². (The brute-force
    * form spilled >78 GB in DuckDB at the 4×-replica scale gate; this one
    * rides the same replication math as the operator.)
    */
  private val m7PhashPairsSql = {
    val hamming64 = (1 to 64).map(i =>
      s"CASE WHEN substr(a.ph, $i, 1) <> substr(b.ph, $i, 1) THEN 1 ELSE 0 END")
      .mkString(" + ")
    val bandKeys = (0 until 4).map(b => s"substr(ph, ${1 + 16 * b}, 16)").mkString(", ")
    s"""WITH ids AS (SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) AS w,
       |                    CAST(1 + doc_id % 48 AS BIGINT) AS h FROM documents),
       |s AS (SELECT doc_id, (i * w) // 8 AS x, (j * h) // 8 AS y, j * 8 + i AS k
       |      FROM ids, unnest(generate_series(0, 7)) u(i),
       |                unnest(generate_series(0, 7)) v(j)),
       |p AS (SELECT doc_id, k, (x * 31 + y * 17 + doc_id) % 16777216 AS pv FROM s),
       |q AS (SELECT doc_id, k,
       |             (pv // 65536) + ((pv // 256) % 256) + (pv % 256) AS gray FROM p),
       |t AS (SELECT doc_id, sum(gray) AS total FROM q GROUP BY doc_id),
       |bits AS (SELECT q.doc_id, q.k,
       |                CASE WHEN q.gray * 64 > t.total THEN 1 ELSE 0 END AS bit
       |         FROM q JOIN t USING (doc_id)),
       |ph AS (SELECT doc_id,
       |              string_agg(CAST(bit AS VARCHAR), '' ORDER BY k) AS ph
       |       FROM bits GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS band,
       |                 unnest([$bandKeys]) AS bkey FROM ph),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT cand.doc_a, cand.doc_b, CAST($hamming64 AS BIGINT) AS hamming
       |  FROM cand JOIN ph a ON a.doc_id = cand.doc_a
       |            JOIN ph b ON b.doc_id = cand.doc_b)
       |WHERE hamming <= 3""".stripMargin
  }

  /** m8's fingerprint-group query — shared by the m8 entry and c4's audio
    * keeper gate.
    */
  private val m8AudioFpSql =
    """WITH s AS (SELECT doc_id, abs(((doc_id * 31 + i * 17) % 256) - 128) AS a,
      |                  i // 64 AS frame
      |           FROM documents, unnest(generate_series(0, 127)) u(i)
      |           WHERE n_chars >= 128),
      |f AS (SELECT doc_id, frame, sum(a) AS sum_abs FROM s GROUP BY doc_id, frame),
      |k AS (SELECT doc_id,
      |             string_agg(CAST(sum_abs AS VARCHAR), ',' ORDER BY frame) AS prefix_key
      |      FROM f GROUP BY doc_id)
      |SELECT prefix_key, min(doc_id) AS keeper_id,
      |       CAST(count(*) AS BIGINT) AS dup_ct
      |FROM k GROUP BY prefix_key""".stripMargin

  private val simhashSums = (1 to 16).map(j =>
    s"sum(CASE WHEN substr(md5(word), $j, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS s$j")
    .mkString(", ")
  private val simhashConcat = (1 to 16).map(j =>
    s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END").mkString(" || ")

  /** 16-bit int from the first 4 hex chars of column `h` — the DuckDB mirror
    * of CurationOps.hashBucket (Spark-side `conv(substr(md5, 1, 4), 16, 10)`).
    */
  private def hex16(h: String): String = {
    def d(i: Int) = s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1)"
    s"(((${d(1)} * 16 + ${d(2)}) * 16 + ${d(3)}) * 16 + ${d(4)})"
  }

  /** Shared CTE chain ending in `fps(doc_id, fp)` — the DuckDB mirror of
    * DedupOps.winnowFingerprints (ONE definition; d9 and d15 both ride it,
    * so the winnowing convention cannot drift between their oracles).
    */
  private def winnowFpsCte: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |g AS (SELECT doc_id, [array_to_string(words[i:i+2], ' ')
       |                      for i in generate_series(1, len(words) - 2)] AS grams
       |      FROM w WHERE len(words) >= 3),
       |h AS (SELECT doc_id, [${hex16("md5(x)")} for x in grams] AS hashes FROM g),
       |s AS (SELECT doc_id,
       |             [list_aggregate(hashes[i:i+3], 'min')
       |              for i in generate_series(1, greatest(1, len(hashes) - 3))] AS sels
       |      FROM h),
       |fps AS (SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp
       |        FROM (SELECT doc_id, unnest(sels) AS fp FROM s))""".stripMargin

  /** 0-based md5(text) digest byte as a DuckDB int expression — the oracle
    * mirror of the m1/v1/m3 fake decoder's digest arithmetic (ONE
    * definition; three queries share it, so the convention cannot drift).
    */
  /** dq3's per-column profile battery over an arbitrary relation — the ONE
    * oracle definition of the profile shape; dq8 applies it to both l3
    * snapshots, so the profile convention cannot drift between the two.
    */
  private def profileSql(rel: String): String = {
    def one(c: String, named: Boolean) = {
      def as(a: String) = if (named) s" AS $a" else ""
      s"""SELECT '$c'${as("col_name")}, CAST(count(*) AS BIGINT)${as("n_rows")},
         |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)${as("null_ct")},
         |       CAST(count(DISTINCT $c) AS BIGINT)${as("distinct_ct")},
         |       CAST(min($c) AS VARCHAR)${as("min_val")},
         |       CAST(max($c) AS VARCHAR)${as("max_val")}
         |FROM $rel""".stripMargin
    }
    val cols = Seq("lang", "source", "n_chars")
    (one(cols.head, named = true) +: cols.tail.map(one(_, named = false)))
      .mkString("\nUNION ALL\n")
  }

  private def hexByteSql(i: Int): String =
    s"((strpos('0123456789abcdef', substr(md5(text), ${2 * i + 1}, 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', substr(md5(text), ${2 * i + 2}, 1)) - 1))"

  /** DuckDB expression applying [[graft.operators.CurationOps.DemoBpeMerges]]
    * to a `word` column via the shared double-space symbol-string convention
    * — the single source both t10 and s8 fold from.
    */
  private val bpeAppliedSql: String = {
    val spaced = "'  ' || array_to_string(string_split(word, ''), '  ') || '  '"
    graft.operators.CurationOps.DemoBpeMerges.foldLeft(spaced) {
      case (s, (a, b)) => s"replace($s, ' $a  $b ', ' $a$b ')"
    }
  }

  /** Shared d10/d11 oracle machinery: the d3 LSH pair pipeline thresholded at
    * 0.7 quantized Jaccard (the same pair set the c2 capstone removes), then
    * an undirected TRANSITIVE CLOSURE via `WITH RECURSIVE` — cluster_id =
    * min doc_id reachable, exactly the min-label fixpoint Spark's iterative
    * `connectedComponents` converges to. DuckDB's recursive UNION has set
    * semantics, so the closure terminates without an iteration cap.
    */
  private def clusterSql(select: String): String =
    s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sig AS (SELECT doc_id, $minhashSelect FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, 0 AS band, mh0 || mh1 AS bkey FROM sig
       |          UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
       |          UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
       |          UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.a, c.b, count(*) AS inter_ct
       |          FROM cand c
       |          JOIN sh sa ON sa.doc_id = c.a
       |          JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
       |          GROUP BY c.a, c.b),
       |edges AS (SELECT i.a, i.b
       |          FROM inter i JOIN cnt ca ON ca.doc_id = i.a
       |                       JOIN cnt cb ON cb.doc_id = i.b
       |          WHERE floor(i.inter_ct * 10000.0 / (ca.n + cb.n - i.inter_ct) + 0.5)
       |                / 10000.0 >= 0.7),
       |und AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b, a FROM edges),
       |reach(root, node) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.root, u.dst FROM reach r JOIN und u ON u.src = r.node
       |),
       |cl AS (SELECT root AS doc_id, min(node) AS cluster_id FROM reach GROUP BY root)
       |$select""".stripMargin

  /** t17's oracle, generated from the SAME threshold tables the operator
    * folds from ([[graft.operators.TextOps.TopGramThresholds]] /
    * [[DupGramThresholds]]) so the two sides cannot drift: per n, DuckDB
    * restates the gram window (`ws[i:i+n-1]` space-joined), per-(doc, gram)
    * counts, then either the top gram by (ct DESC, gram ASC) × its length
    * (top rows) or Σ ct·len over grams with ct ≥ 2 (dup rows); docs whose
    * gram list is empty LEFT-JOIN back as 0, matching the operator's fold
    * over an empty array.
    */
  private def t17Sql: String = {
    import graft.operators.TextOps.{DupGramThresholds, TopGramThresholds}
    val gramCte = (n: Int) =>
      s"""c$n AS (SELECT doc_id, gram, count(*) AS ct FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - $n + 2),
         |         i -> array_to_string(ws[i:i+${n - 1}], ' '))) AS gram FROM w)
         |  GROUP BY 1, 2)""".stripMargin
    val topCtes = TopGramThresholds.map { case (n, _) =>
      s"""${gramCte(n)},
         |t$n AS (SELECT doc_id, CAST(ct * len(gram) AS BIGINT) AS top${n}_chars FROM (
         |  SELECT doc_id, gram, ct,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY ct DESC, gram ASC) AS rn
         |  FROM c$n) WHERE rn = 1)""".stripMargin
    }
    val dupCtes = DupGramThresholds.map { case (n, _) =>
      s"""${gramCte(n)},
         |d$n AS (SELECT doc_id,
         |  CAST(COALESCE(SUM(CASE WHEN ct >= 2 THEN ct * len(gram) END), 0) AS BIGINT)
         |    AS dup${n}_chars
         |  FROM c$n GROUP BY 1)""".stripMargin
    }
    val prefixes = TopGramThresholds.map(t => s"top${t._1}") ++
      DupGramThresholds.map(t => s"dup${t._1}")
    val charCols = prefixes
      .map(p => s"CAST(COALESCE(${p}_chars, 0) AS BIGINT) AS ${p}_chars")
    val fracCols = prefixes.map(p =>
      s"floor(COALESCE(${p}_chars, 0) * 10000.0 / n_chars + 0.5) / 10000.0 AS ${p}_frac")
    val flag = (TopGramThresholds ++ DupGramThresholds)
      .zip(prefixes)
      .map { case ((_, thr), p) => s"COALESCE(${p}_chars, 0) * 100 > n_chars * $thr" }
      .mkString("(", " OR ", ") AS flagged")
    val joins = (TopGramThresholds.map(t => s"t${t._1}") ++
      DupGramThresholds.map(t => s"d${t._1}"))
      .map(a => s"LEFT JOIN $a USING (doc_id)").mkString("\n")
    s"""WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws
       |           FROM documents WHERE n_chars > 0),
       |base AS (SELECT doc_id, n_chars, CAST(len(ws) AS BIGINT) AS n_words FROM w),
       |${(topCtes ++ dupCtes).mkString(",\n")}
       |SELECT doc_id, n_words, n_chars,
       |${(charCols ++ fracCols).mkString(",\n")},
       |$flag
       |FROM base
       |$joins""".stripMargin
  }

  private val cosineCommon =
    """q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      |      FROM embeddings WHERE vec_id < %QLIM%),
      |e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
      |      FROM embeddings)""".stripMargin

  /** n10's IVF×SQ8 pipeline stated verbatim through the exact rerank
    * (CTEs e0…rer: 6-dp exact-mean label-seeded centroids, 4-dp-quantized
    * geometric reassignment + probe selection, n9's integer-dot candidate
    * scan over the 3 probed cells, n1 float rerank) — shared VERBATIM by
    * the n10 gate (rnk ≤ 5 tail) and c5's serving oracle (the full
    * cand=20 reranked list becomes the MMR pool).
    */
  /** The coarse-quantizer PREFIX of [[ivfSq8Rer]] (CTEs e0…asg: 6-dp
    * exact-mean label-seeded centroids, 4-dp-quantized geometric
    * reassignment) — shared verbatim by n10/c5's search oracle and s14's
    * cluster-balanced sampler, exactly as the operators share the memoized
    * [[graft.operators.AnnOps.seededCellAssign]] quantizer.
    */
  private val ivfAsgPrefix: String =
    """e0 AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
        |            FROM embeddings),
        |ex AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
        |              unnest(embedding) AS v
        |       FROM embeddings),
        |cm AS (SELECT label AS cell, dim,
        |              floor(CAST(sum(CAST(floor(CAST(v AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |                    / count(*) + 0.5) / 1000000.0 AS m
        |       FROM ex GROUP BY label, dim),
        |cents AS (SELECT cell, list(m ORDER BY dim) AS c FROM cm GROUP BY cell),
        |asg AS (SELECT vec_id, cell FROM (
        |          SELECT e0.vec_id, cents.cell,
        |                 row_number() OVER (PARTITION BY e0.vec_id
        |                   ORDER BY floor((2*list_dot_product(e0.ee, cents.c)
        |                                   - list_dot_product(cents.c, cents.c))
        |                                  * 10000.0 + 0.5) DESC, cents.cell) AS r
        |          FROM e0, cents) WHERE r = 1)""".stripMargin

  private val ivfSq8Rer: String = ivfAsgPrefix + ",\n" +
    s"""qz AS (SELECT vec_id, ee, list_max(list_transform(ee, x -> abs(x))) AS scale FROM e0),
        |qz2 AS (SELECT vec_id, ee,
        |               list_transform(ee, x -> CASE WHEN scale > 0
        |                   THEN CAST(floor(x * 127.0 / scale + 0.5) AS DOUBLE)
        |                   ELSE CAST(0 AS DOUBLE) END) AS qv
        |        FROM qz),
        |qz3 AS (SELECT q2.vec_id, a.cell, q2.ee, q2.qv,
        |               list_dot_product(q2.qv, q2.qv) AS qn
        |        FROM qz2 q2 JOIN asg a ON a.vec_id = q2.vec_id),
        |q AS (SELECT vec_id AS query_id, ee AS qe, qv AS qq, qn AS qqn
        |      FROM qz3 WHERE vec_id < 10),
        |pr AS (SELECT query_id, cell FROM (
        |         SELECT q.query_id, cents.cell,
        |                row_number() OVER (PARTITION BY q.query_id
        |                  ORDER BY floor((2*list_dot_product(q.qe, cents.c)
        |                                  - list_dot_product(cents.c, cents.c))
        |                                 * 10000.0 + 0.5) DESC, cents.cell) AS r
        |         FROM q, cents) WHERE r <= ${AnnOps.ServeNProbe}),
        |cands AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |                 CASE WHEN q.qqn = 0 OR e.qn = 0 THEN 0.0
        |                      ELSE floor(list_dot_product(q.qq, e.qv) / sqrt(q.qqn * e.qn)
        |                                 * 10000.0 + 0.5) / 10000.0 END AS approx_sim
        |          FROM pr JOIN q USING (query_id)
        |               JOIN qz3 e ON e.cell = pr.cell
        |          WHERE e.vec_id <> q.query_id),
        |top AS (SELECT query_id, neighbor_id, approx_sim FROM (
        |          SELECT query_id, neighbor_id, approx_sim,
        |                 row_number() OVER (PARTITION BY query_id
        |                   ORDER BY approx_sim DESC, neighbor_id) AS crnk
        |          FROM cands) WHERE crnk <= ${AnnOps.ServePool}),
        |rer AS (SELECT t.query_id, t.neighbor_id, t.approx_sim,
        |               floor(list_dot_product(q.qe, e.ee) /
        |                     (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(e.ee, e.ee)))
        |                     * 10000.0 + 0.5) / 10000.0 AS sim
        |        FROM top t JOIN qz3 e ON e.vec_id = t.neighbor_id
        |             JOIN q ON q.query_id = t.query_id)""".stripMargin

  /** n14's kNN graph stated verbatim — [[ivfAsgPrefix]]'s quantizer, then
    * per-VECTOR nProbe probe lists by the same 4-dp integer cell scores,
    * n1's exact 4-dp cosine within probed cells only, and a per-vector
    * top-k with ties to the lower neighbor id. Shared by the n14 gate and
    * dq9's density outliers, exactly as the operators share the memoized
    * [[graft.operators.AnnOps.knnJoin]] graph.
    */
  private val knnGraphSql: String = ivfAsgPrefix + ",\n" +
    s"""pr AS (SELECT vec_id, cell FROM (
       |         SELECT e0.vec_id, cents.cell,
       |                row_number() OVER (PARTITION BY e0.vec_id
       |                  ORDER BY floor((2*list_dot_product(e0.ee, cents.c)
       |                                  - list_dot_product(cents.c, cents.c))
       |                                 * 10000.0 + 0.5) DESC, cents.cell) AS r
       |         FROM e0, cents) WHERE r <= ${AnnOps.ServeNProbe}),
       |cands AS (SELECT p.vec_id, n.vec_id AS neighbor_id,
       |                 floor(list_dot_product(q.ee, n.ee) /
       |                       (sqrt(list_dot_product(q.ee, q.ee)) *
       |                        sqrt(list_dot_product(n.ee, n.ee)))
       |                       * 10000.0 + 0.5) / 10000.0 AS sim
       |          FROM pr p
       |          JOIN e0 q ON q.vec_id = p.vec_id
       |          JOIN asg a ON a.cell = p.cell
       |          JOIN e0 n ON n.vec_id = a.vec_id
       |          WHERE n.vec_id <> p.vec_id),
       |knn AS (SELECT vec_id, neighbor_id, rnk, sim FROM (
       |          SELECT vec_id, neighbor_id, sim,
       |                 row_number() OVER (PARTITION BY vec_id
       |                   ORDER BY sim DESC, neighbor_id) AS rnk
       |          FROM cands) WHERE rnk <= ${AnnOps.ServeK})""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "p1_json_parse" ->
      s"""SELECT event_id,
         |       TRY_CAST(json_extract_string(props, '$$.k') AS INTEGER) AS prop_k,
         |       TRY_CAST(json_extract_string(props, '$$.k') AS INTEGER) AS prop_k_map
         |FROM events
         |WHERE TRY_CAST(json_extract_string(props, '$$.k') AS INTEGER) IS NOT NULL""".stripMargin,
    "p3_cdc_filter" ->
      """SELECT event_id, 'events' AS table_name,
        |       CASE event_type WHEN 'signup' THEN 'insert'
        |                       WHEN 'click' THEN 'update'
        |                       ELSE 'insert' END AS op
        |FROM events WHERE event_type <> 'error'""".stripMargin,
    "p4_log_split" ->
      """SELECT event_id, event_type,
        |       CASE WHEN event_type = 'signup' THEN 'start'
        |            WHEN event_type = 'view' THEN 'display'
        |            ELSE 'page' END AS branch
        |FROM events""".stripMargin,
    "p5_scan_project" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
    "p6_config_router" ->
      """SELECT event_id, event_type, sink_type, sink_table
        |FROM events
        |JOIN (VALUES ('purchase','kafka','dwd_order_info'),
        |             ('click','kafka','dwd_page_log'),
        |             ('view','kafka','dwd_display_log'),
        |             ('signup','hbase','dim_user_info'))
        |     AS cfg(event_type, sink_type, sink_table) USING (event_type)""".stripMargin,
    "p9_normalize_union" ->
      s"""SELECT event_id, 'order_amount' AS metric_type,
         |       CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS metric
         |FROM events WHERE event_type = 'purchase'
         |UNION ALL
         |SELECT event_id, 'click_ct', CAST(1.0 AS DOUBLE) FROM events WHERE event_type = 'click'
         |UNION ALL
         |SELECT event_id, 'uv_ct', CAST(1.0 AS DOUBLE) FROM events WHERE event_type = 'signup'""".stripMargin,
    "x1_tokenize" ->
      """SELECT doc_id, pos, word FROM (
        |  SELECT doc_id,
        |         unnest(generate_series(1, len(words))) - 1 AS pos,
        |         unnest(words) AS word
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |        WHERE doc_id < 50))
        |WHERE len(word) > 0""".stripMargin,
    "j1_interval_join_order" ->
      """SELECT o_orderkey, l_linenumber, l_quantity,
        |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM orders JOIN lineitem
        |  ON o_orderkey = l_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY""".stripMargin,
    "j2_interval_join_payment" ->
      s"""SELECT p.user_id, p.payment_id, o.order_id
         |FROM (SELECT user_id, event_id AS payment_id, $EV AS pay_ts
         |      FROM events WHERE event_type = 'purchase') p
         |JOIN (SELECT user_id, event_id AS order_id, $EV AS order_ts
         |      FROM events WHERE event_type = 'signup') o
         |  ON p.user_id = o.user_id
         | AND o.order_ts >= p.pay_ts - INTERVAL 24 HOUR
         | AND o.order_ts <= p.pay_ts + INTERVAL 1 HOUR""".stripMargin,
    "j3_dim_enrich" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment,
        |       n_name AS nation_name, r_name AS region_name, o_totalprice,
        |       CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acct_tier
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    // j4: the native as-of join vs DuckDB's built-in ASOF LEFT JOIN —
    // largest view ts <= click ts per user, inclusive bound, left-outer.
    "j4_asof_native" ->
      s"""WITH c AS (SELECT user_id, event_id AS click_id, $EV AS cts
         |           FROM events WHERE event_type = 'click'),
         |v AS (SELECT user_id, $EV AS vts, max(event_id) AS view_id
         |      FROM events WHERE event_type = 'view' GROUP BY user_id, $EV)
         |SELECT c.click_id, c.user_id, epoch_us(c.cts) AS click_ts_us,
         |       v.view_id, epoch_us(v.vts) AS view_ts_us
         |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.cts >= v.vts""".stripMargin,
    // j6: nearest = windowed argmin over the per-user candidate set by
    // |Δus| with backward (v.us <= c.us) winning ties — DuckDB states the
    // semantics directly; Spark composes two directional asof passes.
    "j6_asof_nearest" ->
      s"""WITH c AS (SELECT user_id, event_id AS click_id, epoch_us($EV) AS us
         |           FROM events WHERE event_type = 'click'),
         |v AS (SELECT user_id, max(event_id) AS view_id, epoch_us($EV) AS us
         |      FROM events WHERE event_type = 'view' GROUP BY user_id, $EV),
         |j AS (SELECT c.click_id, v.view_id, v.us AS view_us,
         |             CASE WHEN v.us <= c.us THEN 0 ELSE 1 END AS fwd,
         |             row_number() OVER (PARTITION BY c.click_id
         |               ORDER BY abs(v.us - c.us),
         |                        CASE WHEN v.us <= c.us THEN 0 ELSE 1 END) AS rn
         |      FROM c JOIN v ON v.user_id = c.user_id)
         |SELECT c.click_id, c.user_id, c.us AS click_us, j.view_id, j.view_us,
         |       CASE WHEN j.view_us IS NULL THEN NULL
         |            WHEN j.fwd = 1 THEN 'forward' ELSE 'backward' END AS direction
         |FROM c LEFT JOIN j ON j.click_id = c.click_id AND j.rn = 1""".stripMargin,
    // j5: j4 + a 48h staleness tolerance — ASOF pick, then null out matches
    // older than the bound (the latest match rejected => all older rejected).
    "j5_asof_tolerance" ->
      s"""WITH c AS (SELECT user_id, event_id AS click_id, $EV AS cts
         |           FROM events WHERE event_type = 'click'),
         |v AS (SELECT user_id, $EV AS vts, max(event_id) AS view_id
         |      FROM events WHERE event_type = 'view' GROUP BY user_id, $EV),
         |j AS (SELECT c.click_id, c.user_id, c.cts, v.view_id, v.vts
         |      FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.cts >= v.vts)
         |SELECT click_id, user_id, epoch_us(cts) AS click_ts_us,
         |       CASE WHEN vts IS NOT NULL AND epoch_us(cts) - epoch_us(vts) <= 172800000000
         |            THEN view_id END AS view_id,
         |       CASE WHEN vts IS NOT NULL AND epoch_us(cts) - epoch_us(vts) <= 172800000000
         |            THEN epoch_us(vts) END AS view_ts_us
         |FROM j""".stripMargin,
    "a1_visitor_stats" ->
      s"""SELECT strftime(date_trunc('hour', $EV), '%Y-%m-%d %H:%M:%S') AS stt,
         |       strftime(date_trunc('hour', $EV) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
         |       event_type AS ch,
         |       count(*) AS pv_ct,
         |       count(DISTINCT user_id) AS uv_ct,
         |       ${dsum("value")} AS dur_sum
         |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "a2_product_stats" ->
      s"""SELECT user_id,
         |       count(*) FILTER (WHERE event_type = 'click') AS click_ct,
         |       count(*) FILTER (WHERE event_type = 'view') AS display_ct,
         |       count(*) FILTER (WHERE event_type = 'purchase') AS paid_ct,
         |       count(*) FILTER (WHERE event_type = 'error') AS refund_ct,
         |       CAST(sum(CASE WHEN event_type = 'purchase'
         |                THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS order_amount,
         |       count(DISTINCT CASE WHEN event_type = 'purchase' THEN event_id END) AS order_ct
         |FROM events GROUP BY user_id""".stripMargin,
    "a3_province_stats" ->
      s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS stt,
         |       strftime(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH, '%Y-%m-%d %H:%M:%S') AS edt,
         |       n_nationkey AS province_id, n_name AS province_name,
         |       count(DISTINCT o_orderkey) AS order_count,
         |       ${dsum("o_totalprice")} AS order_amount
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1, 2, 3, 4""".stripMargin,
    "a4_keyword_stats" ->
      """SELECT keyword, count(*) AS ct, 'search' AS source
        |FROM (SELECT unnest(string_split(text, ' ')) AS keyword FROM documents)
        |WHERE len(keyword) > 0 GROUP BY keyword""".stripMargin,
    "a5_unique_visit" ->
      s"""SELECT user_id, visit_date, event_id FROM (
         |  SELECT user_id, strftime($EV, '%Y-%m-%d') AS visit_date, event_id,
         |         row_number() OVER (PARTITION BY user_id, strftime($EV, '%Y-%m-%d')
         |                            ORDER BY $EV, event_id) AS rn
         |  FROM events) WHERE rn = 1""".stripMargin,
    "a6_new_visitor_fix" ->
      s"""SELECT event_id, user_id, CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_new FROM (
         |  SELECT event_id, user_id,
         |         row_number() OVER (PARTITION BY user_id ORDER BY $EV, event_id) AS rn
         |  FROM events)""".stripMargin,
    // dq2: PSI terms restated with the SAME pinned association — the ln
    // DECOMPOSED over the four counts (ln(inc)-ln(ni)-ln(hist)+ln(nh), so
    // no int64 product can overflow at large counts), (p-q)*ln quantized
    // at 4dp like t13
    "dq2_drift_psi" ->
      """WITH i AS (SELECT lang, CAST(count(*) AS BIGINT) AS inc_ct
        |           FROM documents WHERE doc_id % 2 = 1 GROUP BY lang),
        |h AS (SELECT lang, CAST(count(*) AS BIGINT) AS hist_ct
        |      FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
        |ni AS (SELECT CAST(sum(inc_ct) AS BIGINT) AS ni FROM i),
        |nh AS (SELECT CAST(sum(hist_ct) AS BIGINT) AS nh FROM h)
        |SELECT i.lang, i.inc_ct, h.hist_ct,
        |       floor(CAST(i.inc_ct AS DOUBLE) / ni.ni * 10000.0 + 0.5) / 10000.0 AS inc_share,
        |       floor(CAST(h.hist_ct AS DOUBLE) / nh.nh * 10000.0 + 0.5) / 10000.0 AS hist_share,
        |       floor((CAST(i.inc_ct AS DOUBLE) / ni.ni - CAST(h.hist_ct AS DOUBLE) / nh.nh)
        |             * (ln(CAST(i.inc_ct AS DOUBLE)) - ln(CAST(ni.ni AS DOUBLE))
        |                - ln(CAST(h.hist_ct AS DOUBLE)) + ln(CAST(nh.nh AS DOUBLE)))
        |             * 10000.0 + 0.5) / 10000.0 AS psi_term
        |FROM i JOIN h USING (lang) CROSS JOIN ni CROSS JOIN nh""".stripMargin,
    // dq3: per-column profile restated column by column; min/max compare in
    // the column's own type, then render as VARCHAR for the uniform row
    "dq3_column_profile" -> profileSql("documents"),
    // dq8: per-column profile drift between l3's two snapshots — dq3's
    // battery over each side (ONE profileSql definition serves both
    // oracles), report-sized join, integer cross-product thresholds
    "dq8_profile_drift" ->
      s"""WITH v1 AS (SELECT * FROM documents WHERE doc_id % 5 != 4),
         |v2 AS (SELECT * FROM documents WHERE doc_id % 7 != 6),
         |p1 AS (${profileSql("v1")}),
         |p2 AS (${profileSql("v2")})
         |SELECT col_name, p1.n_rows AS rows_v1, p2.n_rows AS rows_v2,
         |       p2.n_rows - p1.n_rows AS row_delta,
         |       floor(p1.null_ct * 10000.0 / p1.n_rows + 0.5) / 10000.0 AS null_rate_v1,
         |       floor(p2.null_ct * 10000.0 / p2.n_rows + 0.5) / 10000.0 AS null_rate_v2,
         |       p1.distinct_ct AS distinct_v1, p2.distinct_ct AS distinct_v2,
         |       floor(p2.distinct_ct * 10000.0 / p1.distinct_ct + 0.5) / 10000.0
         |         AS distinct_ratio,
         |       p1.min_val != p2.min_val AS min_changed,
         |       p1.max_val != p2.max_val AS max_changed,
         |       (p2.distinct_ct * 2 < p1.distinct_ct
         |        OR p2.distinct_ct > p1.distinct_ct * 2
         |        OR abs(p2.null_ct * p1.n_rows - p1.null_ct * p2.n_rows) * 10
         |           > p1.n_rows * p2.n_rows
         |        OR p1.min_val != p2.min_val
         |        OR p1.max_val != p2.max_val) AS drifted
         |FROM p1 JOIN p2 USING (col_name)""".stripMargin,
    // dq5: stream max/lag/volumes vs the table max — all integer micros
    "dq5_freshness" ->
      s"""WITH e AS (SELECT event_type, epoch_us($EV) AS us FROM events),
         |r AS (SELECT max(us) AS ref_us FROM e)
         |SELECT event_type, max(us) AS last_us,
         |       r.ref_us - max(us) AS lag_us,
         |       CAST(count(*) AS BIGINT) AS total_events,
         |       CAST(sum(CASE WHEN us > r.ref_us - 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS events_last_day
         |FROM e, r GROUP BY event_type, r.ref_us""".stripMargin,
    // a14: the attribution chain restated — j1 candidate join, two
    // tie-broken row_number windows, decimal revenue (the rfm convention)
    "a14_attribution" ->
      s"""WITH v AS (SELECT user_id, event_id AS v_id, epoch_us($EV) AS v_us,
         |                  TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) % 5 AS channel
         |           FROM events WHERE event_type = 'view'
         |             AND TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |p AS (SELECT user_id, event_id AS p_id, epoch_us($EV) AS p_us, value
         |      FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT p.p_id, p.value, v.channel, v.v_us, v.v_id
         |      FROM p JOIN v USING (user_id)
         |      WHERE v.v_us <= p.p_us AND v.v_us > p.p_us - 86400000000),
         |m AS (SELECT channel, value,
         |             row_number() OVER (PARTITION BY p_id ORDER BY v_us, v_id) AS rnf,
         |             row_number() OVER (PARTITION BY p_id ORDER BY v_us DESC, v_id DESC) AS rnl,
         |             count(*) OVER (PARTITION BY p_id) AS n_t
         |      FROM c),
         |w AS (SELECT channel, value, rnf, rnl, n_t,
         |             CASE WHEN n_t = 1 THEN 1.0
         |                  WHEN n_t = 2 THEN 0.5
         |                  WHEN rnf = 1 OR rnl = 1 THEN 0.4
         |                  ELSE 0.2 / (n_t - 2) END AS pw
         |      FROM m)
         |SELECT channel,
         |       CAST(sum(CASE WHEN rnf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ft_purchases,
         |       CAST(sum(CASE WHEN rnf = 1 THEN CAST(value AS DECIMAL(18,4))
         |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS ft_revenue,
         |       CAST(sum(CASE WHEN rnl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lt_purchases,
         |       CAST(sum(CASE WHEN rnl = 1 THEN CAST(value AS DECIMAL(18,4))
         |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS lt_revenue,
         |       CAST(sum(CAST(value / n_t AS DECIMAL(18,4))) AS DOUBLE) AS lin_revenue,
         |       CAST(sum(CAST(value * pw AS DECIMAL(18,4))) AS DOUBLE) AS pos_revenue
         |FROM w
         |GROUP BY channel""".stripMargin,
    // dq6: identical day-index / shift-invariant variance arithmetic —
    // integer until the final two divisions + sqrt (both correctly
    // rounded IEEE), so the z-scores are bit-equal before the 4dp round
    "dq6_volume_anomaly" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us($EV) // 86400000000 AS day_idx,
         |         CAST(count(*) AS BIGINT) AS ct
         |  FROM events GROUP BY 1, 2),
         |w AS (
         |  SELECT event_type, day_idx, ct,
         |         count(*) OVER (PARTITION BY event_type) AS days,
         |         sum(ct) OVER (PARTITION BY event_type) AS s
         |  FROM daily),
         |c AS (SELECT *, ct - (s // days) AS dev FROM w),
         |v AS (SELECT *, sum(dev) OVER (PARTITION BY event_type) AS sd1,
         |             sum(dev * dev) OVER (PARTITION BY event_type) AS sd2
         |      FROM c)
         |SELECT event_type, day_idx, ct,
         |       CASE WHEN days < 2 OR days * sd2 - sd1 * sd1 <= 0 THEN 0.0
         |            ELSE round((ct - s / days) /
         |                       sqrt((days * sd2 - sd1 * sd1) /
         |                            (days * (days - 1))), 4) END AS z,
         |       abs(CASE WHEN days < 2 OR days * sd2 - sd1 * sd1 <= 0 THEN 0.0
         |            ELSE round((ct - s / days) /
         |                       sqrt((days * sd2 - sd1 * sd1) /
         |                            (days * (days - 1))), 4) END) > 2.0 AS anomaly
         |FROM v""".stripMargin,
    // t16: the same term-quantized entropy — round(c·ln(c)·1e4) summed as
    // an integer per doc, so summation order and ln ulp drift can't move it
    "t16_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |freq AS (
        |  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
        |  FROM chars GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_cp,
        |         CAST(count(*) AS BIGINT) AS distinct_cp,
        |         sum(CASE WHEN c <= 1 THEN 0
        |                  ELSE round(c * ln(c) * 10000) END) AS scaled
        |  FROM freq GROUP BY 1)
        |SELECT doc_id, n_cp, distinct_cp,
        |       round(ln(n_cp) - scaled / 10000 / n_cp, 4) AS char_entropy,
        |       round(ln(n_cp) - scaled / 10000 / n_cp, 4) < 2.0 AS low_entropy
        |FROM agg""".stripMargin,
    // g12: doc-level source overlap — distinct (source, fp) projection,
    // fp-keyed pair join (fanout bounded by source count), integer until
    // the final 4-dp floor division
    "t17_gopher_repetition" -> t17Sql,
    "g12_source_overlap" ->
      """WITH fps AS (SELECT DISTINCT source, md5(text) AS fp FROM documents),
        |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_fps
        |        FROM fps GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |             CAST(count(*) AS BIGINT) AS shared_fps
        |      FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT ca.source AS source_a, cb.source AS source_b,
        |       coalesce(p.shared_fps, 0) AS shared_fps,
        |       ca.n_fps AS fps_a, cb.n_fps AS fps_b,
        |       floor(coalesce(p.shared_fps, 0) * 10000.0 /
        |             (ca.n_fps + cb.n_fps - coalesce(p.shared_fps, 0)) + 0.5)
        |       / 10000.0 AS jaccard
        |FROM cnt ca JOIN cnt cb ON ca.source < cb.source
        |LEFT JOIN p ON p.source_a = ca.source AND p.source_b = cb.source""".stripMargin,
    // dq7: per-relation orphan counts — a NULL FK references nothing and
    // counts as an orphan on both sides
    "dq7_referential_integrity" -> {
      def rel(name: String, fact: String, fk: String, dim: String,
          pk: String): String =
        s"""SELECT '$name' AS relation,
           |       CAST(count(*) AS BIGINT) AS fact_rows,
           |       CAST(sum(CASE WHEN d.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphans,
           |       CAST(sum(CASE WHEN d.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0 AS ok
           |FROM $fact f LEFT JOIN $dim d ON f.$fk = d.$pk""".stripMargin
      Seq(
        rel("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        rel("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        rel("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        rel("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        rel("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey")
      ).mkString("\nUNION ALL\n")
    },
    // g11: binary user-set cosine — distinct pairs, active-user bound,
    // user-keyed self-join; the score is one integer-fed IEEE division
    "g11_item_similarity" ->
      """WITH ui AS (
        |  SELECT DISTINCT user_id,
        |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |    AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
        |b AS (
        |  SELECT user_id, item FROM ui
        |  QUALIFY count(*) OVER (PARTITION BY user_id) <= 1000),
        |n AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |co AS (
        |  SELECT a.item AS item_a, c.item AS item_b,
        |         CAST(count(*) AS BIGINT) AS co
        |  FROM b a JOIN b c USING (user_id)
        |  WHERE a.item < c.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, co,
        |       co / sqrt(CAST(na.n * nb.n AS DOUBLE)) AS cosine
        |FROM co
        |JOIN n na ON na.item = co.item_a
        |JOIN n nb ON nb.item = co.item_b""".stripMargin,
    // dq4: same grouping, boolean stated as a comparison
    "dq4_k_anonymity" ->
      """SELECT lang, source, CAST(n_chars // 256 AS BIGINT) AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS group_ct,
        |       count(*) < 10 AS at_risk
        |FROM documents GROUP BY 1, 2, 3""".stripMargin,
    // l3: both snapshot manifests restated with the same deterministic
    // construction; full outer join classifies, counts only
    "l3_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents WHERE doc_id % 5 <> 4),
        |v2 AS (SELECT doc_id,
        |              md5(CASE WHEN doc_id % 11 = 3 THEN text || ' rev2' ELSE text END) AS h2
        |       FROM documents WHERE doc_id % 7 <> 6)
        |SELECT status, CAST(count(*) AS BIGINT) AS ct FROM (
        |  SELECT CASE WHEN h1 IS NULL THEN 'added'
        |              WHEN h2 IS NULL THEN 'removed'
        |              WHEN h1 <> h2 THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
        |GROUP BY status""".stripMargin,
    // g10: distinct (source, 3-shingle) sets, pair overlap by shingle join,
    // containment = shared/min quantized at 4dp
    "g10_cross_source" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT DISTINCT source, unnest([array_to_string(words[i:i+2], ' ')
        |                                      for i in generate_series(1, len(words) - 2)]) AS sh
        |      FROM w WHERE len(words) >= 3),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM g GROUP BY source),
        |p AS (SELECT x.source AS source_a, y.source AS source_b,
        |             CAST(count(*) AS BIGINT) AS shared_ct
        |      FROM g x JOIN g y ON x.sh = y.sh AND x.source < y.source
        |      GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.shared_ct,
        |       na.n_sh AS n_a, nb.n_sh AS n_b,
        |       floor(CAST(p.shared_ct AS DOUBLE) / least(na.n_sh, nb.n_sh)
        |             * 10000.0 + 0.5) / 10000.0 AS containment
        |FROM p JOIN n na ON na.source = p.source_a
        |       JOIN n nb ON nb.source = p.source_b""".stripMargin,
    // s13: exact 10% per lang stratum; quota compare stays integer
    // (rnk*10 <= n_s + 9 == rnk <= ceil(n_s/10)), order by salted md5
    "s13_stratified_sample" ->
      """SELECT doc_id, lang, rnk, n_s FROM (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5('s13:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk,
        |         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_s
        |  FROM documents)
        |WHERE rnk * 10 <= n_s + 9""".stripMargin,
    // s14: n10's trained-quantizer prefix (6-dp exact-mean seeded centroids,
    // 4-dp geometric reassignment — the oracle-stateable training) then
    // s13's exact integer quota per CLUSTER in salted-md5 order
    "s14_cluster_balanced_sample" ->
      s"""WITH $ivfAsgPrefix
         |SELECT vec_id, cell, rnk, n_c FROM (
         |  SELECT vec_id, cell,
         |         CAST(row_number() OVER (PARTITION BY cell
         |           ORDER BY md5('s14:' || CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rnk,
         |         CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n_c
         |  FROM asg)
         |WHERE rnk * 10 <= n_c + 9""".stripMargin,
    // dq1: each rule restated as a count; UNION ALL keeps one row per check
    "dq1_quality_checks" ->
      """SELECT 'orders_custkey_not_null' AS check,
        |       CAST(count(*) AS BIGINT) AS violations
        |FROM orders WHERE o_custkey IS NULL
        |UNION ALL
        |SELECT 'orders_fk_customer', CAST(count(*) AS BIGINT)
        |FROM orders o WHERE NOT EXISTS (
        |  SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'lineitem_fk_orders', CAST(count(*) AS BIGINT)
        |FROM lineitem l WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders_pk_unique',
        |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'lineitem_qty_positive', CAST(count(*) AS BIGINT)
        |FROM lineitem WHERE l_quantity <= 0
        |UNION ALL
        |SELECT 'lineitem_discount_domain', CAST(count(*) AS BIGINT)
        |FROM lineitem WHERE l_discount < 0 OR l_discount > 1
        |UNION ALL
        |SELECT 'part_name_unique',
        |       CAST(count(*) - count(DISTINCT p_name) AS BIGINT) FROM part
        |UNION ALL
        |SELECT 'documents_min_length', CAST(count(*) AS BIGINT)
        |FROM documents WHERE n_chars < 64
        |UNION ALL
        |SELECT 'events_props_have_k', CAST(count(*) AS BIGINT)
        |FROM events WHERE json_extract_string(props, '$.k') IS NULL""".stripMargin,
    "a7_ads_sum" ->
      s"""SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
         |       ${dsum("o_totalprice")} AS order_amount,
         |       count(*) AS order_ct
         |FROM orders GROUP BY 1""".stripMargin,
    // a9: gap-based sessionization — new session when a user's inter-event
    // gap exceeds 30 min; output per-session stats, timestamps as integer µs.
    "a9_sessionize" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us($EV) AS us FROM events),
         |m AS (SELECT event_id, user_id, us,
         |             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
         |      FROM e),
         |s AS (SELECT user_id, us,
         |             CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
         |                           THEN 1 ELSE 0 END)
         |                  OVER (PARTITION BY user_id ORDER BY us, event_id
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |               AS session_no
         |      FROM m)
         |SELECT user_id, session_no, count(*) AS event_ct,
         |       min(us) AS session_start_us, max(us) AS session_end_us
         |FROM s GROUP BY 1, 2""".stripMargin,
    // a10: strict-order 24h-windowed funnel — each stage's min is
    // conditional on the previous stage's window min (null condition →
    // null → ignored by min, identical semantics both engines);
    // integer-µs comparisons throughout.
    "a10_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us($EV) AS us FROM events),
         |s1 AS (SELECT user_id, event_type, us,
         |              min(CASE WHEN event_type = 'view' THEN us END)
         |                OVER (PARTITION BY user_id) AS v_us
         |       FROM e),
         |s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us > v_us
         |                          AND us <= v_us + 86400000000 THEN us END)
         |                   OVER (PARTITION BY user_id) AS c_us
         |       FROM s1),
         |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us > c_us
         |                          AND us <= c_us + 86400000000 THEN us END)
         |                   OVER (PARTITION BY user_id) AS p_us
         |       FROM s2),
         |u AS (SELECT user_id, max(v_us) AS v, max(c_us) AS c, max(p_us) AS p
         |      FROM s3 GROUP BY user_id)
         |SELECT count(*) AS users, count(v) AS viewed, count(c) AS clicked,
         |       count(p) AS purchased,
         |       floor(count(c) * 10000.0 / count(v) + 0.5) / 10000.0 AS view_to_click,
         |       floor(count(p) * 10000.0 / count(c) + 0.5) / 10000.0 AS click_to_purchase,
         |       floor(count(p) * 10000.0 / count(v) + 0.5) / 10000.0 AS full_funnel
         |FROM u""".stripMargin,
    // a11: RFM quintiles — ntile(5) with (metric, user_id) tie-breaks so
    // every bucket edge is deterministic; "now" is the corpus-max event
    // time; monetary is the decimal-cast sum (order-proof).
    "a11_rfm" ->
      s"""WITH p AS (SELECT user_id, epoch_us($EV) AS us, value FROM events
         |           WHERE event_type = 'purchase'),
         |ref AS (SELECT max(epoch_us($EV)) AS ref_us FROM events),
         |u AS (SELECT user_id, max(us) AS last_us, count(*) AS frequency,
         |             ${dsum("value")} AS monetary
         |      FROM p GROUP BY user_id),
         |s AS (SELECT u.*, ref.ref_us,
         |             (ref.ref_us - u.last_us) // 86400000000 AS recency_days
         |      FROM u, ref)
         |SELECT user_id, recency_days, frequency, monetary,
         |       ntile(5) OVER (ORDER BY last_us, user_id) AS r,
         |       ntile(5) OVER (ORDER BY frequency, user_id) AS f,
         |       ntile(5) OVER (ORDER BY monetary, user_id) AS m,
         |       CAST(ntile(5) OVER (ORDER BY last_us, user_id) * 100
         |            + ntile(5) OVER (ORDER BY frequency, user_id) * 10
         |            + ntile(5) OVER (ORDER BY monetary, user_id) AS INTEGER) AS rfm_code
         |FROM s""".stripMargin,
    // a13: DAU / trailing-7-day WAU / stickiness — the trailing window is a
    // 7-way offset explode of distinct (user, day), so the range distinct
    // is two plain distincts; integer epoch-days, 4dp ratio.
    "a13_rolling_active" ->
      s"""WITH d AS (SELECT DISTINCT user_id, epoch_us($EV) // 86400000000 AS day
         |           FROM events),
         |dau AS (SELECT day, count(*) AS dau FROM d GROUP BY day),
         |vis AS (SELECT DISTINCT user_id, day + o AS vday
         |        FROM d, unnest(range(0, 7)) AS u(o)),
         |wau AS (SELECT vday AS day, count(*) AS wau FROM vis GROUP BY vday)
         |SELECT day, dau, wau,
         |       floor(dau * 10000.0 / wau + 0.5) / 10000.0 AS stickiness
         |FROM dau JOIN wau USING (day)""".stripMargin,
    // a12: clickstream transition matrix — lag per user on (us, event_id),
    // sequence starts from '_start', probabilities 4dp row-normalized.
    "a12_event_transitions" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us($EV) AS us
         |           FROM events),
         |t AS (SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
         |                        ORDER BY us, event_id), '_start') AS prev_type,
         |             event_type AS next_type
         |      FROM e),
         |c AS (SELECT prev_type, next_type, count(*) AS ct
         |      FROM t GROUP BY 1, 2),
         |r AS (SELECT prev_type, CAST(sum(ct) AS BIGINT) AS row_total
         |      FROM c GROUP BY prev_type)
         |SELECT c.prev_type, c.next_type, c.ct, r.row_total,
         |       floor(c.ct * 10000.0 / r.row_total + 0.5) / 10000.0 AS prob
         |FROM c JOIN r USING (prev_type)""".stripMargin,
    // g7: PageRank — five unrolled rounds of integer-unit rank flow over
    // the props.k transition graph (see pagerankSql).
    "g7_pagerank" -> pagerankSql(5),
    // g13: synchronous label propagation — 4 unrolled rounds, argmax by
    // (summed incident weight desc, label asc); same edge rollup as g8
    "g13_label_prop" -> labelPropSql(4),
    // g8: the same orientation scheme stated in SQL — each triangle
    // {p<q<r by (deg,id)} closes exactly one p-wedge, so the per-node
    // participation is an exact count, not an estimate
    "g8_triangles" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us($EV) AS us,
         |                  TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS node
         |           FROM events
         |           WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |t AS (SELECT lag(node) OVER (PARTITION BY user_id ORDER BY us, event_id) AS src,
         |             node AS dst
         |      FROM e),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM t WHERE src IS NOT NULL AND src <> dst),
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT a AS n FROM und UNION ALL SELECT b FROM und)
         |        GROUP BY n),
         |wd AS (SELECT und.a, und.b, x.deg AS da, y.deg AS db
         |       FROM und JOIN deg x ON x.n = und.a JOIN deg y ON y.n = und.b),
         |ori AS (SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         |               CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v,
         |               CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dv
         |        FROM wd),
         |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |        FROM ori e1 JOIN ori e2 ON e1.u = e2.u
         |             AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
         |        JOIN ori e3 ON e3.u = e1.v AND e3.v = e2.v),
         |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri_ct FROM (
         |         SELECT x AS node FROM tri
         |         UNION ALL SELECT y FROM tri
         |         UNION ALL SELECT z FROM tri)
         |       GROUP BY node)
         |SELECT deg.n AS node, deg.deg, coalesce(pn.tri_ct, CAST(0 AS BIGINT)) AS tri_ct
         |FROM deg LEFT JOIN pn ON pn.node = deg.n""".stripMargin,
    // l1: Morton/z-order layout key — 32 shift-mask-shift integer terms,
    // bit-identical in any engine; zbucket = the 1024-way range split.
    "l1_zorder_key" -> {
      val terms = (0 until 16).map { i =>
        s"(((x >> $i) & 1) << ${2 * i + 1}) + (((y >> $i) & 1) << ${2 * i})"
      }.mkString(" + ")
      s"""WITH e AS (SELECT event_id, user_id,
         |                  TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events
         |           WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |c AS (SELECT event_id, user_id, k,
         |             least(greatest(user_id, 0), 65535) AS x,
         |             least(greatest(k, 0), 65535) AS y
         |      FROM e),
         |z AS (SELECT event_id, user_id, k, $terms AS zkey FROM c)
         |SELECT event_id, user_id, k, zkey, zkey >> 22 AS zbucket FROM z""".stripMargin
    },
    // l4: the same deterministic layouts restated — arrival files from
    // dense ids, z-files from fixed zkey ranges, box-overlap on file minima
    "l4_skipping_stats" -> {
      val terms = (0 until 16).map { i =>
        s"(((x >> $i) & 1) << ${2 * i + 1}) + (((y >> $i) & 1) << ${2 * i})"
      }.mkString(" + ")
      s"""WITH e AS (SELECT event_id, user_id,
         |                  TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events
         |           WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |c AS (SELECT event_id, user_id, k,
         |             least(greatest(user_id, 0), 65535) AS x,
         |             least(greatest(k, 0), 65535) AS y
         |      FROM e),
         |z AS (SELECT event_id, user_id, k, $terms AS zkey FROM c),
         |f AS (SELECT layout, file_id, user_id, k FROM (
         |        SELECT 'arrival' AS layout, event_id // 1024 AS file_id, user_id, k FROM z
         |        UNION ALL
         |        SELECT 'zorder', zkey >> 12, user_id, k FROM z)),
         |s AS (SELECT layout, file_id, CAST(count(*) AS BIGINT) AS rows_ct,
         |             min(user_id) AS u_min, min(k) AS k_min,
         |             CAST(sum(CASE WHEN user_id <= 31 AND k <= 31 THEN 1 ELSE 0 END) AS BIGINT) AS m
         |      FROM f GROUP BY 1, 2)
         |SELECT layout, CAST(count(*) AS BIGINT) AS files_total,
         |       CAST(sum(CASE WHEN u_min <= 31 AND k_min <= 31 THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
         |       CAST(sum(CASE WHEN u_min <= 31 AND k_min <= 31 THEN rows_ct ELSE 0 END) AS BIGINT) AS rows_read,
         |       CAST(sum(m) AS BIGINT) AS rows_matched
         |FROM s GROUP BY layout""".stripMargin
    },
    // l5: l4 plus the HILBERT layout — the curve's rotate/flip recurrence
    // unrolled as 16 chained CTEs over the same clamped integers (rx/ry
    // masks, d += s²·xor(3·rx, ry), conditional flip-swap), bit-identical
    // to the native hilbert_key expression
    "l5_layout_compare" -> {
      val zterms = (0 until 16).map { i =>
        s"(((x >> $i) & 1) << ${2 * i + 1}) + (((y >> $i) & 1) << ${2 * i})"
      }.mkString(" + ")
      val rounds = (0 until 16).map { i =>
        val s = 1L << (15 - i)
        s"""h${i + 1} AS (SELECT event_id,
           |  CASE WHEN (y & $s) > 0 THEN x
           |       ELSE CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END END AS x,
           |  CASE WHEN (y & $s) > 0 THEN y
           |       ELSE CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END END AS y,
           |  d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
           |                     CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
           |FROM h$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT event_id, user_id,
         |                  TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events
         |           WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |c AS (SELECT event_id, user_id, k,
         |             least(greatest(user_id, 0), 65535) AS x,
         |             least(greatest(k, 0), 65535) AS y
         |      FROM e),
         |z AS (SELECT event_id, user_id, k, $zterms AS zkey FROM c),
         |h0 AS (SELECT event_id, x, y, CAST(0 AS BIGINT) AS d FROM c),
         |$rounds,
         |j AS (SELECT z.event_id, z.user_id, z.k, z.zkey, h16.d AS hkey
         |      FROM z JOIN h16 USING (event_id)),
         |f AS (SELECT layout, file_id, user_id, k FROM (
         |        SELECT 'arrival' AS layout, event_id // 1024 AS file_id, user_id, k FROM j
         |        UNION ALL
         |        SELECT 'zorder', zkey >> 12, user_id, k FROM j
         |        UNION ALL
         |        SELECT 'hilbert', hkey >> 12, user_id, k FROM j)),
         |s AS (SELECT layout, file_id, CAST(count(*) AS BIGINT) AS rows_ct,
         |             min(user_id) AS u_min, min(k) AS k_min,
         |             CAST(sum(CASE WHEN user_id <= 31 AND k <= 31 THEN 1 ELSE 0 END) AS BIGINT) AS m
         |      FROM f GROUP BY 1, 2)
         |SELECT layout, CAST(count(*) AS BIGINT) AS files_total,
         |       CAST(sum(CASE WHEN u_min <= 31 AND k_min <= 31 THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
         |       CAST(sum(CASE WHEN u_min <= 31 AND k_min <= 31 THEN rows_ct ELSE 0 END) AS BIGINT) AS rows_read,
         |       CAST(sum(m) AS BIGINT) AS rows_matched
         |FROM s GROUP BY layout""".stripMargin
    },
    // g9: PMI replayed with the SAME pinned association —
    // ((((pair*nw)/cta)/ctb)*nw)/nb — one ln, 4dp-floor-quantized (t13's
    // recipe), ties by (w1, w2)
    "g9_collocations" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |uni AS (SELECT unnest(ws) AS t FROM w),
        |u AS (SELECT t, CAST(count(*) AS BIGINT) AS ct FROM uni GROUP BY t),
        |nw AS (SELECT CAST(count(*) AS BIGINT) AS nw FROM uni),
        |bi AS (SELECT ws[i] AS w1, ws[i+1] AS w2
        |       FROM w, unnest(generate_series(1, len(ws) - 1)) g(i)),
        |b AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_ct
        |      FROM bi GROUP BY w1, w2),
        |nb AS (SELECT CAST(sum(pair_ct) AS BIGINT) AS nb FROM b),
        |p AS (SELECT b.w1, b.w2, b.pair_ct,
        |             floor(ln(CAST(b.pair_ct AS DOUBLE) * nw.nw / ua.ct / ub.ct
        |                      * nw.nw / nb.nb) * 10000.0 + 0.5) / 10000.0 AS pmi
        |      FROM b CROSS JOIN nw CROSS JOIN nb
        |      JOIN u ua ON ua.t = b.w1 JOIN u ub ON ub.t = b.w2
        |      WHERE b.pair_ct >= 5)
        |SELECT CAST(rnk AS BIGINT) AS rnk, w1, w2, pair_ct, pmi FROM (
        |  SELECT w1, w2, pair_ct, pmi,
        |         row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rnk FROM p)
        |WHERE rnk <= 20""".stripMargin,
    // l2: the running byte sum and first-fit file index replayed with the
    // same (lang, doc_id%16) slicing; // on non-negative BIGINTs equals
    // Spark's floor(double division) here (values far below 2^53)
    "l2_compaction_plan" ->
      """WITH b AS (SELECT doc_id, lang, n_chars, doc_id % 16 AS shard FROM documents),
        |c AS (SELECT doc_id, lang, shard, n_chars,
        |             sum(n_chars) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum_bytes
        |      FROM b)
        |SELECT doc_id, lang, shard,
        |       CAST((cum_bytes - n_chars) // 16384 AS BIGINT) AS file_idx,
        |       CAST(cum_bytes AS BIGINT) AS cum_bytes
        |FROM c""".stripMargin,
    // r3: day-cohort retention on integer epoch-µs days (no DATE/timezone
    // semantics to diverge); cohort size = the offset-0 row of the same agg.
    "r3_retention" ->
      s"""WITH d AS (SELECT DISTINCT user_id, epoch_us($EV) // 86400000000 AS day
         |           FROM events),
         |c AS (SELECT user_id, day,
         |             min(day) OVER (PARTITION BY user_id) AS cohort_day
         |      FROM d),
         |a AS (SELECT cohort_day, day - cohort_day AS day_offset,
         |             count(*) AS active_users
         |      FROM c GROUP BY 1, 2),
         |s AS (SELECT cohort_day, active_users AS cohort_users FROM a
         |      WHERE day_offset = 0)
         |SELECT a.cohort_day, a.day_offset, a.active_users, s.cohort_users,
         |       floor(a.active_users * 10000.0 / s.cohort_users + 0.5) / 10000.0 AS retention
         |FROM a JOIN s USING (cohort_day)""".stripMargin,
    // a15: the LTV matrix restated — integer month keys (year·12 + month),
    // DECIMAL(18,4) through cell sum AND cumulative window, 4-dp surface
    "a15_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey AS cust,
        |                  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
        |                  o_totalprice AS price
        |           FROM orders),
        |m AS (SELECT cust, mkey, price,
        |             min(mkey) OVER (PARTITION BY cust) AS cohort_m
        |      FROM o),
        |cell AS (SELECT cohort_m, mkey - cohort_m AS age_m,
        |                CAST(count(DISTINCT cust) AS BIGINT) AS buyers,
        |                sum(CAST(price AS DECIMAL(18,4))) AS rev_dec
        |         FROM m GROUP BY 1, 2),
        |sz AS (SELECT cohort_m, buyers AS cohort_users FROM cell WHERE age_m = 0),
        |c2 AS (SELECT cell.cohort_m, cell.age_m, cell.buyers, cell.rev_dec,
        |              sz.cohort_users,
        |              sum(cell.rev_dec) OVER (PARTITION BY cell.cohort_m
        |                ORDER BY cell.age_m) AS cum_dec
        |       FROM cell JOIN sz USING (cohort_m))
        |SELECT cohort_m, age_m, buyers,
        |       CAST(rev_dec AS DOUBLE) AS revenue,
        |       floor(buyers * 10000.0 / cohort_users + 0.5) / 10000.0 AS retained,
        |       floor(CAST(cum_dec AS DOUBLE) / cohort_users * 10000.0 + 0.5) / 10000.0 AS cum_ltv
        |FROM c2""".stripMargin,
    // x2: the typed distinct-set Aggregator through SQL vs COUNT(DISTINCT).
    "x2_exact_distinct_udaf" ->
      """SELECT event_type, count(DISTINCT user_id) AS uv, count(*) AS ct
        |FROM events GROUP BY event_type""".stripMargin,
    // w3: native session_window vs the relational session derivation —
    // Spark's merged-window end = last event + gap, stated arithmetically.
    "w3_session_window" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us($EV) AS us FROM events),
         |m AS (SELECT event_id, user_id, us,
         |             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
         |      FROM e),
         |s AS (SELECT user_id, us,
         |             -- Spark merges the half-open per-event windows only on
         |             -- STRICT overlap, so a gap of exactly 30 min splits
         |             CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
         |                           THEN 1 ELSE 0 END)
         |                  OVER (PARTITION BY user_id ORDER BY us, event_id
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |               AS session_no
         |      FROM m)
         |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
         |       count(*) AS event_ct
         |FROM s GROUP BY user_id, session_no""".stripMargin,
    // w2: sliding windows — each event hits exactly 2 panes (size 10 min,
    // slide 5 min); the oracle states the floor-based pane starts directly.
    "w2_sliding_counts" ->
      s"""WITH e AS (SELECT event_type, value, epoch_us($EV) AS eus FROM events),
         |p AS (SELECT event_type, value,
         |             (eus // 300000000) * 300000000 - i * 300000000 AS start_us
         |      FROM e CROSS JOIN generate_series(0, 1) AS g(i))
         |SELECT start_us, start_us + 600000000 AS end_us, event_type,
         |       count(*) AS ct,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
         |FROM p GROUP BY 1, 2, 3""".stripMargin,
    "w6_user_jump" ->
      s"""SELECT event_id, user_id FROM (
         |  SELECT event_id, user_id, epoch_us($EV) AS us,
         |         lead(epoch_us($EV)) OVER (PARTITION BY user_id ORDER BY $EV, event_id) AS next_us
         |  FROM events)
         |WHERE next_us IS NULL OR next_us - us > 600000000""".stripMargin,
    "f1_date_functions" ->
      """SELECT o_orderkey, create_time,
        |       substr(create_time, 1, 10) AS create_date,
        |       substr(create_time, 12, 2) AS create_hour,
        |       CAST(epoch(CAST(create_time AS TIMESTAMP)) AS BIGINT) * 1000 AS create_ts,
        |       strftime(make_timestamp(CAST(epoch(CAST(create_time AS TIMESTAMP)) AS BIGINT) * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS roundtrip,
        |       CAST(floor(date_diff('day', CAST(substr(create_time, 1, 10) AS DATE),
        |                            DATE '1998-12-31') / 365) AS BIGINT) AS age_years
        |FROM (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time
        |      FROM orders)""".stripMargin,
    "r1_rank_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,
    // (Spark output column is also `rnk` — `rank` is reserved in DuckDB.)
    "r2_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |       lag(o_totalprice) OVER w AS prev_price,
        |       lead(o_totalprice) OVER w AS next_price,
        |       CAST(dense_rank() OVER (PARTITION BY o_custkey
        |            ORDER BY CAST(floor(o_totalprice / 10000) AS BIGINT) DESC) AS BIGINT)
        |         AS price_tier_rank,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "a8_rollup" ->
      s"""SELECT yr, status, gid, ct, amt FROM (
         |  SELECT strftime(o_orderdate, '%Y') AS yr, o_orderstatus AS status,
         |         CAST(GROUPING(strftime(o_orderdate, '%Y'), o_orderstatus) AS BIGINT) AS gid,
         |         count(*) AS ct, ${dsum("o_totalprice")} AS amt
         |  FROM orders GROUP BY ROLLUP(yr, status))""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id, count(*) AS dup_ct
        |FROM documents GROUP BY 1""".stripMargin,
    "d2_minhash_signature" ->
      s"""$shingleCte
         |SELECT doc_id, $minhashSelect
         |FROM sh GROUP BY doc_id""".stripMargin,
    "d3_minhash_lsh_pairs" ->
      s"""$shingleCte,
         |sig AS (SELECT doc_id, $minhashSelect FROM sh GROUP BY doc_id),
         |bands AS (SELECT doc_id, 0 AS band, mh0 || mh1 AS bkey FROM sig
         |          UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
         |          UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
         |          UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |$jaccardTail""".stripMargin,
    "d4_simhash" ->
      s"""SELECT doc_id, $simhashConcat AS simhash FROM (
         |  SELECT doc_id, $simhashSums
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY doc_id)""".stripMargin,
    "d5_ngram_jaccard" ->
      s"""$shingleCte,
         |cand AS (SELECT a.doc_id AS a, b.doc_id AS b
         |         FROM documents a JOIN documents b
         |           ON b.doc_id BETWEEN a.doc_id + 1 AND a.doc_id + 10),
         |$jaccardTail""".stripMargin,
    // d7: banded SimHash pairing — 4 bands of 4 bits (hamming <= 3 ⇒ one
    // band identical), exact hamming verify as 16 per-position compares.
    "d7_simhash_pairs" -> {
      val hamming = (1 to 16).map(i =>
        s"CASE WHEN substr(a.simhash, $i, 1) <> substr(b.simhash, $i, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      val bandKeys = (0 until 4).map(b => s"substr(simhash, ${1 + 4 * b}, 4)").mkString(", ")
      s"""WITH sh AS (SELECT doc_id, $simhashConcat AS simhash FROM (
         |  SELECT doc_id, $simhashSums
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
         |        WHERE doc_id < 500)
         |  WHERE len(word) > 0 GROUP BY doc_id)),
         |bands AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS band,
         |                 unnest([$bandKeys]) AS bkey FROM sh),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT cand.doc_a, cand.doc_b, CAST($hamming AS BIGINT) AS hamming
         |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
         |            JOIN sh b ON b.doc_id = cand.doc_b)
         |WHERE hamming <= 3""".stripMargin
    },
    // d8: 64-bit SimHash (bits = parity of md5(word) || md5('x:'||word) hex
    // digits), 4 bands × 16 bits, hamming <= 3 verified as 64 compares.
    "d8_simhash64_pairs" -> {
      val sums64 = (1 to 64).map(j =>
        s"sum(CASE WHEN substr(md5(word) || md5('x:' || word), $j, 1) " +
          s"IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS s$j")
        .mkString(", ")
      val concat64 = (1 to 64).map(j =>
        s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
      val hamming64 = (1 to 64).map(i =>
        s"CASE WHEN substr(a.simhash, $i, 1) <> substr(b.simhash, $i, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      val bandKeys64 = (0 until 4).map(b => s"substr(simhash, ${1 + 16 * b}, 16)").mkString(", ")
      s"""WITH sh AS (SELECT doc_id, $concat64 AS simhash FROM (
         |  SELECT doc_id, $sums64
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY doc_id)),
         |bands AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS band,
         |                 unnest([$bandKeys64]) AS bkey FROM sh),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT cand.doc_a, cand.doc_b, CAST($hamming64 AS BIGINT) AS hamming
         |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
         |            JOIN sh b ON b.doc_id = cand.doc_b)
         |WHERE hamming <= 3""".stripMargin
    },
    // n3: SRP-LSH ANN — the Rademacher hyperplanes are deterministic
    // constants (md5-parity, see AnnOps.hyperplanes), embedded here as
    // literal lists so both engines project onto identical planes; the
    // sign bit quantizes the projection to 4 dp first, like every other
    // cross-engine float compare in this file.
    "n3_ann_lsh_topk" -> {
      val planes = AnnOps.hyperplanes()
      val sigConcat = planes.map { p =>
        val lst = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        s"(CASE WHEN floor(list_dot_product(ee, $lst) * 10000.0 + 0.5) > 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
      val bandKeys = (0 until 4).map(b => s"substr(sig, ${1 + 8 * b}, 8)").mkString(", ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
         |           FROM embeddings),
         |sg AS (SELECT vec_id, ee, $sigConcat AS sig FROM e),
         |bands AS (SELECT vec_id, unnest([0, 1, 2, 3]) AS band,
         |                 unnest([$bandKeys]) AS bkey FROM sg),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |         FROM bands q JOIN bands c ON q.band = c.band AND q.bkey = c.bkey
         |         WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
         |sims AS (SELECT cand.query_id, cand.neighbor_id,
         |                floor(list_dot_product(a.ee, b.ee) /
         |                      (sqrt(list_dot_product(a.ee, a.ee)) * sqrt(list_dot_product(b.ee, b.ee)))
         |                      * 10000.0 + 0.5) / 10000.0 AS sim
         |         FROM cand JOIN e a ON a.vec_id = cand.query_id
         |                   JOIN e b ON b.vec_id = cand.neighbor_id)
         |SELECT query_id, neighbor_id, rnk, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM sims) WHERE rnk <= 5""".stripMargin
    },
    // n4: symmetric int8 max-abs quantization; integer summaries (sum, L1,
    // saturated/zero lanes) pin the arithmetic without hashing float arrays.
    // scale is a MAX of exactly-represented |float| values — no summation,
    // so the double compares bit-identically across engines.
    "n4_embed_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
        |           FROM embeddings),
        |s AS (SELECT vec_id, ee, list_max(list_transform(ee, x -> abs(x))) AS scale FROM e),
        |q AS (SELECT vec_id, scale,
        |             list_transform(ee, x -> CASE WHEN scale > 0
        |                 THEN CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)
        |                 ELSE 0 END) AS qv
        |      FROM s)
        |SELECT vec_id, scale,
        |       CAST(list_sum(qv) AS BIGINT) AS qsum,
        |       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS qabs,
        |       len(list_filter(qv, x -> abs(x) = 127)) AS n_sat,
        |       len(list_filter(qv, x -> x = 0)) AS n_zero
        |FROM q""".stripMargin,
    // n9: the SQ8 chain restated — int8 codes via n4's formula, candidate
    // cosine from integer dots (scales cancel; exact below 2^53), top-20 by
    // (approx DESC, id), exact n1 cosine rerank of the survivors
    "n9_quantized_topk" ->
      """WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
        |            FROM embeddings),
        |qz AS (SELECT vec_id, ee, list_max(list_transform(ee, x -> abs(x))) AS scale FROM e0),
        |qz2 AS (SELECT vec_id, ee,
        |               list_transform(ee, x -> CASE WHEN scale > 0
        |                   THEN CAST(floor(x * 127.0 / scale + 0.5) AS DOUBLE)
        |                   ELSE CAST(0 AS DOUBLE) END) AS qv
        |        FROM qz),
        |qz3 AS (SELECT vec_id, ee, qv, list_dot_product(qv, qv) AS qn FROM qz2),
        |q AS (SELECT vec_id AS query_id, qv AS qq, qn AS qqn, ee AS qe
        |      FROM qz3 WHERE vec_id < 10),
        |cands AS (SELECT query_id, vec_id AS neighbor_id,
        |                 CASE WHEN qqn = 0 OR qn = 0 THEN 0.0
        |                      ELSE floor(list_dot_product(qq, qv) / sqrt(qqn * qn)
        |                                 * 10000.0 + 0.5) / 10000.0 END AS approx_sim
        |          FROM qz3, q WHERE vec_id <> query_id),
        |top AS (SELECT query_id, neighbor_id, approx_sim FROM (
        |          SELECT query_id, neighbor_id, approx_sim,
        |                 row_number() OVER (PARTITION BY query_id
        |                   ORDER BY approx_sim DESC, neighbor_id) AS crnk
        |          FROM cands) WHERE crnk <= 20),
        |rer AS (SELECT t.query_id, t.neighbor_id, t.approx_sim,
        |               floor(list_dot_product(q.qe, e.ee) /
        |                     (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(e.ee, e.ee)))
        |                     * 10000.0 + 0.5) / 10000.0 AS sim
        |        FROM top t JOIN qz3 e ON e.vec_id = t.neighbor_id
        |             JOIN q ON q.query_id = t.query_id)
        |SELECT query_id, neighbor_id, rnk, sim, approx_sim FROM (
        |  SELECT query_id, neighbor_id, sim, approx_sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM rer) WHERE rnk <= 5""".stripMargin,
    // n10: the IVF×SQ8 pipeline stated verbatim — 6-dp exact-mean centroids
    // seeded from labels (n6's integer-sum convention), every vector
    // geometrically reassigned to its nearest centroid (4-dp-quantized
    // scores, min-cell ties), 4-dp-quantized probe selection, then n9's
    // integer-dot candidate scan restricted to the 3 probed cells and the
    // n1 float rerank. Candidate cost follows probed-cell membership.
    "n10_ivf_sq8_topk" ->
      s"""WITH $ivfSq8Rer
         |SELECT query_id, neighbor_id, rnk, sim, approx_sim FROM (
         |  SELECT query_id, neighbor_id, sim, approx_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM rer) WHERE rnk <= 5""".stripMargin,
    // n11: IVFADC stated verbatim — n10's coarse stage (6-dp exact-mean
    // centroids, 4-dp-quantized geometric reassignment + probe selection),
    // then residual PQ: exact double residuals from the assigned centroid,
    // a POINT-seeded codebook (vec_id 0..15's residual subvectors) refined
    // by TWO unrolled Lloyd rounds (4-dp assign ties-to-lower-j, 6-dp
    // integer-mean update, empty cells keep their centroid via the
    // left-join coalesce), 4-dp sq-L2 encode, per-(query, probed cell)
    // residual distance tables, DECIMAL(18,4) ADC sums over probed cells
    // only, and the n1 float rerank. Candidate cost follows probed-cell
    // membership.
    "n11_ivfpq_topk" ->
      """WITH e0 AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
        |            FROM embeddings),
        |ex AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
        |              unnest(embedding) AS v
        |       FROM embeddings),
        |cm AS (SELECT label AS cell, dim,
        |              floor(CAST(sum(CAST(floor(CAST(v AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |                    / count(*) + 0.5) / 1000000.0 AS m
        |       FROM ex GROUP BY label, dim),
        |cents AS (SELECT cell, list(m ORDER BY dim) AS c FROM cm GROUP BY cell),
        |asg AS (SELECT vec_id, cell FROM (
        |          SELECT e0.vec_id, cents.cell,
        |                 row_number() OVER (PARTITION BY e0.vec_id
        |                   ORDER BY floor((2*list_dot_product(e0.ee, cents.c)
        |                                   - list_dot_product(cents.c, cents.c))
        |                                  * 10000.0 + 0.5) DESC, cents.cell) AS r
        |          FROM e0, cents) WHERE r = 1),
        |rd AS (SELECT e0.vec_id, a.cell, generate_subscripts(e0.ee, 1) AS dim,
        |              unnest(e0.ee) AS v
        |       FROM e0 JOIN asg a USING (vec_id)),
        |resd AS (SELECT rd.vec_id, rd.cell, rd.dim, rd.v - cm.m AS rv
        |         FROM rd JOIN cm ON cm.cell = rd.cell AND cm.dim = rd.dim),
        |sd AS (SELECT vec_id, (dim-1)//8 AS s, (dim-1)%8 AS p, rv FROM resd),
        |sub AS (SELECT vec_id, s, CAST(list(rv ORDER BY p) AS DOUBLE[]) AS xs
        |        FROM sd GROUP BY vec_id, s),
        |subn AS (SELECT vec_id, s, xs, list_dot_product(xs, xs) AS sx FROM sub),
        |seed0 AS (SELECT s, CAST(vec_id AS INTEGER) AS j,
        |                 CAST(list(rv ORDER BY p) AS DOUBLE[]) AS c
        |          FROM sd WHERE vec_id < 16 GROUP BY s, vec_id),
        |cbn0 AS (SELECT s, j, c, list_dot_product(c, c) AS sc FROM seed0),
        |as1 AS (SELECT vec_id, s, j FROM (
        |          SELECT n.vec_id, n.s, b.j,
        |                 row_number() OVER (PARTITION BY n.vec_id, n.s
        |                   ORDER BY floor((n.sx - 2*list_dot_product(n.xs, b.c) + b.sc)
        |                                  * 10000.0 + 0.5) / 10000.0, b.j) AS rn
        |          FROM subn n JOIN cbn0 b ON n.s = b.s) WHERE rn = 1),
        |m1 AS (SELECT a.s, a.j, sd.p,
        |              floor(CAST(sum(CAST(floor(sd.rv*1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |                    / count(*) + 0.5) / 1000000.0 AS m
        |       FROM as1 a JOIN sd ON sd.vec_id = a.vec_id AND sd.s = a.s
        |       GROUP BY a.s, a.j, sd.p),
        |c1 AS (SELECT s, j, CAST(list(m ORDER BY p) AS DOUBLE[]) AS c FROM m1 GROUP BY s, j),
        |cb1 AS (SELECT s0.s, s0.j, coalesce(c1.c, s0.c) AS c
        |        FROM seed0 s0 LEFT JOIN c1 ON c1.s = s0.s AND c1.j = s0.j),
        |cbn1 AS (SELECT s, j, c, list_dot_product(c, c) AS sc FROM cb1),
        |as2 AS (SELECT vec_id, s, j FROM (
        |          SELECT n.vec_id, n.s, b.j,
        |                 row_number() OVER (PARTITION BY n.vec_id, n.s
        |                   ORDER BY floor((n.sx - 2*list_dot_product(n.xs, b.c) + b.sc)
        |                                  * 10000.0 + 0.5) / 10000.0, b.j) AS rn
        |          FROM subn n JOIN cbn1 b ON n.s = b.s) WHERE rn = 1),
        |m2 AS (SELECT a.s, a.j, sd.p,
        |              floor(CAST(sum(CAST(floor(sd.rv*1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |                    / count(*) + 0.5) / 1000000.0 AS m
        |       FROM as2 a JOIN sd ON sd.vec_id = a.vec_id AND sd.s = a.s
        |       GROUP BY a.s, a.j, sd.p),
        |c2 AS (SELECT s, j, CAST(list(m ORDER BY p) AS DOUBLE[]) AS c FROM m2 GROUP BY s, j),
        |cb2 AS (SELECT c1.s, c1.j, coalesce(c2.c, c1.c) AS c
        |        FROM cb1 c1 LEFT JOIN c2 ON c2.s = c1.s AND c2.j = c1.j),
        |cbn AS (SELECT s, j, c, list_dot_product(c, c) AS sc FROM cb2),
        |dists AS (SELECT n.vec_id, n.s, b.j,
        |                 floor((n.sx - 2*list_dot_product(n.xs, b.c) + b.sc)
        |                       * 10000.0 + 0.5) / 10000.0 AS dq
        |          FROM subn n JOIN cbn b ON n.s = b.s),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |            SELECT vec_id, s, j,
        |                   row_number() OVER (PARTITION BY vec_id, s ORDER BY dq, j) AS rn
        |            FROM dists) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, ee FROM e0 WHERE vec_id < 10),
        |pr AS (SELECT query_id, cell FROM (
        |         SELECT q.query_id, cents.cell,
        |                row_number() OVER (PARTITION BY q.query_id
        |                  ORDER BY floor((2*list_dot_product(q.ee, cents.c)
        |                                  - list_dot_product(cents.c, cents.c))
        |                                 * 10000.0 + 0.5) DESC, cents.cell) AS r
        |         FROM q, cents) WHERE r <= 4),
        |qrd AS (SELECT p.query_id, p.cell, g.dim, g.v - cm.m AS rv
        |        FROM pr p
        |        JOIN (SELECT query_id, generate_subscripts(ee, 1) AS dim,
        |                     unnest(ee) AS v FROM q) g
        |          ON g.query_id = p.query_id
        |        JOIN cm ON cm.cell = p.cell AND cm.dim = g.dim),
        |qsd AS (SELECT query_id, cell, (dim-1)//8 AS s, (dim-1)%8 AS p, rv FROM qrd),
        |qsub AS (SELECT query_id, cell, s, CAST(list(rv ORDER BY p) AS DOUBLE[]) AS xs
        |         FROM qsd GROUP BY query_id, cell, s),
        |qd AS (SELECT n.query_id, n.cell, n.s, b.j,
        |              floor((list_dot_product(n.xs, n.xs) - 2*list_dot_product(n.xs, b.c) + b.sc)
        |                    * 10000.0 + 0.5) / 10000.0 AS dq
        |       FROM qsub n JOIN cbn b ON n.s = b.s),
        |adc AS (SELECT d.query_id, c.vec_id AS neighbor_id,
        |               CAST(sum(CAST(d.dq AS DECIMAL(18,4))) AS DOUBLE) AS adist
        |        FROM codes c
        |        JOIN asg a ON a.vec_id = c.vec_id
        |        JOIN qd d ON d.cell = a.cell AND d.s = c.s AND d.j = c.code
        |        WHERE c.vec_id <> d.query_id
        |        GROUP BY d.query_id, c.vec_id),
        |top AS (SELECT query_id, neighbor_id, adist FROM (
        |          SELECT query_id, neighbor_id, adist,
        |                 row_number() OVER (PARTITION BY query_id
        |                   ORDER BY adist, neighbor_id) AS crnk
        |          FROM adc) WHERE crnk <= 150),
        |rer AS (SELECT t.query_id, t.neighbor_id, t.adist,
        |               floor(list_dot_product(qe.ee, e.ee) /
        |                     (sqrt(list_dot_product(qe.ee, qe.ee)) * sqrt(list_dot_product(e.ee, e.ee)))
        |                     * 10000.0 + 0.5) / 10000.0 AS sim
        |        FROM top t JOIN e0 e ON e.vec_id = t.neighbor_id
        |             JOIN e0 qe ON qe.vec_id = t.query_id)
        |SELECT query_id, neighbor_id, rnk, sim, adist FROM (
        |  SELECT query_id, neighbor_id, sim, adist,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM rer) WHERE rnk <= 5""".stripMargin,
    // n5: native cosine_sim via the SQL surface — same quantize-then-compare
    // convention as n1; the zero-denominator guard mirrors CosineSimF.
    "n5_cosine_sim_fn" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
        |           FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       floor(CASE WHEN sqrt(list_dot_product(a.ee, a.ee)) *
        |                       sqrt(list_dot_product(b.ee, b.ee)) = 0 THEN 0.0
        |                  ELSE list_dot_product(a.ee, b.ee) /
        |                       (sqrt(list_dot_product(a.ee, a.ee)) *
        |                        sqrt(list_dot_product(b.ee, b.ee))) END
        |             * 10000.0 + 0.5) / 10000.0 AS sim
        |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1""".stripMargin,
    // c1: curation pipeline = d1 keeper ∧ t1 'en' ∧ t2 score>=2, t3 tokens.
    "c1_corpus_curation" ->
      """WITH t AS (SELECT doc_id, n_chars, md5(text) AS fp,
        |                  len(string_split(text, ' ')) AS n_words,
        |                  len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS stop_ct,
        |                  length(replace(text, ' ', '')) AS char_ct
        |           FROM documents),
        |k AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY fp),
        |s AS (SELECT doc_id, n_words,
        |             CASE WHEN stop_ct * 25 >= n_words * 2 THEN 'en'
        |                  WHEN char_ct * 10 >= n_words * 46 THEN 'de'
        |                  ELSE 'xx' END AS predicted_lang,
        |             CAST(CASE WHEN n_words >= 20 THEN 1 ELSE 0 END +
        |                  CASE WHEN stop_ct > 0 THEN 1 ELSE 0 END +
        |                  CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS INTEGER) AS quality_score,
        |             CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe_tokens
        |      FROM t)
        |SELECT s.doc_id, n_words, quality_score, bpe_tokens
        |FROM s JOIN k ON s.doc_id = k.doc_id
        |WHERE predicted_lang = 'en' AND quality_score >= 2""".stripMargin,
    // d6: nearest within-cell neighbor per vector + dup flag; cosine rounded
    // to 4 dp BEFORE ranking (same convention as n1/n2) so tie-breaks agree.
    "d6_embedding_neardup" ->
      """WITH s AS (
        |  SELECT a.vec_id, b.vec_id AS nn_id,
        |         floor(list_dot_product(a.embedding, b.embedding) /
        |               (sqrt(list_dot_product(a.embedding, a.embedding)) *
        |                sqrt(list_dot_product(b.embedding, b.embedding)))
        |               * 10000.0 + 0.5) / 10000.0 AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id)
        |SELECT vec_id, nn_id, sim, sim >= 0.95 AS is_dup
        |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                   ORDER BY sim DESC, nn_id) AS rnk
        |      FROM s)
        |WHERE rnk = 1""".stripMargin,
    // d16: SemDeDup — integer-exact 6-dp centroid means, 4-dp cosines,
    // within-cluster prune keeping the lowest-centroid-sim member (ties by
    // vec_id). Mirrors AnnOps.semDedup's arithmetic step for step. Every
    // embedding rides through CAST(... AS DOUBLE[]): DuckDB accumulates
    // FLOAT-list dot products in FLOAT, but the double-list path is the
    // same sequential double fold Spark's dot_f runs — without the casts
    // a sim landing on a 4-dp boundary flips (observed: sf0.01 vec 185).
    "d16_semdedup" ->
      """WITH cd AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |         unnest(embedding) AS v
        |  FROM embeddings),
        |cm AS (SELECT label, dim,
        |              floor(CAST(sum(CAST(floor(CAST(v AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |                    / count(*) + 0.5) / 1000000.0 AS m
        |       FROM cd GROUP BY label, dim),
        |cent AS (SELECT label, list(m ORDER BY dim) AS centroid FROM cm GROUP BY label),
        |sc AS (SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS ed,
        |              floor(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid) /
        |                    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |                     sqrt(list_dot_product(c.centroid, c.centroid)))
        |                    * 10000.0 + 0.5) / 10000.0 AS cent_sim
        |       FROM embeddings e JOIN cent c USING (label)),
        |dr AS (SELECT DISTINCT a.vec_id
        |       FROM sc a JOIN sc b ON a.label = b.label AND a.vec_id <> b.vec_id
        |       WHERE floor(list_dot_product(a.ed, b.ed) /
        |                   (sqrt(list_dot_product(a.ed, a.ed)) *
        |                    sqrt(list_dot_product(b.ed, b.ed)))
        |                   * 10000.0 + 0.5) / 10000.0 >= 0.35
        |         AND (b.cent_sim < a.cent_sim OR
        |              (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id)))
        |SELECT sc.vec_id, sc.label, sc.cent_sim, dr.vec_id IS NULL AS keep
        |FROM sc LEFT JOIN dr ON sc.vec_id = dr.vec_id""".stripMargin,
    // n13: the greedy MMR prefix unrolled over n1's candidate chain
    "n13_mmr_topk" -> mmrSql(5, 20),
    // n14: the kNN graph stated verbatim (quantizer prefix + per-vector
    // probe lists + in-cell exact cosines + per-vector top-5)
    "n14_knn_join" ->
      s"""WITH $knnGraphSql
         |SELECT vec_id, neighbor_id, rnk, sim FROM knn""".stripMargin,
    // dq9: the graph's DECIMAL edge-sim sum per vector, bottom 1/20 of each
    // cell flagged by the s13 integer quota (rnk·20 ≤ n_c+19)
    "dq9_embedding_outliers" ->
      s"""WITH $knnGraphSql,
         |dens AS (SELECT vec_id,
         |                CAST(sum(CAST(sim AS DECIMAL(18,4))) AS DOUBLE) AS density
         |         FROM knn GROUP BY vec_id),
         |sc AS (SELECT d.vec_id, a.cell, d.density,
         |              row_number() OVER (PARTITION BY a.cell
         |                ORDER BY d.density, d.vec_id) AS rnk,
         |              count(*) OVER (PARTITION BY a.cell) AS n_c
         |       FROM dens d JOIN asg a ON a.vec_id = d.vec_id)
         |SELECT vec_id, cell, density, rnk * 20 <= n_c + 19 AS outlier
         |FROM sc""".stripMargin,
    "n1_ann_cosine_topk" ->
      s"""WITH ${cosineCommon.replace("%QLIM%", "10")},
         |sims AS (SELECT query_id, vec_id AS neighbor_id,
         |                floor(list_dot_product(qe, ee) /
         |                      (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ee, ee)))
         |                      * 10000.0 + 0.5) / 10000.0 AS sim
         |         FROM q, e WHERE vec_id <> query_id)
         |SELECT query_id, neighbor_id, rnk, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM sims) WHERE rnk <= 5""".stripMargin,
    // n8: n1's chain with the label-scoped candidate set — queries carry
    // their label, neighbors must match it
    "n8_ann_filtered_topk" ->
      s"""WITH q2 AS (SELECT vec_id AS query_id, label AS qlabel,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
         |            FROM embeddings WHERE vec_id < 10),
         |e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
         |      FROM embeddings),
         |sims AS (SELECT query_id, vec_id AS neighbor_id,
         |                floor(list_dot_product(qe, ee) /
         |                      (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ee, ee)))
         |                      * 10000.0 + 0.5) / 10000.0 AS sim
         |         FROM q2, e WHERE vec_id <> query_id AND label = qlabel)
         |SELECT query_id, neighbor_id, rnk, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM sims) WHERE rnk <= 5""".stripMargin,
    // n7: k-NN weak labeling — n1's neighbor chain at QLIM 50, labels voted
    // with deterministic (votes DESC, label) tie-break; `agrees` holds the
    // vote against the vector's own stored label.
    "n7_knn_label" ->
      s"""WITH ${cosineCommon.replace("%QLIM%", "50")},
         |sims AS (SELECT query_id, vec_id AS neighbor_id,
         |                floor(list_dot_product(qe, ee) /
         |                      (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ee, ee)))
         |                      * 10000.0 + 0.5) / 10000.0 AS sim
         |         FROM q, e WHERE vec_id <> query_id),
         |top AS (SELECT query_id, neighbor_id FROM (
         |          SELECT query_id, neighbor_id,
         |                 row_number() OVER (PARTITION BY query_id
         |                   ORDER BY sim DESC, neighbor_id) AS rnk
         |          FROM sims) WHERE rnk <= 5),
         |votes AS (SELECT t.query_id, emb.label, count(*) AS votes
         |          FROM top t JOIN embeddings emb ON emb.vec_id = t.neighbor_id
         |          GROUP BY t.query_id, emb.label),
         |pick AS (SELECT query_id, label, votes,
         |                row_number() OVER (PARTITION BY query_id
         |                  ORDER BY votes DESC, label) AS r
         |         FROM votes)
         |SELECT p.query_id, q0.label AS true_label, p.label AS predicted_label,
         |       p.votes, p.label = q0.label AS agrees
         |FROM pick p JOIN embeddings q0 ON q0.vec_id = p.query_id
         |WHERE p.r = 1""".stripMargin,
    "n2_ann_ivf_topk" ->
      s"""WITH ${cosineCommon.replace("%QLIM%", "20")},
         |q2 AS (SELECT q.query_id, emb.label, q.qe FROM q JOIN embeddings emb ON emb.vec_id = q.query_id),
         |sims AS (SELECT q2.query_id, q2.label AS cell, e.vec_id AS neighbor_id,
         |                floor(list_dot_product(qe, ee) /
         |                      (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ee, ee)))
         |                      * 10000.0 + 0.5) / 10000.0 AS sim
         |         FROM q2 JOIN e ON e.label = q2.label AND e.vec_id <> q2.query_id)
         |SELECT query_id, cell, neighbor_id, rnk, sim FROM (
         |  SELECT query_id, cell, neighbor_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM sims) WHERE rnk <= 3""".stripMargin,
    // n6: PQ/ADC — seed-mean codebooks (6-dp integer means), 4-dp-quantized
    // sq-L2 everywhere, 8-term ADC sums as DECIMAL(18,4); subvector math
    // rides DOUBLE[] lists (sequential double folds = Spark's exact shape).
    "n6_pq_adc" ->
      """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |                   unnest(embedding) AS v
        |            FROM embeddings),
        |sd AS (SELECT vec_id, (dim-1)//8 AS s, (dim-1)%8 AS p, v FROM ex),
        |cm AS (SELECT vec_id % 16 AS j, s, p,
        |              floor(CAST(sum(CAST(floor(CAST(v AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |                    / count(*) + 0.5) / 1000000.0 AS m
        |       FROM sd GROUP BY vec_id % 16, s, p),
        |cb AS (SELECT j, s, list(m ORDER BY p) AS c FROM cm GROUP BY j, s),
        |cbn AS (SELECT j, s, c, list_dot_product(c, c) AS sc FROM cb),
        |sub AS (SELECT vec_id, s, CAST(list(v ORDER BY p) AS DOUBLE[]) AS xs
        |        FROM sd GROUP BY vec_id, s),
        |subn AS (SELECT vec_id, s, xs, list_dot_product(xs, xs) AS sx FROM sub),
        |dists AS (SELECT n.vec_id, n.s, b.j,
        |                 floor((n.sx - 2*list_dot_product(n.xs, b.c) + b.sc)
        |                       * 10000.0 + 0.5) / 10000.0 AS dq
        |          FROM subn n JOIN cbn b ON n.s = b.s),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |            SELECT vec_id, s, j,
        |                   row_number() OVER (PARTITION BY vec_id, s ORDER BY dq, j) AS rn
        |            FROM dists) WHERE rn = 1),
        |adc AS (SELECT d.vec_id AS query_id, c.vec_id AS neighbor_id,
        |               CAST(sum(CAST(d.dq AS DECIMAL(18,4))) AS DOUBLE) AS adist
        |        FROM codes c JOIN dists d ON d.s = c.s AND d.j = c.code
        |        WHERE d.vec_id < 10 AND c.vec_id <> d.vec_id
        |        GROUP BY d.vec_id, c.vec_id)
        |SELECT query_id, neighbor_id, rnk, adist FROM (
        |  SELECT query_id, neighbor_id, adist,
        |         row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
        |  FROM adc) WHERE rnk <= 5""".stripMargin,
    // t5: benchmark decontamination — contaminated iff any 3-shingle is
    // shared with the held-out set (every 97th doc stands in for it).
    "t5_decontaminate" ->
      s"""$shingleCte,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |ov AS (SELECT sh.doc_id, count(*) AS overlap_ct
         |       FROM sh JOIN bench USING (shingle) GROUP BY sh.doc_id)
         |SELECT d.doc_id, coalesce(ov.overlap_ct, 0) AS overlap_ct,
         |       coalesce(ov.overlap_ct, 0) = 0 AS is_clean
         |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id""".stripMargin,
    // d9: winnowing (MOSS) — hash every 3-shingle to a 16-bit int, keep the
    // min of each 4-hash window, distinct per doc; short docs degrade to
    // their global min via the greatest(1, ...) window count.
    "d9_winnow_fingerprints" ->
      s"""WITH $winnowFpsCte
         |SELECT doc_id, fp FROM fps""".stripMargin,
    // d15: MOSS pair mining over the d9 fingerprints — common-hash drop
    // (df <= 50) then posting-list self-join, pairs sharing >= 2 selections.
    "d15_winnow_pairs" ->
      s"""WITH $winnowFpsCte,
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
         |k AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
         |FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // d10: transitive near-dup clusters — Spark's iterative min-label
    // propagation vs DuckDB's recursive transitive closure; both fixpoints
    // are "min doc_id in my connected component", so they hash-match.
    "d10_neardup_clusters" ->
      clusterSql("SELECT doc_id, cluster_id FROM cl"),
    // d20: integer spectrum over the same recursive closure as d10/d11
    "d20_cluster_spectrum" ->
      clusterSql(
        """SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
          |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
          |FROM (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
          |      FROM cl GROUP BY cluster_id)
          |GROUP BY cluster_size""".stripMargin),
    // d11: cluster-keeper dedup — keep exactly the min-id doc per cluster.
    "d11_dedup_by_cluster" ->
      clusterSql(
        """SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
          |FROM documents d JOIN cl ON d.doc_id = cl.doc_id
          |WHERE cl.doc_id = cl.cluster_id""".stripMargin),
    // s11: leakage-safe split — every doc inherits the 80/10/10 draw of its
    // d10 cluster_id (hex16 of a salted md5, exact integer thresholds), so
    // near-dup pairs can never straddle a split; rides the SAME recursive
    // closure CTE as d10/d11 (one definition of the cluster contract).
    "s11_leakage_split" -> {
      def sp(key: String) = {
        val h = hex16(s"md5('split:' || CAST($key AS VARCHAR))")
        s"CASE WHEN $h * 10 < 524288 THEN 'train' " +
          s"WHEN $h * 10 < 589824 THEN 'val' ELSE 'test' END"
      }
      clusterSql(
        s"""SELECT cl.doc_id, cl.cluster_id,
           |       ${sp("cl.doc_id")} AS naive_split,
           |       ${sp("cl.cluster_id")} AS split,
           |       ${sp("cl.doc_id")} <> ${sp("cl.cluster_id")} AS moved
           |FROM cl""".stripMargin)
    },
    // d18: asymmetric containment pairs — |A∩B|/min(|A|,|B|) over distinct
    // shingle sets, candidates from shingles with df in [2, 50] sharing
    // >= 2 of them (the d15 posting-join bounds); containment thresholded
    // AFTER 4dp quantization.
    "d18_containment_pairs" ->
      (shingleCte +
        """,
          |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |rare AS (SELECT shingle FROM sh GROUP BY shingle
          |         HAVING count(*) BETWEEN 2 AND 50),
          |k AS (SELECT doc_id, shingle FROM sh JOIN rare USING (shingle)),
          |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
          |         FROM k x JOIN k y
          |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          |         GROUP BY x.doc_id, y.doc_id HAVING count(*) >= 2),
          |inter AS (SELECT c.a, c.b, count(*) AS inter_ct
          |          FROM cand c
          |          JOIN sh sa ON sa.doc_id = c.a
          |          JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
          |          GROUP BY c.a, c.b)
          |SELECT i.a AS doc_a, i.b AS doc_b, i.inter_ct,
          |       ca.n AS na, cb.n AS nb,
          |       floor(i.inter_ct * 10000.0 / least(ca.n, cb.n) + 0.5) / 10000.0 AS containment
          |FROM inter i JOIN cnt ca ON ca.doc_id = i.a
          |             JOIN cnt cb ON cb.doc_id = i.b
          |WHERE floor(i.inter_ct * 10000.0 / least(ca.n, cb.n) + 0.5) / 10000.0 >= 0.8""".stripMargin),
    // d19: odd ids = incoming batch, even = history; exact via full-text
    // equality, near via cross-parity LSH band collision + Jaccard >= 1/2
    // as the integer compare 2*inter >= union; exact wins the coalesce.
    "d19_incremental_dedup" ->
      (shingleCte +
        """,
          |sig AS (SELECT doc_id, """.stripMargin + minhashSelect +
        """ FROM sh GROUP BY doc_id),
          |bands AS (SELECT doc_id, 0 AS band, mh0 || mh1 AS bkey FROM sig
          |          UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
          |          UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
          |          UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig),
          |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          |         FROM bands x JOIN bands y
          |           ON x.band = y.band AND x.bkey = y.bkey
          |         WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0),
          |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |inter AS (SELECT c.a, c.b, count(*) AS inter_ct
          |          FROM cand c
          |          JOIN sh sa ON sa.doc_id = c.a
          |          JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
          |          GROUP BY c.a, c.b),
          |nr AS (SELECT i.a, min(i.b) AS near_id
          |       FROM inter i JOIN cnt ca ON ca.doc_id = i.a
          |                    JOIN cnt cb ON cb.doc_id = i.b
          |       WHERE i.inter_ct * 2 >= ca.n + cb.n - i.inter_ct
          |       GROUP BY i.a),
          |ex AS (SELECT a.doc_id, min(b.doc_id) AS exact_id
          |       FROM documents a JOIN documents b ON a.text = b.text
          |       WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
          |       GROUP BY a.doc_id)
          |SELECT d.doc_id,
          |       CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
          |            WHEN nr.near_id IS NOT NULL THEN 'near'
          |            ELSE 'novel' END AS status,
          |       coalesce(ex.exact_id, nr.near_id) AS match_id
          |FROM documents d
          |LEFT JOIN ex ON ex.doc_id = d.doc_id
          |LEFT JOIN nr ON nr.a = d.doc_id
          |WHERE d.doc_id % 2 = 1""".stripMargin),
    // c3: curated training export — the composed capstone over the
    // classifier-era stages: d17's cleaned text (boilerplate-dominated docs
    // dropped via kept*2 > n_segs), t15's NB keep verdict, s11's
    // leakage-safe TRAIN slice. Each sub-chain is the SAME SQL as its
    // standalone oracle (renamed CTEs), appended under the recursive
    // cluster chain — one definition per stage, composed.
    "c3_curated_train_export" -> {
      val sp = {
        def d(h: String, i: Int) = s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1)"
        val h = "md5('split:' || CAST(cl.cluster_id AS VARCHAR))"
        val hx = s"(((${d(h, 1)} * 16 + ${d(h, 2)}) * 16 + ${d(h, 3)}) * 16 + ${d(h, 4)})"
        s"CASE WHEN $hx * 10 < 524288 THEN 'train' " +
          s"WHEN $hx * 10 < 589824 THEN 'val' ELSE 'test' END"
      }
      clusterSql(
        s""",
           |wb AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           |nb0 AS (SELECT doc_id, words, CAST(ceil(len(words) / 10.0) AS BIGINT) AS n_segs
           |        FROM wb WHERE len(words) > 0),
           |cb0 AS (SELECT doc_id, n_segs, words,
           |              unnest(generate_series(0, n_segs - 1)) AS i FROM nb0),
           |segb AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
           |                array_to_string(list_slice(words, i*10 + 1, i*10 + 10), ' ') AS seg
           |         FROM cb0),
           |bb AS (SELECT seg FROM segb GROUP BY seg HAVING count(DISTINCT doc_id) >= 3),
           |kb AS (SELECT s.doc_id, s.seg_idx, s.seg FROM segb s
           |       LEFT JOIN bb ON s.seg = bb.seg WHERE bb.seg IS NULL),
           |cleaned AS (SELECT b.doc_id, b.n_segs, count(k.seg) AS kept_segs,
           |                   coalesce(string_agg(k.seg, ' ' ORDER BY k.seg_idx), '') AS clean_text
           |            FROM (SELECT doc_id, n_segs FROM nb0) b
           |            LEFT JOIN kb k ON b.doc_id = k.doc_id
           |            GROUP BY b.doc_id, b.n_segs),
           |l5 AS (SELECT doc_id, string_split(text, ' ') AS w, n_chars FROM documents),
           |lab5 AS (SELECT doc_id, w,
           |           (CASE WHEN len(w) >= 20 THEN 1 ELSE 0 END +
           |            CASE WHEN len(list_filter(w, x -> x = 'the' OR x = 'a')) > 0 THEN 1 ELSE 0 END +
           |            CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) >= 2 AS is_pos
           |         FROM l5),
           |tk5 AS (SELECT doc_id, is_pos, unnest(w) AS word FROM lab5),
           |dw5 AS (SELECT doc_id, word, is_pos, count(*) AS tf
           |        FROM tk5 GROUP BY doc_id, word, is_pos),
           |model5 AS (SELECT word,
           |             CAST(sum(CASE WHEN is_pos THEN tf ELSE 0 END) AS BIGINT) AS cp,
           |             CAST(sum(CASE WHEN NOT is_pos THEN tf ELSE 0 END) AS BIGINT) AS cn
           |           FROM dw5 GROUP BY word),
           |tot5 AS (SELECT CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
           |                CAST(sum(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS nn,
           |                CAST(sum(CASE WHEN is_pos THEN len(w) ELSE 0 END) AS BIGINT) AS tp,
           |                CAST(sum(CASE WHEN NOT is_pos THEN len(w) ELSE 0 END) AS BIGINT) AS tn
           |         FROM lab5),
           |vq5 AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS v
           |        FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)),
           |sc5 AS (SELECT dw5.doc_id, dw5.tf,
           |               CAST(floor(dw5.tf * ln((m.cp + 1.0) / (t.tp + vq5.v))
           |                    * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS term_p,
           |               CAST(floor(dw5.tf * ln((m.cn + 1.0) / (t.tn + vq5.v))
           |                    * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS term_n,
           |               CAST(floor(ln(t.np / CAST(t.nn AS DOUBLE))
           |                    * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS prior
           |        FROM dw5 JOIN model5 m USING (word), tot5 t, vq5),
           |nbq AS (SELECT doc_id,
           |               CAST(max(prior) + sum(term_p) - sum(term_n) AS DOUBLE) AS log_odds,
           |               CASE WHEN CAST(max(prior) + sum(term_p) - sum(term_n) AS DOUBLE) > 0
           |                    THEN 'keep' ELSE 'drop' END AS predicted
           |        FROM sc5 GROUP BY doc_id),
           |spl AS (SELECT cl.doc_id, cl.cluster_id, $sp AS split FROM cl)
           |SELECT c.doc_id, c.clean_text, c.kept_segs, c.n_segs, q.log_odds, s.cluster_id
           |FROM cleaned c JOIN nbq q ON q.doc_id = c.doc_id
           |               JOIN spl s ON s.doc_id = c.doc_id
           |WHERE q.predicted = 'keep' AND c.kept_segs * 2 > c.n_segs
           |  AND s.split = 'train'""".stripMargin)
    },
    // d12: segment (paragraph) dedup — same 10-word segmentation, first
    // corpus occurrence by (doc_id, seg_idx), docs reassembled in seg order.
    "d12_segment_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |n AS (SELECT doc_id, words, CAST(ceil(len(words) / 10.0) AS BIGINT) AS n_segs
        |      FROM w WHERE len(words) > 0),
        |c AS (SELECT doc_id, n_segs, words,
        |             unnest(generate_series(0, n_segs - 1)) AS i FROM n),
        |seg AS (SELECT doc_id, n_segs, CAST(i AS BIGINT) AS seg_idx,
        |               array_to_string(list_slice(words, i*10 + 1, i*10 + 10), ' ') AS seg
        |        FROM c),
        |k AS (SELECT * FROM (
        |        SELECT doc_id, n_segs, seg_idx, seg,
        |               row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS occ
        |        FROM seg) WHERE occ = 1)
        |SELECT doc_id, max(n_segs) AS n_segs, count(*) AS kept_segs,
        |       string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        |FROM k GROUP BY doc_id""".stripMargin,
    // d17: corpus-frequency boilerplate removal — segments present in >= 3
    // DISTINCT documents are excised from every doc (d12's complement:
    // keep-first vs strip-everywhere); fully-boilerplate docs surface with
    // clean_text = '' via the base LEFT JOIN (the d14 accounting contract).
    "d17_boilerplate_strip" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |n AS (SELECT doc_id, words, CAST(ceil(len(words) / 10.0) AS BIGINT) AS n_segs
        |      FROM w WHERE len(words) > 0),
        |c AS (SELECT doc_id, n_segs, words,
        |             unnest(generate_series(0, n_segs - 1)) AS i FROM n),
        |seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
        |               array_to_string(list_slice(words, i*10 + 1, i*10 + 10), ' ') AS seg
        |        FROM c),
        |b AS (SELECT seg FROM seg GROUP BY seg HAVING count(DISTINCT doc_id) >= 3),
        |k AS (SELECT s.doc_id, s.seg_idx, s.seg FROM seg s
        |      LEFT JOIN b ON s.seg = b.seg WHERE b.seg IS NULL),
        |base AS (SELECT doc_id, n_segs FROM n)
        |SELECT base.doc_id, base.n_segs,
        |       count(k.seg) AS kept_segs,
        |       coalesce(string_agg(k.seg, ' ' ORDER BY k.seg_idx), '') AS clean_text
        |FROM base LEFT JOIN k ON base.doc_id = k.doc_id
        |GROUP BY base.doc_id, base.n_segs""".stripMargin,
    // d13: exact duplicated-substring spans (Lee et al. seed-and-extend) —
    // positions covered by any corpus-duplicated 8-gram, merged into maximal
    // islands via the pos − row_number() gaps-and-islands identity. Grams
    // compare as strings in both engines (no hash to diverge on).
    "d13_substring_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 8),
        |x AS (SELECT doc_id, words,
        |             unnest(generate_series(1, len(words) - 7)) AS i FROM w),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |             array_to_string(words[i:i+7], ' ') AS gram FROM x),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |e AS (SELECT g.doc_id,
        |             g.pos + unnest(generate_series(0, 7)) AS cov
        |      FROM g JOIN c USING (gram)),
        |p AS (SELECT DISTINCT doc_id, CAST(cov AS BIGINT) AS cov FROM e),
        |i AS (SELECT doc_id, cov,
        |             cov - row_number() OVER (PARTITION BY doc_id ORDER BY cov) AS isl
        |      FROM p)
        |SELECT doc_id, min(cov) AS span_start, max(cov) AS span_end,
        |       max(cov) - min(cov) + 1 AS span_tokens
        |FROM i GROUP BY doc_id, isl""".stripMargin,
    // d14: strip the d13 spans from every doc (remove-all-occurrences).
    // The token-level LEFT JOIN here is the oracle's way to subtract
    // covered positions; the Spark side does the same subtraction map-side
    // with an indexed filter. Docs whose every token is covered surface
    // with clean_text = '' via the final doc-level LEFT JOIN + coalesce.
    "d14_strip_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 8),
        |x AS (SELECT doc_id, words,
        |             unnest(generate_series(1, len(words) - 7)) AS i FROM w),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |             array_to_string(words[i:i+7], ' ') AS gram FROM x),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |e AS (SELECT g.doc_id,
        |             g.pos + unnest(generate_series(0, 7)) AS cov
        |      FROM g JOIN c USING (gram)),
        |p AS (SELECT DISTINCT doc_id, CAST(cov AS BIGINT) AS cov FROM e),
        |w0 AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |t AS (SELECT doc_id, words, unnest(generate_series(1, len(words))) AS i FROM w0),
        |tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, words[i] AS word FROM t),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.word
        |         FROM tok LEFT JOIN p ON tok.doc_id = p.doc_id AND tok.pos = p.cov
        |         WHERE p.cov IS NULL),
        |agg AS (SELECT doc_id, count(*) AS kept_ct,
        |               string_agg(word, ' ' ORDER BY pos) AS clean_text
        |        FROM kept GROUP BY doc_id)
        |SELECT w0.doc_id, CAST(len(w0.words) AS BIGINT) AS n_words,
        |       CAST(len(w0.words) - coalesce(agg.kept_ct, 0) AS BIGINT) AS removed_tokens,
        |       coalesce(agg.clean_text, '') AS clean_text
        |FROM w0 LEFT JOIN agg USING (doc_id)""".stripMargin,
    // g5: duplication accounting by source over the d13 spans (disjoint per
    // doc, so sum(span_tokens) is exact coverage).
    "g5_dup_rate_by_source" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 8),
        |x AS (SELECT doc_id, words,
        |             unnest(generate_series(1, len(words) - 7)) AS i FROM w),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |             array_to_string(words[i:i+7], ' ') AS gram FROM x),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |e AS (SELECT g.doc_id,
        |             g.pos + unnest(generate_series(0, 7)) AS cov
        |      FROM g JOIN c USING (gram)),
        |p AS (SELECT DISTINCT doc_id, CAST(cov AS BIGINT) AS cov FROM e),
        |dpd AS (SELECT doc_id, count(*) AS dup_tokens FROM p GROUP BY doc_id),
        |base AS (SELECT d.doc_id, d.source,
        |                CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
        |                CAST(coalesce(dpd.dup_tokens, 0) AS BIGINT) AS dup_tokens
        |         FROM documents d LEFT JOIN dpd USING (doc_id))
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_words) AS BIGINT) AS total_tokens,
        |       CAST(sum(dup_tokens) AS BIGINT) AS dup_tokens,
        |       floor(sum(dup_tokens) * 10000.0 / sum(n_words) + 0.5) / 10000.0 AS dup_rate
        |FROM base GROUP BY source""".stripMargin,
    // s6: per-domain quota cap — row_number over the salted-md5 pick order.
    "s6_domain_cap" ->
      """SELECT doc_id, source, lang, rn FROM (
        |  SELECT doc_id, source, lang,
        |         row_number() OVER (PARTITION BY source
        |             ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 15""".stripMargin,
    // s7: length-bucketed micro-batching — shard by hex16 md5, bucket by
    // 32-token band, cut per-(shard,bucket) doc_id order into 16-doc batches.
    "s7_length_buckets" ->
      s"""WITH t AS (SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tokens,
         |                  md5('lb:' || CAST(doc_id AS VARCHAR)) AS hs
         |           FROM documents),
         |s AS (SELECT doc_id, tokens, ${hex16("hs")} % 4 AS shard,
         |             tokens // 32 AS bucket FROM t),
         |b AS (SELECT shard, bucket, tokens,
         |             (row_number() OVER (PARTITION BY shard, bucket ORDER BY doc_id) - 1) // 16
         |               AS batch_idx
         |      FROM s)
         |SELECT shard, bucket, CAST(batch_idx AS BIGINT) AS batch_idx,
         |       count(*) AS n_docs, max(tokens) AS max_tokens,
         |       CAST(sum(tokens) AS BIGINT) AS sum_tokens,
         |       count(*) * max(tokens) - CAST(sum(tokens) AS BIGINT) AS pad_waste
         |FROM b GROUP BY shard, bucket, batch_idx""".stripMargin,
    // b2: semantic decontamination — max 4dp-quantized cosine of each corpus
    // vector against the held-out benchmark vectors (every 97th vec_id).
    "b2_semantic_decontam" ->
      """WITH b AS (SELECT vec_id AS bench_id,
        |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS be
        |           FROM embeddings WHERE vec_id % 97 = 0),
        |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
        |      FROM embeddings WHERE vec_id % 97 <> 0),
        |s AS (SELECT vec_id,
        |             floor(list_dot_product(ce, be) /
        |                   (sqrt(list_dot_product(ce, ce)) * sqrt(list_dot_product(be, be)))
        |                   * 10000.0 + 0.5) / 10000.0 AS sim
        |      FROM c, b)
        |SELECT vec_id, max(sim) AS max_sim, max(sim) >= 0.95 AS is_contaminated
        |FROM s GROUP BY vec_id""".stripMargin,
    // g3: per-doc TF-IDF top terms — ln(N/df) with the 4dp floor quantization
    // applied BEFORE ranking in both engines, word asc on ties.
    "g3_tfidf_topterms" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tfq AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
        |dfq AS (SELECT word, count(*) AS df FROM tfq GROUP BY word),
        |nq AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tfq.doc_id, tfq.word, tfq.tf, dfq.df,
        |              floor(tfq.tf * ln(CAST(n_docs AS DOUBLE) / dfq.df) * 10000.0 + 0.5)
        |                / 10000.0 AS tfidf
        |       FROM tfq JOIN dfq USING (word), nq)
        |SELECT doc_id, word, tf, df, tfidf, rnk FROM (
        |  SELECT doc_id, word, tf, df, tfidf,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rnk
        |  FROM sc) WHERE rnk <= 3""".stripMargin,
    // g4: per-language vocabulary stats — Heaps/Zipf corpus diagnostics;
    // type-token ratio quantized to 4dp like every cross-engine double.
    "g4_vocab_stats" ->
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT lang, word, count(*) AS ct FROM w GROUP BY lang, word)
        |SELECT lang, CAST(sum(ct) AS BIGINT) AS total_words, count(*) AS vocab,
        |       CAST(sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |       floor(count(*) / CAST(sum(ct) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS ttr
        |FROM wc GROUP BY lang""".stripMargin,
    // g6: Zipf rank-frequency slope — every ln 4dp-quantized at the leaf,
    // per-term products re-quantized, all sums DECIMAL(18,4): enumeration
    // order can never move a digit. Rank ties break by word ascending.
    "g6_zipf_slope" ->
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT lang, word, count(*) AS ct FROM w GROUP BY lang, word),
        |r AS (SELECT lang, ct,
        |             row_number() OVER (PARTITION BY lang ORDER BY ct DESC, word) AS rnk
        |      FROM wc),
        |xy AS (SELECT lang,
        |              floor(ln(CAST(rnk AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS x,
        |              floor(ln(CAST(ct AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS y
        |       FROM r),
        |m AS (SELECT lang, x, y,
        |             count(*) OVER (PARTITION BY lang) AS n,
        |             CAST(sum(CAST(x AS DECIMAL(18,4))) OVER (PARTITION BY lang) AS DOUBLE)
        |               / count(*) OVER (PARTITION BY lang) AS xbar,
        |             CAST(sum(CAST(y AS DECIMAL(18,4))) OVER (PARTITION BY lang) AS DOUBLE)
        |               / count(*) OVER (PARTITION BY lang) AS ybar
        |      FROM xy),
        |t AS (SELECT lang, n,
        |             floor((x - xbar) * (y - ybar) * 10000.0 + 0.5) / 10000.0 AS cov_t,
        |             floor((x - xbar) * (x - xbar) * 10000.0 + 0.5) / 10000.0 AS var_t,
        |             floor((y - ybar) * (y - ybar) * 10000.0 + 0.5) / 10000.0 AS syy_t
        |      FROM m),
        |a AS (SELECT lang, CAST(max(n) AS BIGINT) AS vocab,
        |             CAST(sum(CAST(cov_t AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
        |             CAST(sum(CAST(var_t AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |             CAST(sum(CAST(syy_t AS DECIMAL(18,4))) AS DOUBLE) AS syy
        |      FROM t GROUP BY lang)
        |SELECT lang, vocab,
        |       floor(sxy / sxx * 10000.0 + 0.5) / 10000.0 AS slope,
        |       floor(sxy * sxy / (sxx * syy) * 10000.0 + 0.5) / 10000.0 AS r2
        |FROM a""".stripMargin,
    // s9: temperature mixture weights — alpha fixed at 0.5 because sqrt is
    // IEEE-correctly-rounded everywhere (pow(p,0.7) could ulp-diverge); the
    // sqrt-share denominator sums 4dp DECIMAL terms, order-proof.
    "s9_temperature_mix" ->
      """WITH s AS (SELECT source, count(*) AS n_docs,
        |                  CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS tokens
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM s),
        |q AS (SELECT s.*, t.total_tokens,
        |             floor(sqrt(CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
        |               * 10000.0 + 0.5) / 10000.0 AS sq
        |      FROM s, t),
        |d AS (SELECT CAST(sum(CAST(sq AS DECIMAL(18,4))) AS DOUBLE) AS denom FROM q),
        |w AS (SELECT q.*, d.denom,
        |             floor(sq / denom * 10000.0 + 0.5) / 10000.0 AS temp_w
        |      FROM q, d)
        |SELECT source, n_docs, tokens,
        |       floor(CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
        |         * 10000.0 + 0.5) / 10000.0 AS p,
        |       temp_w,
        |       floor(temp_w * CAST(total_tokens AS DOUBLE) / CAST(tokens AS DOUBLE)
        |         * 10000.0 + 0.5) / 10000.0 AS epochs
        |FROM w""".stripMargin,
    // s10: DSIR importance weights — hashed-bigram bag models, target =
    // t2's quality gate, weight = Σ tf·(ln p̂_t − ln p̂_r) with every ln
    // 4-dp leaf-quantized and summed as DECIMAL (t13 convention); gumbel
    // derives from the doc-id hash so Gumbel-top-k sampling is seedless-
    // deterministic like s1/s2.
    "s10_dsir_weights" ->
      s"""WITH tq AS (SELECT doc_id, string_split(text, ' ') AS w,
         |                   (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END +
         |                    CASE WHEN len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) > 0 THEN 1 ELSE 0 END +
         |                    CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) >= 2 AS is_target
         |            FROM documents
         |            WHERE len(string_split(text, ' ')) >= 2),
         |bi AS (SELECT doc_id, is_target,
         |              ${hex16("md5('dsir:' || w[i] || ' ' || w[i+1])")} % 1024 AS bucket
         |       FROM tq, unnest(range(1, len(w))) AS u(i)),
         |db AS (SELECT doc_id, bucket, is_target, count(*) AS tf
         |       FROM bi GROUP BY doc_id, bucket, is_target),
         |bm AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS cr,
         |               CAST(sum(CASE WHEN is_target THEN tf ELSE 0 END) AS BIGINT) AS ct
         |        FROM db GROUP BY bucket),
         |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM bm),
         |tm AS (SELECT doc_id, tf,
         |              CAST(floor(tf * ln((ct + 1.0) / (nt + 1024.0)) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS term_t,
         |              CAST(floor(tf * ln((cr + 1.0) / (nr + 1024.0)) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS term_r
         |       FROM db JOIN bm USING (bucket) CROSS JOIN tot),
         |wt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_feats,
         |              CAST(sum(term_t) - sum(term_r) AS DOUBLE) AS weight
         |       FROM tm GROUP BY doc_id),
         |gm AS (SELECT doc_id, n_feats, weight,
         |              floor(-ln(-ln((${hex16("md5('gum:' || CAST(doc_id AS VARCHAR))")} + 0.5) / 65536.0))
         |                    * 10000.0 + 0.5) / 10000.0 AS gumbel
         |       FROM wt)
         |SELECT doc_id, n_feats, weight, gumbel, weight + gumbel AS gscore
         |FROM gm""".stripMargin,
    // g2: per-language token quantiles — Spark exact percentile and DuckDB
    // quantile_cont share the (n-1)p linear-interpolation definition
    // bit-for-bit; floor-quantized anyway per the round()-divergence rule.
    "g2_token_quantiles" ->
      """WITH t AS (SELECT lang, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tokens
        |           FROM documents)
        |SELECT lang, count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |       min(tokens) AS min_tokens, max(tokens) AS max_tokens,
        |       floor(quantile_cont(tokens, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50_tokens,
        |       floor(quantile_cont(tokens, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90_tokens
        |FROM t GROUP BY lang""".stripMargin,
    // t12: the Gopher/MassiveText rule battery — every signal integer-
    // compared (10·symbols ≤ words, not ratio ≤ 0.1) so verdicts can never
    // hash-diverge across engines; ratio columns 4-dp quantized. Count-by-
    // length-delta uses plain (non-regex) replace in both engines; the
    // '...'-count division is an exact integer multiple, so DuckDB's
    // round-to-nearest BIGINT cast and Spark's truncating cast agree.
    "t12_gopher_rules" -> t12GopherSql,
    // t13: CCNet bigram-LM scoring — the single ln per (doc,bigram) is
    // 4dp-floor-quantized then summed as DECIMAL(18,4) (exact/associative:
    // double-sum ORDER can never move the hash); P is an integer ratio so
    // the ln argument is bit-identical across engines. Model counts derive
    // from the per-doc aggregate exactly as the Spark side does.
    "t13_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |       FROM t, unnest(range(1, len(w))) AS u(i)),
        |db AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bi GROUP BY doc_id, w1, w2),
        |cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cb FROM db GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(sum(tf) AS BIGINT) AS ctx FROM db GROUP BY w1),
        |vq AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS v
        |       FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)),
        |sc AS (SELECT db.doc_id, db.tf,
        |              CAST(floor(db.tf * ln((cb.cb + 1.0) / (ctx.ctx + vq.v))
        |                   * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS term
        |       FROM db JOIN cb USING (w1, w2) JOIN ctx USING (w1), vq)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |       CAST(sum(term) AS DOUBLE) AS sum_logprob,
        |       floor(CAST(sum(term) AS DOUBLE) * -10000.0 / sum(tf) + 0.5) / 10000.0 AS nll
        |FROM sc GROUP BY doc_id""".stripMargin,
    // t14: CCNet head/middle/tail perplexity bucketing over t13's nll —
    // tertile thresholds BY VALUE from the 4dp-quantized nll histogram
    // (equal scores can never straddle a bucket), head = lowest-nll third.
    "t14_ppl_buckets" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |       FROM t, unnest(range(1, len(w))) AS u(i)),
        |db AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bi GROUP BY doc_id, w1, w2),
        |cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cb FROM db GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(sum(tf) AS BIGINT) AS ctx FROM db GROUP BY w1),
        |vq AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS v
        |       FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)),
        |sc AS (SELECT db.doc_id, db.tf,
        |              CAST(floor(db.tf * ln((cb.cb + 1.0) / (ctx.ctx + vq.v))
        |                   * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS term
        |       FROM db JOIN cb USING (w1, w2) JOIN ctx USING (w1), vq),
        |scored AS (SELECT doc_id,
        |                  floor(CAST(sum(term) AS DOUBLE) * -10000.0 / sum(tf) + 0.5)
        |                    / 10000.0 AS nll
        |           FROM sc GROUP BY doc_id),
        |hist AS (SELECT nll, count(*) AS ct FROM scored GROUP BY nll),
        |cum AS (SELECT nll,
        |               sum(ct) OVER (ORDER BY nll
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |               sum(ct) OVER () AS n
        |        FROM hist),
        |th AS (SELECT min(CASE WHEN cum * 3 >= n THEN nll END) AS t1,
        |              min(CASE WHEN cum * 3 >= n * 2 THEN nll END) AS t2
        |       FROM cum)
        |SELECT doc_id, nll,
        |       CASE WHEN nll <= t1 THEN 'head'
        |            WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM scored, th""".stripMargin,
    // t15: Naive-Bayes quality classifier — add-one multinomial NB over word
    // unigrams, positive class = t2's quality gate, log-odds WITH the class
    // prior (the classifier complement of s10's prior-free importance
    // ratio); every ln leaf-quantized, sums DECIMAL (the t13 convention).
    "t15_nb_quality" ->
      """WITH l AS (SELECT doc_id, string_split(text, ' ') AS w, n_chars FROM documents),
        |lab AS (SELECT doc_id, w,
        |          (CASE WHEN len(w) >= 20 THEN 1 ELSE 0 END +
        |           CASE WHEN len(list_filter(w, x -> x = 'the' OR x = 'a')) > 0 THEN 1 ELSE 0 END +
        |           CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) >= 2 AS is_pos
        |        FROM l),
        |tk AS (SELECT doc_id, is_pos, unnest(w) AS word FROM lab),
        |dw AS (SELECT doc_id, word, is_pos, count(*) AS tf
        |       FROM tk GROUP BY doc_id, word, is_pos),
        |model AS (SELECT word,
        |            CAST(sum(CASE WHEN is_pos THEN tf ELSE 0 END) AS BIGINT) AS cp,
        |            CAST(sum(CASE WHEN NOT is_pos THEN tf ELSE 0 END) AS BIGINT) AS cn
        |          FROM dw GROUP BY word),
        |tot AS (SELECT CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |               CAST(sum(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        |               CAST(sum(CASE WHEN is_pos THEN len(w) ELSE 0 END) AS BIGINT) AS tp,
        |               CAST(sum(CASE WHEN NOT is_pos THEN len(w) ELSE 0 END) AS BIGINT) AS tn
        |        FROM lab),
        |vq AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS v
        |       FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)),
        |sc AS (SELECT dw.doc_id, dw.tf,
        |              CAST(floor(dw.tf * ln((m.cp + 1.0) / (t.tp + vq.v))
        |                   * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS term_p,
        |              CAST(floor(dw.tf * ln((m.cn + 1.0) / (t.tn + vq.v))
        |                   * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS term_n,
        |              CAST(floor(ln(t.np / CAST(t.nn AS DOUBLE))
        |                   * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS prior
        |       FROM dw JOIN model m USING (word), tot t, vq)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(max(prior) + sum(term_p) - sum(term_n) AS DOUBLE) AS log_odds,
        |       CASE WHEN CAST(max(prior) + sum(term_p) - sum(term_n) AS DOUBLE) > 0
        |            THEN 'keep' ELSE 'drop' END AS predicted
        |FROM sc GROUP BY doc_id""".stripMargin,
    // e1: fuzzy entity matching — the oracle brute-forces EVERY distinct
    // name pair (64 names -> 2016 pairs), so the Spark side's bigram
    // blocking must be complete to hash-match; levenshtein is an exact
    // integer in both engines
    "e1_fuzzy_match" ->
      """WITH n AS (SELECT p_name AS name, CAST(count(*) AS BIGINT) AS ct
        |           FROM part GROUP BY p_name)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
        |       a.ct AS ct_a, b.ct AS ct_b
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2""".stripMargin,
    // e2: the name graph transitively closed via WITH RECURSIVE (the d10
    // closure pattern); canonical = name holding min reachable id
    "e2_entity_resolve" ->
      """WITH RECURSIVE n AS (SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS id
        |                     FROM part GROUP BY p_name),
        |e0 AS (SELECT a.id AS a, b.id AS b
        |       FROM n a JOIN n b ON a.name < b.name
        |       WHERE levenshtein(a.name, b.name) <= 2),
        |und AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
        |reach(root, node) AS (
        |  SELECT id, id FROM n
        |  UNION
        |  SELECT r.root, u.dst FROM reach r JOIN und u ON u.src = r.node
        |),
        |cl AS (SELECT root AS id, min(node) AS cluster FROM reach GROUP BY root),
        |canon AS (SELECT n.name, cn.name AS canonical_name
        |          FROM n JOIN cl ON cl.id = n.id JOIN n cn ON cn.id = cl.cluster)
        |SELECT p.p_partkey, p.p_name, canon.canonical_name
        |FROM part p JOIN canon ON canon.name = p.p_name""".stripMargin,
    // t9: regex run-class tokenization (BPE pre-splitter shape).
    "t9_regex_tokens" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+')) AS BIGINT) AS rx_tokens,
        |       CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+'))) AS BIGINT) AS rx_distinct,
        |       regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+')[1] AS first_tok
        |FROM documents""".stripMargin,
    // t10: BPE tokenization — the oracle replays the demo merge table as
    // the SAME double-space-separated string replacements the Spark side
    // folds (single source of truth: CurationOps.DemoBpeMerges), so merge
    // order, simultaneous-pair semantics, and greedy overlap resolution are
    // compared bit-exactly.
    "t10_bpe_tokenize" ->
      s"""WITH w AS (
         |  SELECT doc_id, word_idx, word FROM (
         |    SELECT doc_id,
         |           CAST(unnest(generate_series(1, len(ws))) - 1 AS BIGINT) AS word_idx,
         |           unnest(ws) AS word
         |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |          WHERE doc_id < 100))
         |  WHERE len(word) > 0),
         |t AS (SELECT doc_id, word_idx, word,
         |             string_split(trim($bpeAppliedSql), '  ') AS toks FROM w)
         |SELECT doc_id, word_idx, word,
         |       CAST(unnest(generate_series(1, len(toks))) - 1 AS BIGINT) AS tok_idx,
         |       unnest(toks) AS token
         |FROM t""".stripMargin,
    // t11: per-language stats over REAL BPE token counts — the token CTE is
    // s8's (the shared bpeAppliedSql fold), the aggregation is g2's
    // (quantile_cont == Spark exact percentile, floor-quantized); docs with
    // no non-empty words drop on both sides (inner join on counted docs).
    "t11_bpe_token_stats" ->
      s"""WITH w AS (
         |  SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0),
         |tc AS (SELECT doc_id,
         |              CAST(sum(len(string_split(trim($bpeAppliedSql), '  '))) AS BIGINT) AS tokens
         |       FROM w GROUP BY doc_id)
         |SELECT d.lang, count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS total_tokens,
         |       min(tokens) AS min_tokens, max(tokens) AS max_tokens,
         |       floor(quantile_cont(tokens, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50_tokens,
         |       floor(quantile_cont(tokens, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90_tokens
         |FROM tc JOIN documents d USING (doc_id)
         |GROUP BY d.lang""".stripMargin,
    // b1: bloom-prefiltered decontamination — the bloom is a pure candidate
    // reducer (the exact join decides), so the oracle is the exact pipeline.
    "b1_bloom_decontaminate" ->
      s"""$shingleCte,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |ov AS (SELECT sh.doc_id, count(*) AS overlap_ct
         |       FROM sh JOIN bench USING (shingle) GROUP BY sh.doc_id)
         |SELECT d.doc_id, coalesce(ov.overlap_ct, 0) AS overlap_ct,
         |       coalesce(ov.overlap_ct, 0) = 0 AS is_clean
         |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id""".stripMargin,
    // s1: stratified deterministic hash-sample — bucket = 16-bit salted-md5
    // value % 100, kept iff below the language's rate.
    "s1_hash_sample" ->
      s"""WITH h AS (SELECT doc_id, source, lang,
         |                  md5('smpl:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |b AS (SELECT doc_id, source, lang, ${hex16("h")} % 100 AS bucket FROM h)
         |SELECT lang, doc_id, source, bucket, rate
         |FROM b JOIN (VALUES ('en', 50), ('de', 30), ('es', 20), ('fr', 20), ('zh', 10))
         |            AS r(lang, rate) USING (lang)
         |WHERE bucket < rate""".stripMargin,
    // s12: the A-Res key replayed — u = (hex16 + 0.5)/65536 (exact dyadic),
    // one ln 4dp-floor-quantized like t13, ties by doc_id
    "s12_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, n_chars,
         |                  md5('ws:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |k AS (SELECT doc_id, n_chars,
         |             floor(ln((${hex16("h")} + 0.5) / 65536.0) / n_chars * 10000.0 + 0.5) / 10000.0 AS skey
         |      FROM h),
         |r AS (SELECT doc_id, n_chars, skey,
         |             row_number() OVER (ORDER BY skey DESC, doc_id) AS rnk
         |      FROM k)
         |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, skey, n_chars
         |FROM r WHERE rnk <= 100""".stripMargin,
    // s2: deterministic train-shard shuffle — shard by one salted hash,
    // position by row_number over a second; no global sort on either engine.
    "s2_train_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
         |                  md5('shard:' || CAST(doc_id AS VARCHAR)) AS hs,
         |                  md5('shuf:' || CAST(doc_id AS VARCHAR)) AS shufkey
         |           FROM documents),
         |s AS (SELECT doc_id, ${hex16("hs")} % 8 AS shard, shufkey FROM h)
         |SELECT doc_id, shard,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY shufkey, doc_id) - 1
         |            AS BIGINT) AS pos
         |FROM s""".stripMargin,
    // s3: context-window sequence packing — per-shard running token sum
    // sliced into 512-token sequences; integer division end to end.
    "s3_seq_pack" ->
      s"""WITH t AS (SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tokens,
         |                  md5('shard:' || CAST(doc_id AS VARCHAR)) AS hs
         |           FROM documents),
         |s AS (SELECT doc_id, tokens, ${hex16("hs")} % 8 AS shard FROM t),
         |o AS (SELECT doc_id, shard, tokens,
         |             sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens
         |               AS tok_offset
         |      FROM s)
         |SELECT doc_id, shard, tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
         |       CAST(tok_offset // 512 AS BIGINT) AS seq_idx,
         |       CAST(tok_offset % 512 AS BIGINT) AS seq_offset
         |FROM o""".stripMargin,
    // s8: s3's packing arithmetic over REAL BPE token counts — the token
    // CTE replays t10's merge table per word and sums map-side; docs whose
    // every word is empty drop out on both sides (no tokens to place).
    "s8_bpe_pack" -> {
      s"""WITH w AS (
         |  SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE doc_id < 100)
         |  WHERE len(word) > 0),
         |tc AS (SELECT doc_id,
         |              CAST(sum(len(string_split(trim($bpeAppliedSql), '  '))) AS BIGINT) AS tokens
         |       FROM w GROUP BY doc_id),
         |t AS (SELECT doc_id, tokens,
         |             md5('shard:' || CAST(doc_id AS VARCHAR)) AS hs FROM tc),
         |s AS (SELECT doc_id, tokens, ${hex16("hs")} % 8 AS shard FROM t),
         |o AS (SELECT doc_id, shard, tokens,
         |             sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens
         |               AS tok_offset
         |      FROM s)
         |SELECT doc_id, shard, tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
         |       CAST(tok_offset // 512 AS BIGINT) AS seq_idx,
         |       CAST(tok_offset % 512 AS BIGINT) AS seq_offset
         |FROM o""".stripMargin
    },
    // s5: overlapping token-window chunking — 128-token chunks, stride 96;
    // chunk count by integer ceil, bounds clamped to the doc's tokens.
    "s5_doc_chunk" ->
      """WITH t AS (SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tokens
        |           FROM documents),
        |n AS (SELECT doc_id, tokens,
        |             CASE WHEN tokens <= 128 THEN 1
        |                  ELSE (tokens - 128 + 95) // 96 + 1 END AS n_chunks
        |      FROM t),
        |c AS (SELECT doc_id, tokens,
        |             unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        |      FROM n)
        |SELECT doc_id, tokens, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       CAST(chunk_idx * 96 AS BIGINT) AS tok_start,
        |       CAST(least(chunk_idx * 96 + 128, tokens) AS BIGINT) AS tok_end
        |FROM c""".stripMargin,
    // c2: the composed training-data export — d1 keepers ∧ d3 near-dup
    // removal (LSH pairs, jaccard >= 0.7 drops the higher id) ∧ t5 clean ∧
    // t2 quality, then s3 packing over the survivors.
    "c2_training_pipeline" ->
      s"""$shingleCte,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |ov AS (SELECT sh.doc_id, count(*) AS overlap_ct
         |       FROM sh JOIN bench USING (shingle) GROUP BY sh.doc_id),
         |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |sig AS (SELECT doc_id, $minhashSelect FROM sh GROUP BY doc_id),
         |bands AS (SELECT doc_id, 0 AS band, mh0 || mh1 AS bkey FROM sig
         |          UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
         |          UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig
         |          UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM sig),
         |ndcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |           FROM bands x JOIN bands y
         |             ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |ndcnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |ndinter AS (SELECT c.a, c.b, count(*) AS inter_ct
         |            FROM ndcand c
         |            JOIN sh sa ON sa.doc_id = c.a
         |            JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
         |            GROUP BY c.a, c.b),
         |ndl AS (SELECT DISTINCT i.b AS doc_id
         |        FROM ndinter i JOIN ndcnt ca ON ca.doc_id = i.a
         |                       JOIN ndcnt cb ON cb.doc_id = i.b
         |        WHERE floor(i.inter_ct * 10000.0 / (ca.n + cb.n - i.inter_ct) + 0.5)
         |              / 10000.0 >= 0.7),
         |q AS (SELECT doc_id FROM (
         |        SELECT doc_id, n_chars,
         |               len(string_split(text, ' ')) AS n_words,
         |               len(list_filter(string_split(text, ' '),
         |                   x -> x = 'the' OR x = 'a')) AS stop_ct
         |        FROM documents)
         |      WHERE (CASE WHEN n_words >= 20 THEN 1 ELSE 0 END +
         |             CASE WHEN stop_ct > 0 THEN 1 ELSE 0 END +
         |             CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) >= 2),
         |surv AS (SELECT d.doc_id, d.n_chars FROM documents d
         |         JOIN k ON d.doc_id = k.doc_id
         |         JOIN q ON d.doc_id = q.doc_id
         |         LEFT JOIN ndl ON d.doc_id = ndl.doc_id
         |         LEFT JOIN ov ON d.doc_id = ov.doc_id
         |         WHERE coalesce(ov.overlap_ct, 0) = 0 AND ndl.doc_id IS NULL),
         |t AS (SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tokens,
         |             md5('shard:' || CAST(doc_id AS VARCHAR)) AS hs FROM surv),
         |s AS (SELECT doc_id, tokens, ${hex16("hs")} % 8 AS shard FROM t),
         |o AS (SELECT doc_id, shard, tokens,
         |             sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens
         |               AS tok_offset
         |      FROM s)
         |SELECT doc_id, shard, tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
         |       CAST(tok_offset // 512 AS BIGINT) AS seq_idx,
         |       CAST(tok_offset % 512 AS BIGINT) AS seq_offset
         |FROM o""".stripMargin,
    // s4: data-mixture sampling — keep-rate derived from corpus counts so
    // the sample hits a target distribution; HUGEINT products mirror the
    // Spark side's decimal arithmetic (the triple product can pass int64).
    "s4_mixture_sample" ->
      s"""WITH s AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
         |w AS (SELECT source, n_src,
         |             ${hex16("md5('w:' || source)")} % 9 + 1 AS weight FROM s),
         |t AS (SELECT sum(n_src) AS n_total, sum(weight) AS w_total FROM w),
         |b AS (SELECT doc_id, source,
         |             ${hex16("md5('mix:' || CAST(doc_id AS VARCHAR))")} AS bucket
         |      FROM documents)
         |SELECT b.doc_id, b.source, b.bucket, w.n_src, w.weight
         |FROM b JOIN w USING (source) CROSS JOIN t
         |WHERE CAST(b.bucket AS HUGEINT) * n_src * w_total <
         |      CAST(w.weight AS HUGEINT) * n_total * 65536""".stripMargin,
    // g1: corpus top-5 trigrams per language (multiset counts, rank ties
    // broken by gram text).
    "g1_ngram_topk" ->
      """WITH w AS (SELECT lang, string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT lang, unnest([array_to_string(words[i:i+2], ' ')
        |                           for i in generate_series(1, len(words) - 2)]) AS gram
        |      FROM w WHERE len(words) >= 3),
        |c AS (SELECT lang, gram, count(*) AS ct FROM g GROUP BY 1, 2)
        |SELECT lang, gram, ct, rnk FROM (
        |  SELECT lang, gram, ct,
        |         row_number() OVER (PARTITION BY lang ORDER BY ct DESC, gram) AS rnk
        |  FROM c) WHERE rnk <= 5""".stripMargin,
    "t1_lang_id" ->
      """SELECT doc_id, n_words, stop_ct, char_ct,
        |       CASE WHEN stop_ct * 25 >= n_words * 2 THEN 'en'
        |            WHEN char_ct * 10 >= n_words * 46 THEN 'de'
        |            ELSE 'xx' END AS predicted_lang
        |FROM (SELECT doc_id,
        |             len(string_split(text, ' ')) AS n_words,
        |             len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS stop_ct,
        |             length(replace(text, ' ', '')) AS char_ct
        |      FROM documents)""".stripMargin,
    "t2_text_quality" ->
      """SELECT doc_id, n_chars, n_words, stop_ct, char_ct,
        |       floor(char_ct * 100.0 / n_words + 0.5) / 100.0 AS avg_word_len,
        |       CAST(CASE WHEN n_words >= 20 THEN 1 ELSE 0 END +
        |            CASE WHEN stop_ct > 0 THEN 1 ELSE 0 END +
        |            CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS INTEGER) AS quality_score
        |FROM (SELECT doc_id, n_chars,
        |             len(string_split(text, ' ')) AS n_words,
        |             len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS stop_ct,
        |             length(replace(text, ' ', '')) AS char_ct
        |      FROM documents)""".stripMargin,
    "t3_token_count" ->
      """SELECT doc_id, n_chars,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe_tokens
        |FROM documents""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_full,
        |       md5(substr(text, 1, 64)) AS fp_head,
        |       md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp_sorted
        |FROM documents""".stripMargin,
    // m1: the stubbed decoder derives dims from md5 bytes of the payload —
    // byte i of the digest = 16*hex(2i+1) + hex(2i+2), expressible in SQL.
    // t6: PII redaction — the fixture embeds a deterministic contact line
    // from doc_id, so both engines scrub the same synthesized PII; counts
    // run on the progressively-redacted string, mirroring the Spark side.
    "t6_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+?[0-9][0-9-]{6,}[0-9]"
      val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      s"""WITH p AS (SELECT doc_id,
         |       substr(text, 1, 40) || ' email:user' || CAST(doc_id AS VARCHAR) ||
         |       '@mail.example.com phone:+1-555-' ||
         |       CAST(doc_id % 9000 + 1000 AS VARCHAR) ||
         |       ' ip:10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         |       CAST(doc_id % 254 + 1 AS VARCHAR) AS pii_text
         |     FROM documents),
         |r1 AS (SELECT doc_id, pii_text,
         |              regexp_replace(pii_text, '$email', '<EMAIL>', 'g') AS no_email
         |       FROM p),
         |r2 AS (SELECT *, regexp_replace(no_email, '$phone', '<PHONE>', 'g') AS no_phone
         |       FROM r1)
         |SELECT doc_id,
         |       regexp_replace(no_phone, '$ip', '<IP>', 'g') AS redacted,
         |       CAST(len(regexp_extract_all(pii_text, '$email')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(no_email, '$phone')) AS BIGINT) AS n_phones,
         |       CAST(len(regexp_extract_all(no_phone, '$ip')) AS BIGINT) AS n_ips
         |FROM r2""".stripMargin
    },
    // t8: normalization — the same deterministic noise is synthesized, then
    // lower / strip-to-space / collapse / trim; 'g' replaces all matches.
    "t8_normalize" ->
      """WITH p AS (SELECT doc_id,
        |       upper(substr(text, 1, 30)) || '  ,;' || substr(text, 31, 40) ||
        |       '!? ' || 'Doc#' || CAST(doc_id AS VARCHAR) AS noisy
        |     FROM documents),
        |n AS (SELECT doc_id,
        |             trim(regexp_replace(regexp_replace(lower(noisy),
        |                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS normalized
        |      FROM p)
        |SELECT doc_id, normalized,
        |       CAST(length(normalized) AS BIGINT) AS n_chars_norm
        |FROM n""".stripMargin,
    // t7: repetition scoring — the oracle counts token multiplicities the
    // relational way (unnest + group); Spark computes the same max
    // multiplicity as a map-side fold over the sorted word array.
    "t7_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |base AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
        |                CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct
        |         FROM w),
        |t AS (SELECT doc_id, unnest(words) AS word FROM w),
        |top AS (SELECT doc_id, max(ct) AS top_ct FROM (
        |          SELECT doc_id, word, count(*) AS ct FROM t GROUP BY 1, 2)
        |        GROUP BY 1)
        |SELECT b.doc_id, n_words, n_distinct, top_ct,
        |       floor(n_distinct * 10000.0 / n_words + 0.5) / 10000.0 AS distinct_ratio,
        |       floor(top_ct * 10000.0 / n_words + 0.5) / 10000.0 AS top_share,
        |       (top_ct * 5 > n_words OR n_distinct * 10 < n_words * 3) AS is_repetitive
        |FROM base b JOIN top ON b.doc_id = top.doc_id""".stripMargin,
    "m1_multimodal_decode" ->
      s"""SELECT doc_id, 'image/fake-' || source AS mime,
         |       CAST(length(text) AS BIGINT) AS byte_len,
         |       CAST(64 + (${hexByteSql(0)} * 256 + ${hexByteSql(1)}) % 1984 AS INTEGER) AS width,
         |       CAST(64 + (${hexByteSql(2)} * 256 + ${hexByteSql(3)}) % 1984 AS INTEGER) AS height,
         |       CAST(1 AS INTEGER) AS n_frames
         |FROM documents""".stripMargin,
    // m3: the m1 feature table + resize arithmetic. Both engines compute
    // scale = least(1.0, 512 / max(width, height)) as IEEE double division
    // and floor(dim * scale), so the comparison is bit-exact.
    "m3_resize" -> {
      s"""WITH f AS (SELECT doc_id, 'image/fake-' || source AS mime,
         |            CAST(length(text) AS BIGINT) AS byte_len,
         |            CAST(64 + (${hexByteSql(0)} * 256 + ${hexByteSql(1)}) % 1984 AS INTEGER) AS width,
         |            CAST(64 + (${hexByteSql(2)} * 256 + ${hexByteSql(3)}) % 1984 AS INTEGER) AS height,
         |            CAST(1 AS INTEGER) AS n_frames
         |     FROM documents)
         |SELECT doc_id, mime, byte_len, width, height, n_frames,
         |       least(CAST(1.0 AS DOUBLE), 512 / greatest(width, height)) AS scale,
         |       CAST(floor(width * least(CAST(1.0 AS DOUBLE), 512 / greatest(width, height))) AS INTEGER) AS out_width,
         |       CAST(floor(height * least(CAST(1.0 AS DOUBLE), 512 / greatest(width, height))) AS INTEGER) AS out_height
         |FROM f""".stripMargin
    },
    // m2: Spark really encodes a (1+id%64) × (1+id%48) PNG per doc and
    // really decodes it with javax.imageio; the oracle states the expected
    // output arithmetically — a hash match proves the codec round trip.
    "m2_image_decode" ->
      """SELECT doc_id,
        |       1 + doc_id % 64 AS width,
        |       1 + doc_id % 48 AS height,
        |       (1 + doc_id % 64) * (1 + doc_id % 48) AS n_pixels
        |FROM documents""".stripMargin,
    // m6: perceptual average-hash — the oracle replays the synthetic
    // gradient pixel arithmetic ((x*31 + y*17 + id) & 0xffffff, RGB summed
    // to gray) at the same 4x4 nearest-neighbor sample points and packs the
    // same integer brighter-than-mean bits; a hash match proves the REAL
    // PNG decode returned every sampled pixel bit-exactly.
    "m6_image_phash" ->
      """WITH ids AS (SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) AS w,
        |                    CAST(1 + doc_id % 48 AS BIGINT) AS h FROM documents),
        |s AS (SELECT doc_id, w, h, i, j,
        |             (i * w) // 4 AS x, (j * h) // 4 AS y
        |      FROM ids, unnest(generate_series(0, 3)) u(i),
        |                unnest(generate_series(0, 3)) v(j)),
        |p AS (SELECT doc_id, w, h, i, j,
        |             (x * 31 + y * 17 + doc_id) % 16777216 AS pv FROM s),
        |q AS (SELECT doc_id, w, h, i, j,
        |             (pv // 65536) + ((pv // 256) % 256) + (pv % 256) AS gray FROM p),
        |t AS (SELECT doc_id, sum(gray) AS total FROM q GROUP BY doc_id),
        |hb AS (SELECT q.doc_id, q.w, q.h,
        |              CAST(coalesce(sum(CASE WHEN q.gray * 16 > t.total
        |                THEN CAST(1 AS BIGINT) << CAST(j * 4 + i AS INTEGER)
        |                ELSE CAST(0 AS BIGINT) END), 0) AS BIGINT) AS phash
        |       FROM q JOIN t USING (doc_id) GROUP BY q.doc_id, q.w, q.h)
        |SELECT doc_id, w AS width, h AS height, phash,
        |       CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS dup_ct
        |FROM hb""".stripMargin,
    // m7: the 64-bit hash replayed bit-by-bit (8x8 grid, gray*64 > total),
    // then band-bounded candidates (4×16-bit pigeonhole, complete for
    // hamming <= 3 — the same independently-stated contract as the
    // operator's) verified per-bit over the hash strings;
    // DedupPropertiesSpec pins banded pigeonhole completeness so the shared
    // assumption cannot silently break
    "m7_phash_pairs" -> m7PhashPairsSql,
    // m8: the 2x64-sample energy-prefix key replayed from the recurrence,
    // then d1's group-to-keeper; string_agg ORDER BY frame mirrors the
    // Scala mkString over in-order frames
    "m8_audio_fingerprint" -> m8AudioFpSql,
    // c4: the three modality gates composed as subqueries — each reused
    // VERBATIM from its standalone entry, so a drift in any gate breaks
    // both the standalone hash and the capstone's
    "c4_multimodal_curation" ->
      s"""SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d
         |JOIN ($t12GopherSql) t ON t.doc_id = d.doc_id
         |JOIN (SELECT keeper_id FROM ($m8AudioFpSql) z) au ON au.keeper_id = d.doc_id
         |LEFT JOIN (SELECT DISTINCT doc_b FROM ($m7PhashPairsSql) y) img
         |       ON img.doc_b = d.doc_id
         |WHERE t.keep AND img.doc_b IS NULL""".stripMargin,
    // c5: serving capstone — n10's chain verbatim through the exact
    // rerank (ivfSq8Rer), the full reranked list as the MMR pool, n13's
    // greedy tail verbatim (mmrGreedyTail): a drift in either gated
    // stage breaks both the standalone hash and the capstone's
    "c5_retrieval_serve" -> c5Sql,
    // v1: frame-sampling fan-out — every 30th of the md5-derived frame
    // count, dims from the same digest bytes as m1.
    "v1_frame_sample" -> {
      s"""WITH m AS (SELECT doc_id,
         |             CAST(64 + (${hexByteSql(0)} * 256 + ${hexByteSql(1)}) % 1984 AS INTEGER) AS width,
         |             CAST(64 + (${hexByteSql(2)} * 256 + ${hexByteSql(3)}) % 1984 AS INTEGER) AS height,
         |             1 + ${hexByteSql(4)} % 240 AS n_frames
         |      FROM documents)
         |SELECT doc_id, CAST(unnest(generate_series(0, n_frames - 1, 30)) AS BIGINT) AS frame_idx,
         |       width, height
         |FROM m""".stripMargin
    },
    // v2: the REAL MJPEG round trip — frames = 1 + id % 8, dims 16+id%32 ×
    // 16+id%24 (JPEG is lossy in pixels but exact in geometry, so dims and
    // fan-out pin the container work; pixel fidelity is spec-checked).
    "v2_mjpeg_decode" ->
      """SELECT doc_id,
        |       CAST(unnest(generate_series(0, doc_id % 8)) AS BIGINT) AS frame_idx,
        |       CAST(16 + doc_id % 32 AS INTEGER) AS width,
        |       CAST(16 + doc_id % 24 AS INTEGER) AS height,
        |       (16 + doc_id % 32) * (16 + doc_id % 24) AS n_pixels
        |FROM documents""".stripMargin,
    // v3: v2's fan-out sampled to every 2nd frame (decode-skipping walk).
    "v3_mjpeg_sample" ->
      """SELECT doc_id, frame_idx, width, height FROM (
        |  SELECT doc_id,
        |         CAST(unnest(generate_series(0, doc_id % 8)) AS BIGINT) AS frame_idx,
        |         CAST(16 + doc_id % 32 AS INTEGER) AS width,
        |         CAST(16 + doc_id % 24 AS INTEGER) AS height
        |  FROM documents)
        |WHERE frame_idx % 2 = 0""".stripMargin,
    // m5: the REAL WAV encode→decode round trip lands on the SAME integer
    // recurrence as m4 — identical oracle, so the hash only matches if the
    // RIFF container math, unsigned-byte convention, and sample order all
    // survived the codec.
    "m5_audio_decode" ->
      """WITH s AS (SELECT doc_id, unnest(generate_series(0, n_chars - 1)) AS i
        |           FROM documents WHERE n_chars > 0),
        |t AS (SELECT doc_id, (doc_id * 31 + i * 17) % 256 - 128 AS smp,
        |             i // 64 AS frame
        |      FROM s)
        |SELECT doc_id, CAST(frame AS BIGINT) AS frame, count(*) AS n_samples,
        |       CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
        |       CAST(max(abs(smp)) AS BIGINT) AS max_abs,
        |       CAST(sum(smp * smp) AS BIGINT) AS energy
        |FROM t GROUP BY doc_id, frame""".stripMargin,
    // m4: audio frame features over the deterministic fake PCM recurrence —
    // all-integer, so both engines state the identical samples.
    "m4_audio_features" ->
      """WITH s AS (SELECT doc_id, unnest(generate_series(0, n_chars - 1)) AS i
        |           FROM documents),
        |t AS (SELECT doc_id, (doc_id * 31 + i * 17) % 256 - 128 AS smp,
        |             i // 64 AS frame
        |      FROM s)
        |SELECT doc_id, CAST(frame AS BIGINT) AS frame, count(*) AS n_samples,
        |       CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
        |       CAST(max(abs(smp)) AS BIGINT) AS max_abs,
        |       CAST(sum(smp * smp) AS BIGINT) AS energy
        |FROM t GROUP BY doc_id, frame""".stripMargin
  )
}
