package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond per-doc scoring (TextOps) and near-dup detection (DedupOps):
  * benchmark decontamination, reproducible hash-sampling, deterministic
  * train-shard shuffling, and corpus n-gram frequency analysis.
  *
  * Extends the reference's keyed filter/dedup family (A5,
  * app/dwm/UniqueVisitApp.java:54-102; P3 delete filter,
  * app/dwd/BaseDBApp.java:79-86) from per-key streams to whole-corpus set
  * operations.
  *
  * Scale notes (100 TB): every operator here keys its shuffles on
  * high-cardinality columns (doc_id, n-gram, shard) — nothing funnels through
  * a per-corpus or per-language single reducer, and the one small input (the
  * held-out benchmark n-gram set) rides a broadcast join.
  */
object CurationOps {

  /** 16-bit integer from the first 4 hex chars of a salted md5 of `key` —
    * the engine-portable deterministic "random" used for sampling, shard
    * assignment and hashed features. Reproducible across runs/engines by
    * construction (no RNG state, no partition order dependence), the
    * property that matters for auditable 100 TB samples.
    */
  private def hashBucket(salt: String, key: Column): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 4), 16, 10)
      .cast("long")

  /** T5 — benchmark decontamination (the published GPT-3/Dolma recipe shape):
    * a doc is contaminated if it shares any 3-word shingle with the held-out
    * `bench` documents (the roster and c2 pass every 97th doc as the
    * benchmark corpus). A live stream runs it per micro-batch
    * (`foreachBatch`) against a bench frame built once.
    *
    * Plan shape: the benchmark shingle set is tiny relative to the corpus, so
    * it BROADCASTS; the corpus-side shingle stream is filtered map-side by the
    * broadcast hash join — only matching (rare) rows reach the per-doc count
    * shuffle, and the final left join is keyed on doc_id. At 100 TB the scan
    * dominates; nothing quadratic, no corpus-wide shuffle of shingles.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame): DataFrame = {
    val benchSet = DedupOps.shingles(bench).select("shingle").distinct()
    val overlaps = DedupOps.shingles(docs).join(broadcast(benchSet), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("overlap_ct"))
    docs.select("doc_id")
      .join(overlaps, Seq("doc_id"), "left")
      .withColumn("overlap_ct", coalesce(col("overlap_ct"), lit(0L)))
      .withColumn("is_clean", col("overlap_ct") === 0)
  }

  /** S1 — stratified deterministic hash-sampling: per-language keep rates
    * applied by comparing a salted-md5 bucket (0-99) against the stratum's
    * rate. The sample is a pure per-row predicate — reproducible, join-free
    * on the corpus side beyond a broadcast of the 5-row rate table, and
    * composable with any downstream operator without materializing the sample.
    */
  def hashSample(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rates = Seq(("en", 50), ("de", 30), ("es", 20), ("fr", 20), ("zh", 10))
      .toDF("lang", "rate")
    docs.select(col("doc_id"), col("source"), col("lang"))
      .withColumn("bucket", hashBucket("smpl:", col("doc_id")) % 100)
      .join(broadcast(rates), Seq("lang"))
      .filter(col("bucket") < col("rate"))
  }

  /** S11 — leakage-safe train/val/test split: the evaluation-hygiene
    * counterpart of s1's plain hash split. A naive per-document 80/10/10
    * hash assignment leaks whenever two NEAR-DUPLICATE documents land in
    * different splits (the test set then contains soft copies of training
    * data — the published train/test-overlap failure the GPT-3 and
    * Deduplicating-Training-Data papers measure). Here the UNIT of
    * assignment is the d10 near-dup CLUSTER: every member inherits the
    * split drawn from the salted hash of its cluster_id, so no near-dup
    * pair — even a transitively-connected one — can ever straddle a split
    * boundary, by construction. `naive_split` (the per-doc draw) and
    * `moved` surface the repair for accounting.
    *
    * Split fractions are exact integer comparisons on a 16-bit hash
    * (u·10 < 65536·8 ⇔ u < 80% of the key space) — the s1/s2 seedless
    * determinism discipline, reproducible across engines and runs.
    *
    * Scale notes (100 TB): cluster formation is d10's candidate-bounded
    * LSH + pointer-jumping closure (never pairwise); the split draw itself
    * is a map-side projection over the (doc_id, cluster_id) frame. Nothing
    * new shuffles beyond what d10 already pays; `clusters` is
    * [[graft.operators.DedupOps.nearDupClusters]]' output, so pipelines that
    * already ran it reuse it — the d11 cluster-reuse pattern.
    */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame): DataFrame = {
    def splitOf(key: Column): Column = {
      val u = hashBucket("split:", key)
      when(u * 10 < 65536L * 8, "train")
        .when(u * 10 < 65536L * 9, "val")
        .otherwise("test")
    }
    clusters.select(col("doc_id"), col("cluster_id"),
        splitOf(col("doc_id")).as("naive_split"),
        splitOf(col("cluster_id")).as("split"))
      .withColumn("moved", col("naive_split") =!= col("split"))
  }

  /** C3 — curated training export, the capstone composing this library's
    * classifier-era curation stages (the c1/c2 recipe pattern over the
    * newer operators): (1) corpus-frequency boilerplate removal (d17) —
    * docs keeping at most half their segments are treated as
    * boilerplate-dominated and dropped (`kept_segs·2 > n_segs`, integer
    * compare); (2) Naive-Bayes quality classification (t15) — only
    * `predicted = keep` survives; (3) leakage-safe splitting (s11) — only
    * the TRAIN slice exports, so the emitted corpus can never contain a
    * near-duplicate of a held-out document. Output: the CLEANED text plus
    * the evidence columns each stage decided on.
    *
    * Scale notes (100 TB): three doc_id-keyed equi-joins over per-doc
    * frames — each stage's corpus-scale work is its own documented plan
    * (d17: broadcast anti-join; t15: one reused-exchange shuffle; s11:
    * d10's candidate-bounded closure); the composition adds only the
    * doc_id joins ([[curatedTrainExportOf]], which pipelines that already
    * materialized the three stages call directly). Invariant: inside this
    * one-query form the t15 tf exchange must not run twice — see the
    * isnotnull note at [[graft.operators.TextOps.nbCounts]].
    */
  def curatedTrainExport(docs: DataFrame): DataFrame =
    curatedTrainExportOf(
      cleaned = graft.operators.DedupOps.boilerplateStrip(docs,
        graft.operators.DedupOps.boilerplateSegments(docs)),
      scored = graft.operators.TextOps.nbQualityScore(docs),
      split = leakageSafeSplit(docs,
        graft.operators.DedupOps.nearDupClusters(docs, 0.7)))

  /** [[curatedTrainExport]]'s join tail over already-materialized stage
    * outputs: d17's cleaned frame, t15's scored frame, s11's split frame.
    */
  def curatedTrainExportOf(cleaned: DataFrame, scored: DataFrame,
      split: DataFrame): DataFrame =
    cleaned.join(scored, Seq("doc_id")).join(split, Seq("doc_id"))
      .filter(col("predicted") === "keep" &&
        col("kept_segs") * 2 > col("n_segs") &&
        col("split") === "train")
      .select(col("doc_id"), col("clean_text"), col("kept_segs"),
        col("n_segs"), col("log_odds"), col("cluster_id"))

  /** S2 — deterministic training-shard shuffle: shard by a salted hash, order
    * within each shard by a second hash — the standard "global shuffle" for
    * training export, done WITHOUT a global sort. Each shard's row_number runs
    * on its own reducer, so parallelism = shard count (thousands at 100 TB),
    * and the assignment is bit-reproducible across runs and engines. Eight
    * shards.
    */
  def trainShuffle(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("shufkey"), col("doc_id"))
    docs.select(col("doc_id"))
      .withColumn("shard", hashBucket("shard:", col("doc_id")) % 8)
      .withColumn("shufkey", md5(concat(lit("shuf:"), col("doc_id").cast("string"))))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** S12 — WEIGHTED sampling without replacement (Efraimidis & Spirakis
    * 2006, A-Res): each doc draws a deterministic uniform u from its salted
    * md5 and competes on the key `ln(u)/w` (the log form of u^(1/w) —
    * monotone-equivalent, no overflow); the global top-100 by key win, giving
    * inclusion probability ∝ weight in ONE distributed pass — here weight =
    * `n_chars`, the length-proportional draw a token-budgeted curation pass
    * wants. The single float op (one ln) is 4-dp floor-quantized before
    * ranking — t13's cross-engine determinism recipe — and ties break by
    * doc_id, so both engines rank identically.
    *
    * Scale notes (100 TB): no global sort — `rank ≤ 100` over the keyed
    * window compiles to the two-phase `WindowGroupLimit` (map-side top-100
    * per split, then top-100 of ≤ 100·splits survivors), the r1 plan. The draw
    * itself is a scan-projection; weights never leave their rows.
    */
  def weightedSample(docs: DataFrame): DataFrame = {
    val u = (hashBucket("ws:", col("doc_id")).cast("double") + 0.5) / 65536.0
    val skey = floor(log(u) / col("n_chars") * 10000.0 + 0.5) / 10000.0
    // filter the RAW rank (cast only afterwards): InferWindowGroupLimit
    // matches `Filter(rank <= 100, Window)` — a cast in between regresses the
    // plan to a full single-partition window over the whole corpus
    docs.select(col("doc_id"), col("n_chars"))
      .withColumn("skey", skey)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("skey").desc, col("doc_id"))))
      .filter(col("rnk") <= 100)
      .select(col("rnk").cast("long").as("rnk"),
        col("doc_id"), col("skey"), col("n_chars"))
  }

  /** G1 — corpus top-5 n-grams per language (frequency/contamination
    * analysis). The rank-then-filter compiles to Catalyst's two-phase
    * `WindowGroupLimit`: a MAP-SIDE partial group limit keeps only 5 rows per
    * (input partition, language) before the exchange, so the per-language
    * reducer sees at most 5·partitions rows — never the full gram
    * distribution. (Verified in the physical plan: Sort+WindowGroupLimit
    * precede the Exchange; a hand-rolled two-phase sub-window would add a
    * redundant shuffle.) The count agg before it is keyed on the
    * high-cardinality (lang, gram) with map-side partial aggregation.
    */
  def ngramTopK(docs: DataFrame): DataFrame = {
    // spread FIRST: a compacted corpus arriving as one parquet split would
    // otherwise run the explode + map-side partial count on a single core
    // (same hazard d9 fixes at DedupOps.winnowFingerprints — the shuffle
    // moves only the narrow pre-explode rows)
    val grams = graft.Tables.spread(docs
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 3)
        .select(col("lang"), col("words")))
      .select(col("lang"), explode(DedupOps.shingleExpr(col("words"))).as("gram"))
    val fin = Window.partitionBy("lang").orderBy(col("ct").desc, col("gram"))
    grams.groupBy("lang", "gram").agg(count(lit(1)).as("ct"))
      .withColumn("rnk", row_number().over(fin).cast("long")).filter(col("rnk") <= 5)
      .select("lang", "gram", "ct", "rnk")
  }

  /** G9 — collocation mining: the corpus's top-20 adjacent word pairs by
    * pointwise mutual information (Church & Hanks 1990), the classic
    * corpus-linguistics signal for multiword expressions — high PMI means
    * the pair co-occurs far beyond what its words' base rates predict,
    * min-support-filtered (≥ 5 occurrences) so rare flukes can't top the
    * list.
    * `PMI = ln( P(a,b) / (P(a)·P(b)) )` with P from exact corpus counts;
    * the ONE float op (a single ln over a pinned-association ratio of
    * exact integers) is 4-dp floor-quantized before ranking — the t13
    * recipe — and ties break by (w1, w2), so both engines rank alike.
    *
    * Scale notes (100 TB): unigram and bigram tables are two map-side
    * exploded partial-agg shuffles over (word) / (w1, w2); the corpus
    * totals are one-row broadcasts; the top-20 rides the s12 bounded top-n
    * (filter the RAW rank). Nothing is ever corpus × corpus.
    */
  def collocations(docs: DataFrame): DataFrame = {
    val words = graft.Tables.spread(docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2).select(col("w")))
    // the unigram/bigram MODEL tables are vocabulary-bounded and each feeds
    // several BROADCAST branches (w1 counts, w2 counts, the nw/nb totals),
    // which share no subtree through exchange reuse: materialized, the
    // corpus explode and count run once
    val uni = Materialize(words.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("ct")))
    val bi = Materialize(words.select(explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_ct")))
    val nw = uni.agg(sum("ct").as("nw"))
    val nb = bi.agg(sum("pair_ct").as("nb"))
    val pmi = floor(log(
      col("pair_ct").cast("double") * col("nw") / col("cta") / col("ctb")
        * col("nw") / col("nb")) * 10000.0 + 0.5) / 10000.0
    val scored = bi.filter(col("pair_ct") >= 5)
      .join(broadcast(uni.select(col("t").as("w1"), col("ct").as("cta"))), Seq("w1"))
      .join(broadcast(uni.select(col("t").as("w2"), col("ct").as("ctb"))), Seq("w2"))
      .crossJoin(broadcast(nw)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("pair_ct"), pmi.as("pmi"))
    scored
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("pmi").desc, col("w1"), col("w2"))))
      .filter(col("rnk") <= 20)
      .select(col("rnk").cast("long").as("rnk"),
        col("w1"), col("w2"), col("pair_ct"), col("pmi"))
  }

  /** G10 — cross-source CONTAMINATION matrix: for every pair of corpus
    * sources, how many distinct 3-shingles they share, with each source's
    * shingle-set size and the containment ratio shared/min(|A|,|B|) — the
    * subcorpus-governance view of decontamination (t5/b1 ask "is the
    * benchmark in my corpus?"; g10 asks "how much do my SOURCES overlap
    * each other?", the question behind dataset-mixing dedup budgets and
    * benchmark-family exclusion lists).
    *
    * Scale notes (100 TB): the per-source distinct shingle table is one
    * (source, shingle)-keyed corpus shuffle (map-side partial distinct);
    * the pair join keys on the SHINGLE, whose df is bounded by the SOURCE
    * COUNT (a shingle appears once per source after the distinct), so the
    * join output is ≤ sources²/2 rows per shingle — the d18 posting bound
    * with an intrinsic cap, never corpus × corpus. Both join sides are the
    * same frame, so the exchange is reused; per-source totals and the
    * final ratio ride source²-sized frames. The ratio is 4-dp
    * floor-quantized (t13 recipe) for engine-exact output.
    */
  def crossSourceContamination(docs: DataFrame): DataFrame = {
    val sets = graft.Tables.spread(docs
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 3)
        .select(col("source"), col("words")))
      .select(col("source"), explode(DedupOps.shingleExpr(col("words"))).as("sh"))
      .distinct()
    // NOT materialized: a materialized `sets` de-converts the shingle
    // self-join's runtime broadcast, which AQE sizes from the totals
    // branches' re-derived subtrees; the two re-derivations cost less.
    val totals = sets.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val shared = sets.as("x").join(sets.as("y"),
        col("x.sh") === col("y.sh") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("shared_ct"))
    def q4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    shared
      .join(broadcast(totals.select(col("source").as("source_a"), col("n_sh").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(totals.select(col("source").as("source_b"), col("n_sh").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_ct"),
        col("n_a"), col("n_b"),
        q4(col("shared_ct").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
  }

  /** S13 — exact STRATIFIED sampling: precisely ceil(n_s/10) documents per
    * language stratum (10%), chosen by salted-hash order so the draw is
    * uniform within each stratum, deterministic, and engine-reproducible —
    * the evaluation-set construction that preserves subpopulation shares
    * exactly (a corpus-wide hash threshold only hits each stratum's share
    * in expectation; small strata can miss entirely). The quota compare is
    * the integer form `rnk·10 ≤ n_s + 9` — no float ever enters, and the
    * rank is widened to 64-bit BEFORE the ·10 so strata past ~214M rows
    * (int32/10) can't overflow the quota compare at 100 TB.
    *
    * Scale notes (100 TB): ONE lang-keyed exchange — the rank window and
    * the per-stratum count window share the same partitioning (the s7
    * contract shape). The per-stratum sort is the honest cost of an exact
    * quota; for strata too large to sort, fall back to the threshold draw
    * (binomial-error share) or run s12's A-Res with a fixed per-stratum n
    * — both documented trade-offs, not silent substitutions.
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("skey"), col("doc_id"))
    val cw = Window.partitionBy("lang")
    docs.select(col("doc_id"), col("lang"))
      .withColumn("skey", md5(concat(lit("s13:"), col("doc_id").cast("string"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_s", count(lit(1)).over(cw))
      .filter(col("rnk") * 10 <= col("n_s") + 9)
      .select(col("doc_id"), col("lang"), col("rnk"), col("n_s"))
  }

  /** S14 — CLUSTER-balanced sampling: s13's exact integer quota applied to
    * EMBEDDING-SPACE clusters instead of a metadata stratum — the
    * SemDeDup-era topic-diversity draw (cluster the corpus with the coarse
    * quantizer, then take an exact share of every cluster so dominant
    * topics cannot crowd small ones out of the sample; a corpus-wide hash
    * threshold hits each topic only in expectation). Clusters come from
    * [[graft.operators.AnnOps.seededCellAssign]] — the SAME trained
    * quantizer n10/n11 index with (label-seeded 6-dp exact-mean centroids,
    * 4-dp integer-score geometric reassignment), served from the session
    * memo, so the sampler rides an index that is built once and
    * oracle-stateable (the n2b Lloyd loop is not). Within each cluster the
    * draw is salted-md5 order (uniform, deterministic, engine-exact) and
    * the 10% quota compare stays integer: `rnk·10 ≤ n_c + 9`, rank widened
    * to 64-bit before the ·10 (s13's overflow guard).
    *
    * Scale notes (100 TB): assignment is a map-only projection against the
    * driver-held codebook (no join, no corpus shuffle); the sampler is ONE
    * cell-keyed exchange — the rank window and the per-cell count window
    * share the same partitioning (the s7 contract shape). Same
    * large-stratum trade-offs as s13.
    */
  def clusterBalancedSample(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("cell").orderBy(col("skey"), col("vec_id"))
    val cw = Window.partitionBy("cell")
    graft.operators.AnnOps.seededCellAssign(e)
      .withColumn("skey", md5(concat(lit("s14:"), col("vec_id").cast("string"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_c", count(lit(1)).over(cw))
      .filter(col("rnk") * 10 <= col("n_c") + 9)
      .select(col("vec_id"), col("cell"), col("rnk"), col("n_c"))
  }

  /** S3 — context-window sequence packing: concatenate each shard's token
    * stream in deterministic doc order and slice it into fixed-length training
    * sequences; each doc gets its byte-reproducible (sequence index, offset)
    * placement. This is the standard pretraining "pack to ctx_len" layout
    * (512-token sequences over 8 shards)
    * computed WITHOUT materializing the token stream — pure token-count
    * arithmetic over a running-sum window.
    *
    * Scale notes: the only shuffle is the per-shard window (parallelism =
    * shard count, thousands at 100 TB); the running sum is a streaming frame
    * (ROWS UNBOUNDED PRECEDING — one pass per shard, no buffering); there is
    * no global sort anywhere. Integer division end to end, so placement is
    * bit-reproducible across engines.
    *
    * Token accounting: this face is the chars/4 bootstrap estimate for
    * corpora with no tokenizer yet. The production default once a merge
    * table exists is [[packSequencesFrom]] fed by [[bpeTokenCounts]] — real
    * subword counts at the same plan shape (the s8 gate query runs exactly
    * that composition).
    */
  def packSequences(docs: DataFrame): DataFrame =
    packSequencesFrom(
      docs.select(col("doc_id"), ceil(col("n_chars") / 4.0).cast("long").as("tokens")))

  /** Token-count-parameterized packing: the same placement arithmetic over a
    * caller-supplied `(doc_id, tokens)` frame — e.g. REAL subword counts
    * from [[bpeTokenCounts]] (s8) instead of the chars/4 estimate. Counting
    * and packing compose without materializing any token stream.
    */
  def packSequencesFrom(tokenCounts: DataFrame): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokenCounts.select(col("doc_id"), col("tokens"))
      .withColumn("shard", hashBucket("shard:", col("doc_id")) % 8)
      .withColumn("tok_offset", sum("tokens").over(w) - col("tokens"))
      .withColumn("seq_idx", expr("tok_offset DIV 512"))
      .withColumn("seq_offset", col("tok_offset") % 512)
      .select("doc_id", "shard", "tokens", "tok_offset", "seq_idx", "seq_offset")
  }

  /** S5 — document chunking: split each doc's token span into 128-token
    * windows overlapping by 32 (stride 96; the RAG-embedding / long-document
    * training layout, complementing s3 which packs WHOLE docs into
    * sequences). Chunk count and bounds are all-integer arithmetic —
    * ceil((tokens-128)/96)+1 via integer division — so placement is
    * engine-exact.
    *
    * Scale notes: one map-side explode with per-doc fan-out
    * ceil(tokens/96) — no shuffle at all; at 100 TB the output is
    * bounded by total-tokens/96 rows, each carrying only (doc_id,
    * chunk_idx, bounds).
    */
  def chunkDocuments(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), ceil(col("n_chars") / 4.0).cast("long").as("tokens"))
      .withColumn("n_chunks",
        when(col("tokens") <= 128, 1L)
          .otherwise(expr("(tokens - 128 + 96 - 1) DIV 96") + 1))
      .select(col("doc_id"), col("tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("tok_start", col("chunk_idx") * 96)
      .withColumn("tok_end", least(col("tok_start") + 128, col("tokens")))

  /** B1 — bloom-prefiltered decontamination: semantically identical to
    * [[decontaminate]] (the exact join still decides), but the corpus shingle
    * stream is first cut down MAP-SIDE by an engine-native bloom filter of
    * the benchmark set, built as a scalar subquery (Spark's own runtime-filter
    * machinery: `BloomFilterAggregate` / `BloomFilterMightContain`, exposed on
    * the SQL surface by [[graft.GraftExtensions]]).
    *
    * Scale notes: at 100 TB the held-out set can be too large to broadcast as
    * a hash relation, but its bloom is a few MB regardless — the filter
    * removes the non-overlapping (vast) majority of corpus shingles before
    * ANY join, and the exact join then runs on the rare survivors, so bloom
    * false positives can never change the answer, only cost. This is the
    * sideways information-passing pattern Spark itself applies to shuffle
    * joins, here applied across the decontamination pipeline.
    */
  def bloomDecontaminate(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    graft.GraftExtensions.register(spark)
    // per-call unique view names: a fixed session-global name would let
    // concurrent/interleaved calls on one session stomp each other's views.
    // spark.sql analyzes eagerly, so the views can be dropped on exit.
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val shView = s"graft_sh_$tag"
    val docsView = s"graft_docs_$tag"
    DedupOps.shingles(docs).createOrReplaceTempView(shView)
    docs.select("doc_id").createOrReplaceTempView(docsView)
    try spark.sql(
      s"""WITH bench AS (SELECT DISTINCT shingle FROM $shView WHERE doc_id % 97 = 0),
         |bf AS (SELECT bloom_filter_agg(xxhash64(shingle), 100000L, 800000L) AS bf
         |       FROM bench),
         |cand AS (SELECT doc_id, shingle FROM $shView
         |         WHERE bloom_might_contain((SELECT bf FROM bf), xxhash64(shingle))),
         |ov AS (SELECT c.doc_id, count(*) AS overlap_ct
         |       FROM cand c JOIN bench USING (shingle) GROUP BY c.doc_id)
         |SELECT d.doc_id, coalesce(ov.overlap_ct, 0L) AS overlap_ct,
         |       coalesce(ov.overlap_ct, 0L) = 0L AS is_clean
         |FROM $docsView d LEFT JOIN ov ON d.doc_id = ov.doc_id""".stripMargin)
    finally {
      spark.catalog.dropTempView(shView)
      spark.catalog.dropTempView(docsView)
    }
  }

  /** S4 — data-mixture sampling (the Pile/Dolma mixing stage): unlike s1's
    * FIXED per-stratum rates, the keep-rate here is computed FROM the corpus
    * so the surviving sample approaches a target per-source distribution —
    * expected kept(s) = min(n_s, N · w_s / Σw). The keep decision stays a
    * deterministic pure predicate: bucket(doc) · n_s · Σw < w_s · N · 65536,
    * evaluated in decimal so the triple product cannot overflow BIGINT at
    * 100 TB row counts (65536 · 10^12 · Σw exceeds int64).
    *
    * Plan shape: one small per-source count agg (map-side partial, ~sources
    * rows), its one-row totals, both broadcast — the corpus itself is never
    * shuffled: scan → broadcast join → predicate, same as s1.
    */
  def mixtureSample(docs: DataFrame): DataFrame = {
    val stats = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("weight", hashBucket("w:", col("source")) % 9 + 1)
    val totals = stats.agg(sum("n_src").as("n_total"), sum("weight").as("w_total"))
    val dec = (c: Column) => c.cast("decimal(20,0)")
    docs.select(col("doc_id"), col("source"))
      .withColumn("bucket", hashBucket("mix:", col("doc_id")))
      .join(broadcast(stats), "source")
      .crossJoin(broadcast(totals))
      .filter(dec(col("bucket")) * dec(col("n_src")) * dec(col("w_total")) <
        dec(col("weight")) * dec(col("n_total")) * dec(lit(65536)))
      .select("doc_id", "source", "bucket", "n_src", "weight")
  }

  /** C2 — the end-to-end TRAINING-DATA EXPORT pipeline, the capstone
    * composition a 100 TB curation run actually executes: exact-dedup keeper
    * selection (d1) ∧ NEAR-dup removal (d3's LSH pairs at 0.7
    * Jaccard, greedy keep-lowest-id — real exports dedup first, that is the
    * point of d1-d9) ∧ benchmark decontamination (t5) ∧ quality filter (t2,
    * score ≥ 2), then context-window sequence packing (s3) over the
    * survivors. Every stage is this family's own operator, composed without
    * materialization between stages.
    *
    * Plan shape end to end: keeper groupBy (content hash) + the MinHash
    * band self-join and candidate-bounded Jaccard verify (one (band, key)
    * shuffle — never n², see [[DedupOps.minhashLshPairs]]) + the broadcast
    * bench-shingle overlap + a map-side quality projection + one anti-join
    * and three doc_id semi-joins + the per-shard packing window — all
    * shuffles keyed on high-cardinality columns (hash, band-key, doc_id,
    * shard); the corpus text is scanned once per signal, never re-shuffled
    * wholesale.
    */
  def trainingPipeline(docs: DataFrame): DataFrame = {
    val keepers = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    // near-dup losers: every doc ≥ 0.7 Jaccard-similar to a LOWER-id
    // doc (greedy keep-first: of each pair, the higher id goes); the
    // quantized jaccard compares bit-identically across engines
    val ndLosers = DedupOps.minhashLshPairs(docs)
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_b").as("doc_id")).distinct()
    val clean = decontaminate(docs, docs.filter(col("doc_id") % 97 === 0))
      .filter(col("is_clean")).select("doc_id")
    val w = split(col("text"), " ")
    val quality = docs.select(col("doc_id"),
        size(w).cast("long").as("n_words"),
        size(filter(w, x => x === "the" || x === "a")).cast("long").as("stop_ct"),
        col("n_chars"))
      .filter(TextOps.qualityScore(col("n_words"), col("stop_ct"), col("n_chars")) >= 2)
      .select("doc_id")
    val survivors = docs.select("doc_id", "n_chars")
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(ndLosers, Seq("doc_id"), "left_anti")
      .join(clean, Seq("doc_id"), "left_semi")
      .join(quality, Seq("doc_id"), "left_semi")
    packSequences(survivors)
  }

  /** G2 — per-language token-length distribution profiling (the corpus-stats
    * pass every curation run starts with): doc count, total tokens, min/max,
    * and p50/p90 token quantiles per stratum.
    *
    * Scale notes: the quantiles are Spark's EXACT `percentile`, the value
    * the bit-exact DuckDB oracle states. Its aggregation buffer is a
    * value → count map (Spark 4.1.2's `PercentileBase` folds an
    * `OpenHashMap` whose `update` counts a value and whose `merge` adds the
    * counts), so it grows with the DISTINCT token counts of a language, not
    * with its documents: a token count is a small integer, so a stratum's
    * buffer is bounded by its longest document's token count however many
    * documents it holds. The buffer is mergeable map-side partial state:
    * one partial+final agg keyed on lang, no extra shuffle.
    *
    * Token accounting: chars/4 is the bootstrap estimate; with a trained
    * merge table, [[bpeTokenStats]] (t11) computes the same distribution
    * from real subword counts and is the production default.
    */
  def tokenQuantiles(docs: DataFrame): DataFrame =
    langTokenStats(
      docs.select(col("lang"), ceil(col("n_chars") / 4.0).cast("long").as("tokens")))

  /** The shared per-language distribution aggregation behind [[tokenQuantiles]]
    * (chars/4 estimate) and [[bpeTokenStats]] (real subword counts): one
    * partial+final hash agg keyed on lang over a `(lang, tokens)` frame.
    */
  private def langTokenStats(t: DataFrame): DataFrame = {
    def q(p: Double, name: String): Column =
      (floor(expr(s"percentile(tokens, $p)") * 10000.0 + 0.5) / 10000.0).as(name)
    t.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("total_tokens"),
        min("tokens").as("min_tokens"), max("tokens").as("max_tokens"),
        q(0.5, "p50_tokens"), q(0.9, "p90_tokens"))
  }

  /** S6 — per-domain quota cap (the Common-Crawl-style domain balancer): keep
    * at most `cap` documents per source, chosen by the same salted-md5
    * deterministic order the samplers use (so the retained subset is
    * reproducible and uncorrelated with doc ids). Complements s1's per-stratum
    * RATE with a per-stratum COUNT bound — the knob that stops one giant
    * domain from dominating a mixture.
    *
    * Scale notes: one shuffle keyed on source. The `row_number <= cap` filter
    * plans as Sort+WindowGroupLimit, so each map task forwards at most `cap`
    * rows PER (partition, source) before the exchange — the reducer never
    * sees a whole domain, only `cap · numPartitions` candidates. Domain
    * count, not domain size, bounds the reduce side.
    */
  def domainCap(docs: DataFrame, cap: Int = 15): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("pick"), col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("lang"))
      .withColumn("pick", md5(concat(lit("cap:"), col("doc_id").cast("string"))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= cap)
      .drop("pick")
  }

  /** S7 — length-bucketed micro-batching (the padding-minimization layout for
    * variable-length training): shard deterministically (4 shards), bucket
    * each doc by 32-token length band, order within (shard, bucket) by
    * doc_id and cut into 16-doc batches; report each batch's size, max
    * length, token sum, and padding waste (`n·max − sum` — the tokens a
    * dense [batch × max_len] tensor would pad). Sharding first keeps the
    * windows narrow the same way s3's packer does.
    *
    * Scale notes: one shuffle keyed on (shard, bucket) — parallelism is
    * shard-count × bucket-count, thousands at 100 TB, and the running
    * row_number is a streaming frame (no buffering). The batch aggregation
    * reuses the same partitioning, so it collapses into the window stage
    * without a second exchange.
    */
  def lengthBuckets(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("shard", "bucket").orderBy("doc_id")
    docs.select(col("doc_id"), ceil(col("n_chars") / 4.0).cast("long").as("tokens"))
      .withColumn("shard", hashBucket("lb:", col("doc_id")) % 4)
      .withColumn("bucket", expr("tokens DIV 32"))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_idx", expr("(rn - 1) DIV 16"))
      .groupBy("shard", "bucket", "batch_idx")
      .agg(count(lit(1)).as("n_docs"), max("tokens").as("max_tokens"),
        sum("tokens").as("sum_tokens"))
      .withColumn("batch_idx", col("batch_idx").cast("long"))
      .withColumn("pad_waste", col("n_docs") * col("max_tokens") - col("sum_tokens"))
  }

  /** G3 — per-document TF-IDF top terms (the classic corpus-relative term
    * salience score, still the workhorse for keyword extraction and quality
    * signals in curation stacks): tf = in-doc term count, idf = ln(N/df) with
    * df counted over distinct docs, top 3 terms per doc by the 4-dp-
    * quantized score (word asc on ties — fully deterministic cross-engine).
    *
    * Scale notes: term counting shuffles once on high-cardinality (doc_id,
    * word) with map-side partial agg; document frequency reuses those
    * already-distinct pairs (groupBy word — vocabulary-cardinality, not
    * corpus-cardinality); N rides in as a broadcast one-row aggregate, not a
    * driver-side collect. The final per-doc top-3 is a doc_id-keyed window —
    * WindowGroupLimit bounds it map-side like s6.
    */
  def tfidfTopTerms(docs: DataFrame): DataFrame = {
    val words = graft.Tables.spread(
        docs.select(col("doc_id"), split(col("text"), " ").as("words")))
      .select(col("doc_id"), explode(col("words")).as("word"))
    // materialized: dfreq joins back as a vocab-sized broadcast, and AQE
    // stage reuse does not dedupe the tf exchange between the probe side and
    // that broadcast branch, so the corpus word explode would run twice
    val tf = Materialize(words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
    tf.join(dfreq, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        floor(col("tf") * log(col("n_docs").cast("double") / col("df")) * 10000.0 + 0.5) / 10000.0)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "word", "tf", "df", "tfidf", "rnk")
  }

  /** G4 — per-language vocabulary statistics (the Heaps/Zipf diagnostics a
    * corpus health check starts with): total tokens, vocabulary size,
    * hapax count (words seen exactly once — the long-tail share that drives
    * tokenizer and dedup decisions), and the 4dp-quantized type-token ratio.
    *
    * Scale notes: one shuffle on high-cardinality (lang, word) with map-side
    * partial counts, then a per-language rollup of the already-tiny word
    * rows — no distinct over the raw token stream, nothing keyed on lang
    * until the data is vocabulary-sized.
    */
  def vocabStats(docs: DataFrame): DataFrame = {
    val words = graft.Tables.spread(
        docs.select(col("lang"), split(col("text"), " ").as("words")))
      .select(col("lang"), explode(col("words")).as("word"))
    words.groupBy("lang", "word").agg(count(lit(1)).as("ct"))
      .groupBy("lang")
      .agg(
        sum("ct").as("total_words"),
        count(lit(1)).as("vocab"),
        sum(when(col("ct") === 1, 1L).otherwise(0L)).as("hapax"))
      .withColumn("ttr",
        floor(col("vocab") / col("total_words").cast("double") * 10000.0 + 0.5) / 10000.0)
  }

  /** S9 — temperature-scaled mixture weights per source (the multilingual /
    * multi-source sampling scheme of mBERT/XLM-R and T5: raise each source's
    * token share to α < 1 and renormalize, so low-resource sources are
    * upsampled without letting any source dominate). α is fixed at 0.5 —
    * `sqrt` is IEEE-correctly-rounded in every engine, so the α-scaling
    * itself can never hash-diverge (an arbitrary `pow(p, 0.7)` could differ
    * in the last ulp across libm implementations).
    *
    * Emits, per source: doc/token counts, raw token share `p`, temperature
    * weight `temp_w = √p / Σ√p`, and `epochs = temp_w·T/tokens_s` — the
    * number of passes over that source an equal-token-budget run would make
    * (the upsampling factor). The Σ√p denominator is summed as
    * DECIMAL(18,4) of 4-dp-quantized terms, so source enumeration order
    * can't move the result.
    *
    * Scale notes: one corpus-scale shuffle (the per-source partial-agg
    * groupBy); everything after operates on source-cardinality rows with
    * one-row broadcast totals — no second pass over the corpus, no
    * driver-side collect.
    */
  def temperatureMix(docs: DataFrame): DataFrame = {
    // source-cardinality model table feeding two broadcast branches (tot,
    // denom) plus the main chain: materialized, the corpus is scanned once
    val perSrc = Materialize(docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(ceil(col("n_chars") / 4.0).cast("long")).as("tokens")))
    val tot = perSrc.agg(sum("tokens").as("total_tokens"))
    val q = perSrc.crossJoin(broadcast(tot))
      .withColumn("sq",
        floor(sqrt(col("tokens").cast("double") / col("total_tokens").cast("double"))
          * 10000.0 + 0.5) / 10000.0)
    val denom = q.agg(sum(col("sq").cast("decimal(18,4)")).cast("double").as("denom"))
    q.crossJoin(broadcast(denom))
      .withColumn("p",
        floor(col("tokens").cast("double") / col("total_tokens").cast("double")
          * 10000.0 + 0.5) / 10000.0)
      .withColumn("temp_w", floor(col("sq") / col("denom") * 10000.0 + 0.5) / 10000.0)
      .withColumn("epochs",
        floor(col("temp_w") * col("total_tokens").cast("double")
          / col("tokens").cast("double") * 10000.0 + 0.5) / 10000.0)
      .select("source", "n_docs", "tokens", "p", "temp_w", "epochs")
  }

  /** G6 — Zipf rank-frequency slope per language (with fit quality), the
    * standard corpus-health diagnostic g4's vocab counts bootstrap: regress
    * ln(freq) on ln(rank) over the vocabulary and report the slope (healthy
    * natural-language corpora sit near −1; machine-generated or template
    * text bends the curve) and r².
    *
    * Every ln is 4-dp floor-quantized at the leaf, per-term products are
    * quantized again, and ALL sums run over DECIMAL(18,4) — rank order,
    * partial-aggregation order, and engine enumeration order can never move
    * a digit, the same discipline as t13's log-likelihoods. Ranks tie-break
    * by word ascending, fully deterministic cross-engine.
    *
    * Scale notes: one corpus-scale shuffle to count (lang, word); the
    * regression runs entirely on vocabulary-sized rows — the rank window and
    * the final per-language rollup share the lang partitioning, and the
    * per-language means ride a window over the same partitioning instead of
    * a join-back.
    */
  def zipfSlope(docs: DataFrame): DataFrame = {
    val byLang = Window.partitionBy("lang")
    val rankW = byLang.orderBy(col("ct").desc, col("word"))
    def q4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0
    def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).over(byLang).cast("double")
    val wc = graft.Tables.spread(
        docs.select(col("lang"), split(col("text"), " ").as("words")))
      .select(col("lang"), explode(col("words")).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("ct"))
    wc.withColumn("rnk", row_number().over(rankW))
      .withColumn("x", q4(log(col("rnk").cast("double"))))
      .withColumn("y", q4(log(col("ct").cast("double"))))
      .withColumn("n", count(lit(1)).over(byLang))
      .withColumn("xbar", dsum(col("x")) / col("n"))
      .withColumn("ybar", dsum(col("y")) / col("n"))
      .withColumn("cov_t", q4((col("x") - col("xbar")) * (col("y") - col("ybar"))))
      .withColumn("var_t", q4((col("x") - col("xbar")) * (col("x") - col("xbar"))))
      .withColumn("syy_t", q4((col("y") - col("ybar")) * (col("y") - col("ybar"))))
      .groupBy("lang")
      .agg(max("n").as("vocab"),
        sum(col("cov_t").cast("decimal(18,4)")).cast("double").as("sxy"),
        sum(col("var_t").cast("decimal(18,4)")).cast("double").as("sxx"),
        sum(col("syy_t").cast("decimal(18,4)")).cast("double").as("syy"))
      .withColumn("slope", q4(col("sxy") / col("sxx")))
      .withColumn("r2", q4(col("sxy") * col("sxy") / (col("sxx") * col("syy"))))
      .select("lang", "vocab", "slope", "r2")
  }

  // ---------------------------------------------------------------------
  // T10 — deterministic BPE-style subword tokenization (Sennrich/Haddow/
  // Birch, ACL'16): train a merge table from adjacent-symbol pair
  // frequencies, then tokenize by applying the merges in rank order.
  // Replaces the chars/4 token ESTIMATE (t3/g2/s3) with real subword
  // accounting for a training-data pipeline.
  //
  // Symbol-string representation (shared by train and tokenize, and by the
  // DuckDB oracle): a word is its characters joined by DOUBLE spaces with
  // double-space margins ("  h  e  y  "); merge (a, b) is the plain string
  // replacement " a  b " → " ab ". The single-space margins inside the
  // pattern leave each neighbor's half of the boundary intact, so every
  // non-overlapping (a, b) occurrence in a word merges in ONE left-to-right
  // replace pass — e.g. "a b a b" → "ab ab" — while overlapping runs merge
  // greedily left-first ("l l l" → "ll l"), exactly the classic BPE apply
  // order. Later merges only ever reference symbols built by earlier ranks
  // and fusing neighbors never creates a new adjacency of older symbols, so
  // one pass per rank equals apply-until-fixpoint. `replace` is leftmost
  // non-overlapping in both engines, making the oracle bit-exact.
  // ---------------------------------------------------------------------

  private val BpeSep = "  " // double-space symbol separator (see above)

  /** A word as a BPE symbol string: "  c1  c2  ...  cn  ". */
  private def bpeSymbols(word: Column): Column =
    concat(lit(BpeSep), array_join(split(word, ""), BpeSep), lit(BpeSep))

  /** Apply a merge table (rank order) to a symbol-string column — a fold of
    * codegen'd `replace` calls, one per merge: pure map-side scan-project,
    * no UDF, no shuffle. The merge table rides in the plan as literals (the
    * broadcast-analog for expression trees).
    */
  def bpeApply(sym: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(sym) { case (s, (a, b)) =>
      replace(s, lit(s" $a$BpeSep$b "), lit(s" $a$b "))
    }

  /** Fixed demo merge table for the oracle-checked t10 face: plausible
    * English merges,
    * ordered so later ranks consume earlier outputs (th→the, an→and,
    * in→ing) — the sequencing is what the oracle must reproduce.
    */
  val DemoBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("o", "n"),
    ("e", "r"), ("an", "d"), ("o", "u"), ("in", "g"), ("s", "t"))

  /** T10 — tokenize every word of every document through a merge table:
    * one row per (doc, word, subword token). Tokenization is a pure
    * scan-project (split + K `replace` calls + explode, all codegen'd);
    * the only shuffle is `spread`'s split widening for compacted inputs.
    */
  def bpeTokenize(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    // spread BEFORE the posexplode — same rationale as [[bpeTokenCountsWith]]:
    // one narrow row per doc crosses the widening shuffle, not the word stream
    val words = graft.Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("word_idx", "word")))
      .filter(length(col("word")) > 0)
      .withColumn("word_idx", col("word_idx").cast("long"))
    words.select(col("doc_id"), col("word_idx"), col("word"),
        posexplode(split(trim(bpeApply(bpeSymbols(col("word")), merges)), BpeSep))
          .as(Seq("tok_idx", "token")))
      .withColumn("tok_idx", col("tok_idx").cast("long"))
  }

  /** Real per-document subword token counts from a merge table — the
    * drop-in replacement for the chars/4 estimate once a table is trained.
    * Counted WITHOUT the per-token explode: one `size(split(...))` per word
    * summed map-side, so the shuffle carries one row per doc.
    */
  def bpeTokenCounts(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    bpeTokenCountsWith(docs, merges, Nil)

  /** [[bpeTokenCounts]] carrying extra per-document columns (e.g. `lang`)
    * through the one counting aggregation — ONE corpus scan, no join-back.
    * The carried columns are functionally dependent on doc_id, so adding
    * them to the grouping key changes nothing but the schema.
    */
  private def bpeTokenCountsWith(docs: DataFrame, merges: Seq[(String, String)],
      carry: Seq[String]): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    // spread BEFORE exploding (the d9/g1 convention): the widening shuffle
    // moves one narrow row per DOC; exploding first would put the whole
    // word stream — corpus-sized at 100 TB — on the wire instead
    graft.Tables.spread(docs.select(keep :+ col("text"): _*))
      .select(keep :+ explode(split(col("text"), " ")).as("word"): _*)
      .filter(length(col("word")) > 0)
      .select(keep :+
        size(split(trim(bpeApply(bpeSymbols(col("word")), merges)), BpeSep))
          .cast("long").as("word_tokens"): _*)
      .groupBy(keep: _*).agg(sum(col("word_tokens")).as("tokens"))
  }

  /** T11 — per-language token distribution over REAL BPE subword counts:
    * [[tokenQuantiles]]' aggregation fed by [[bpeTokenCounts]] through a
    * merge table instead of the chars/4 estimate. With a trained table this
    * is the PRODUCTION token-accounting default — the chars/4 faces (t3, g2,
    * s3's [[packSequences]]) are the bootstrap path for corpora with no
    * tokenizer yet.
    *
    * Docs whose every word is empty have no tokens to count and drop out
    * (same contract as s8). Plan shape: ONE corpus scan — counting is
    * map-side (one `size(split(replace-fold))` per word, summed before the
    * one (doc_id, lang)-keyed shuffle; lang rides the grouping key instead
    * of a join-back, which at 100 TB would be a second corpus scan and a
    * doc_id shuffle), then the same lang-keyed partial+final hash agg as g2.
    */
  def bpeTokenStats(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    langTokenStats(
      bpeTokenCountsWith(docs, merges, Seq("lang")).select("lang", "tokens"))

  /** S10 — DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    * importance weights from hashed-n-gram bag-of-words models. Each doc's
    * word bigrams hash into 1024 buckets; two add-one-smoothed unigram-
    * over-buckets models are fit — `target` (docs passing t2's quality
    * gate, the stand-in for the paper's formal-text target corpus) and
    * `raw` (the whole corpus) — and the doc's weight is its log importance
    * ratio Σ_b tf_b·(ln p̂_t(b) − ln p̂_r(b)). The paper then resamples
    * ∝ weight with Gumbel-top-k; `gscore` adds a DETERMINISTIC Gumbel
    * perturbation (−ln(−ln u), u from the doc-id hash — reproducible
    * across engines and runs, the same seedless-hash discipline as s1/s2),
    * so a downstream `ORDER BY gscore LIMIT k` IS Gumbel-top-k sampling.
    *
    * Determinism: every ln is 4-dp floor-quantized at the leaf and the
    * per-doc sums ride DECIMAL(18,4) (exact, associative) — the t13
    * convention, so shuffle merge order can never move the hash.
    *
    * Three pieces, the t13 split: [[dsirCounts]], [[dsirModel]] and
    * [[dsirWeightsBy]]; this operator composes them over one count table, a
    * live stream weighs each micro-batch's counts against a model built
    * once.
    *
    * Scale notes (100 TB): ONE corpus-scale shuffle — the (doc_id, bucket)
    * tf aggregation; `is_target` is computed in the same scan and rides
    * the explode, so no join back to the corpus. Both models group the
    * ALREADY doc-aggregated rows (bucket-sized output; the token totals
    * sum those rows) and come back as 1024-row broadcasts; the Gumbel term
    * is a map-side projection.
    * Nothing quadratic, nothing driver-side.
    */
  def dsirWeights(docs: DataFrame): DataFrame = {
    val db = dsirCounts(docs)
    dsirWeightsBy(db, dsirModel(db))
  }

  /** S10's per-doc hashed-bigram counts `(doc_id, bucket, is_target, tf)`,
    * materialized: the model and the weights probe both read these blocks,
    * so the corpus bigram explode runs once.
    */
  private[graft] def dsirCounts(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    // the target corpus: t2's quality gate
    val isTarget = TextOps.qualityScore(size(w).cast("long"),
      size(filter(w, x => x === "the" || x === "a")).cast("long"), col("n_chars")) >= 2
    // spread first: the bigram explode + per-bigram md5 bucketing is the
    // operator's real work and would otherwise run inside a single-split
    // scan stage; pass-through on well-split inputs
    val toks = graft.Tables.spread(
        docs.select(col("doc_id"), col("text"), col("n_chars")))
      .select(col("doc_id"), isTarget.as("is_target"), w.as("w"))
      .filter(size(col("w")) >= 2)
    val bi = toks.select(col("doc_id"), col("is_target"),
        explode(TextOps.bigrams("w")).as("b"))
      .select(col("doc_id"), col("is_target"),
        (hashBucket("dsir:", concat(col("b.w1"), lit(" "), col("b.w2"))) % 1024).as("bucket"))
      // never null (a 4-hex-digit conv), but stated: the blocks then carry a
      // non-nullable bucket, so no join infers a filter that would make the
      // model's two consumers differ and lose their shared exchange
      .filter(col("bucket").isNotNull)
    // is_target rides the GROUPING KEY (it is constant per doc, so the rows
    // are identical): as an aggregated column each model consumer would
    // prune it differently and de-canonicalize the shared subtree
    Materialize(bi.groupBy("doc_id", "bucket", "is_target")
      .agg(count(lit(1)).as("tf")))
  }

  /** S10's two models trained on the reference whose per-doc counts are
    * `counts` (= `dsirCounts(reference)`): per-bucket raw and target counts
    * `(bucket, cr, ct)` and the one-row token totals `nr`/`nt`.
    */
  private[graft] def dsirModel(counts: DataFrame): (DataFrame, DataFrame) = {
    // BOTH models from one bucket-keyed aggregation (a conditional sum for
    // the target counts): a separate filtered target frame would push its
    // predicate below the shared exchange and de-canonicalize it
    val bm = counts.groupBy("bucket").agg(sum("tf").as("cr"),
      sum(when(col("is_target"), col("tf")).otherwise(0L)).as("ct"))
    // the totals sum the same bm rows, so the two share bm's exchange
    (bm, bm.agg(sum("cr").as("nr"), sum("ct").as("nt")))
  }

  /** S10's weights of per-doc bucket `counts` against `model`. A bucket the
    * model never saw backs off to the add-one zero-count estimate on both
    * models (a left join, counts coalesced to 0).
    */
  private[graft] def dsirWeightsBy(counts: DataFrame,
      model: (DataFrame, DataFrame)): DataFrame = {
    val (bm, totals) = model
    def lnTerm(num: Column, den: Column): Column =
      (floor(col("tf") * log(num / den) * 10000.0 + 0.5) / 10000.0)
        .cast("decimal(18,4)")
    val weights = counts.join(broadcast(bm), Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("term_t", lnTerm(coalesce(col("ct"), lit(0L)) + 1.0, col("nt") + 1024.0))
      .withColumn("term_r", lnTerm(coalesce(col("cr"), lit(0L)) + 1.0, col("nr") + 1024.0))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_feats"),
        (sum(col("term_t")) - sum(col("term_r"))).cast("double").as("weight"))
    val u = (hashBucket("gum:", col("doc_id")).cast("double") + 0.5) / 65536.0
    weights
      .withColumn("gumbel", floor(-log(-log(u)) * 10000.0 + 0.5) / 10000.0)
      .withColumn("gscore", col("weight") + col("gumbel"))
  }
}
