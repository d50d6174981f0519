package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over `documents`:
  * language-ID heuristic, quality scoring, token counting, fingerprinting.
  * Generalizes the reference's tokenizer surface (X1,
  * app/function/SplitFunction.java:12-28 + utils/KeywordUtil.java:14-34).
  *
  * Scale notes: all are per-row narrow transformations (no shuffle at all) of
  * codegen'd string/array functions — they scan-and-project, so at 100 TB they
  * are bandwidth-bound with full column pruning. Thresholds are compared in
  * integer arithmetic so results hash-match any oracle bit-for-bit.
  */
object TextOps {
  private def words(c: Column): Column = split(c, " ")
  // counts surface as BIGINT to match the oracle engine's len()/length()
  private def nWords(w: Column): Column = size(w).cast("long")
  private def stopCt(w: Column): Column =
    size(filter(w, x => x === "the" || x === "a")).cast("long")
  private def charCt(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("long")

  /** T1 — language-ID by n-gram/stopword heuristic. Integer-ratio thresholds:
    * en iff stopword ratio ≥ 8% (25·stop ≥ 2·n), else de iff avg word length
    * ≥ 4.6 (10·chars ≥ 46·n), else unknown.
    */
  def langId(d: DataFrame): DataFrame = {
    val w = words(col("text"))
    d.select(col("doc_id"), nWords(w).as("n_words"), stopCt(w).as("stop_ct"),
        charCt(col("text")).as("char_ct"))
      .withColumn("predicted_lang",
        when(col("stop_ct") * 25 >= col("n_words") * 2, "en")
          .when(col("char_ct") * 10 >= col("n_words") * 46, "de")
          .otherwise("xx"))
  }

  /** T2 — quality scoring: length / stopword signals with a small additive
    * score (the punctuation ratio of real corpora degenerates to 0 on this
    * synthetic text; the signal structure is what carries to 100 TB).
    */
  def textQuality(d: DataFrame): DataFrame = {
    val w = words(col("text"))
    d.select(col("doc_id"), col("n_chars"), nWords(w).as("n_words"),
        stopCt(w).as("stop_ct"), charCt(col("text")).as("char_ct"))
      // floor(x*100+0.5)/100: deterministic 2-dp quantization (see DedupOps)
      .withColumn("avg_word_len",
        floor(col("char_ct") * 100.0 / col("n_words") + 0.5) / 100.0)
      .withColumn("quality_score",
        qualityScore(col("n_words"), col("stop_ct"), col("n_chars")).cast("int"))
  }

  /** T2's additive quality score: one point each for ≥ 20 words, any
    * stopword, ≥ 100 chars. t2's quality GATE is `score ≥ 2` — the filter
    * of c1 and c2, t15's positive class and s10's target corpus.
    */
  private[graft] def qualityScore(nWords: Column, stopCt: Column, nChars: Column): Column =
    when(nWords >= 20, 1).otherwise(0) +
      when(stopCt > 0, 1).otherwise(0) +
      when(nChars >= 100, 1).otherwise(0)

  /** T3 — token counting: whitespace tokens + a BPE-ish estimate (chars/4,
    * the published GPT-style rule of thumb), both exact integers.
    *
    * The estimate is the tokenizer-less bootstrap; once a merge table is
    * trained, [[graft.operators.CurationOps.bpeTokenCounts]] (s8/t11) counts
    * REAL subwords at the same one-row-per-doc shuffle cost and is the
    * production accounting default.
    */
  def tokenCount(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), col("n_chars"), nWords(words(col("text"))).as("ws_tokens"))
      .withColumn("bpe_tokens", ceil(col("n_chars") / 4.0).cast("long"))
  }

  /** T4 — document fingerprinting: full-content hash, head-64 hash (rolling
    * prefix), and an order-insensitive hash of the sorted token bag — the three
    * standard near-dup fingerprints.
    */
  def fingerprint(d: DataFrame): DataFrame = {
    d.select(col("doc_id"),
      md5(col("text")).as("fp_full"),
      md5(substring(col("text"), 1, 64)).as("fp_head"),
      md5(concat_ws(" ", array_sort(words(col("text"))))).as("fp_sorted"))
  }

  /** C1 — the end-to-end training-data CURATION pipeline, composed from the
    * family's own stages exactly as a 100 TB corpus run would chain them:
    * exact-dedup keeper selection (d1's min-id-per-content-hash) ∧ language
    * filter (t1, keep 'en') ∧ quality filter (t2, score ≥ 2), then per-doc
    * token accounting (t3) on the survivors.
    *
    * Plan shape: ALL per-doc signals come out of one map-side projection (the
    * lang/quality/token formulas share the split-words subexpression — no
    * repeated scans, no join between t1/t2/t3); the only shuffles are the
    * content-hash groupBy that picks keepers and the doc_id semi-join that
    * applies them — both shuffle-key-balanced, nothing quadratic, so the
    * pipeline is two narrow shuffles regardless of corpus size.
    */
  def curateCorpus(d: DataFrame): DataFrame = {
    val w = words(col("text"))
    val enriched = d.select(col("doc_id"), col("n_chars"),
        nWords(w).as("n_words"), stopCt(w).as("stop_ct"),
        charCt(col("text")).as("char_ct"))
      .withColumn("predicted_lang",
        when(col("stop_ct") * 25 >= col("n_words") * 2, "en")
          .when(col("char_ct") * 10 >= col("n_words") * 46, "de")
          .otherwise("xx"))
      .withColumn("quality_score",
        qualityScore(col("n_words"), col("stop_ct"), col("n_chars")).cast("int"))
      .withColumn("bpe_tokens", ceil(col("n_chars") / 4.0).cast("long"))
    val keepers = d.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    enriched
      .join(keepers, Seq("doc_id"), "left_semi")
      .filter(col("predicted_lang") === "en" && col("quality_score") >= 2)
      .select("doc_id", "n_words", "quality_score", "bpe_tokens")
  }

  /** T12 — the published Gopher/MassiveText document-quality rule battery
    * (Rae et al. 2021, §A1.1), the de-facto standard pre-filter for LLM
    * training corpora: word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
    * fraction, and a minimum stopword count. Emits every signal plus its
    * per-rule verdict and the conjunctive `keep`, so thresholds can be
    * re-swept from the signal columns without another scan.
    *
    * All seven rules compare in INTEGER arithmetic (`10·symbols ≤ words`
    * instead of `ratio ≤ 0.1`), so verdicts hash-match any oracle
    * bit-for-bit; the two surfaced ratio columns are 4-dp quantized for the
    * same reason. Like t2, signals whose natural trigger is absent from the
    * synthetic fixture (newlines, bullets) degrade gracefully — a
    * single-line doc is one non-bullet, non-ellipsis line — and the rule
    * structure is what carries to a real corpus.
    *
    * Scale notes: one narrow scan-projection, zero shuffles, no UDFs —
    * every signal is a codegen'd string/array function over the shared
    * word/line splits, so at 100 TB this is scan-bandwidth-bound with full
    * column pruning, exactly like t1-t9.
    */
  def gopherRules(d: DataFrame): DataFrame = {
    val w = words(col("text"))
    val lines = split(col("text"), "\n")
    // non-overlapping left-to-right counts via length deltas — `replace`
    // (not regexp) has identical semantics in Spark and SQL oracles
    def ct(c: Column, s: String): Column =
      ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(s), ""))) / s.length).cast("long")
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    d.select(col("doc_id"), nWords(w).as("n_words"), charCt(col("text")).as("char_ct"),
        (ct(col("text"), "#") + ct(col("text"), "...")).as("symbol_ct"),
        size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("long").as("alpha_words"),
        size(filter(w, x => x.isInCollection(stops))).cast("long").as("stop_ct"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, x => ltrim(x).startsWith("-") || ltrim(x).startsWith("*") ||
          ltrim(x).startsWith("•"))).cast("long").as("bullet_lines"),
        size(filter(lines, x => rtrim(x).endsWith("..."))).cast("long").as("ellipsis_lines"))
      .withColumn("mean_word_len",
        floor(col("char_ct") * 10000.0 / col("n_words") + 0.5) / 10000.0)
      .withColumn("symbol_ratio",
        floor(col("symbol_ct") * 10000.0 / col("n_words") + 0.5) / 10000.0)
      .withColumn("r_word_count", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_word_len", // 3 ≤ char_ct/n_words ≤ 10, integer form
        col("char_ct") >= col("n_words") * 3 && col("char_ct") <= col("n_words") * 10)
      .withColumn("r_symbol_ratio", col("symbol_ct") * 10 <= col("n_words"))
      .withColumn("r_bullet_lines", col("bullet_lines") * 10 <= col("n_lines") * 9)
      .withColumn("r_ellipsis_lines", col("ellipsis_lines") * 10 <= col("n_lines") * 3)
      .withColumn("r_alpha_words", col("alpha_words") * 10 >= col("n_words") * 8)
      .withColumn("r_stopwords", col("stop_ct") >= 2)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
        col("r_bullet_lines") && col("r_ellipsis_lines") && col("r_alpha_words") &&
        col("r_stopwords"))
  }

  /** Shared regexes for [[piiRedact]] — restricted to syntax with identical
    * semantics in Java regex (Spark) and RE2 (common oracle engines): explicit
    * character classes, no `\d`/`\b`/lookaround.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9-]{6,}[0-9]"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** T6 — PII redaction (email / phone / IPv4 → typed placeholders), the
    * standard pre-release scrub stage of a training-data pipeline. The corpus
    * text carries no PII, so the fixture embeds a deterministic contact line
    * derived from doc_id before scrubbing — the oracle synthesizes the same
    * line, so the hash-match proves the redaction regexes themselves.
    *
    * Scale notes: three chained `regexp_replace`/`regexp_count` calls in one
    * map-side projection — no shuffle, no UDF, whole-stage codegen'd; at
    * 100 TB this is scan-bandwidth-bound like t1-t4. Counts run on the
    * progressively-redacted string (phones after emails are gone, IPs after
    * phones) so one pattern can never double-count inside another's match.
    */
  def piiRedact(d: DataFrame): DataFrame = {
    val s = (c: Column) => c.cast("string")
    val withPii = d.select(col("doc_id"),
      concat(substring(col("text"), 1, 40),
        lit(" email:user"), s(col("doc_id")), lit("@mail.example.com"),
        lit(" phone:+1-555-"), s(col("doc_id") % 9000 + 1000),
        lit(" ip:10."), s(col("doc_id") % 256), lit(".0."), s(col("doc_id") % 254 + 1)
      ).as("pii_text"))
    val noEmail = regexp_replace(col("pii_text"), EmailRe, "<EMAIL>")
    val noPhone = regexp_replace(noEmail, PhoneRe, "<PHONE>")
    withPii.select(col("doc_id"),
      regexp_replace(noPhone, Ipv4Re, "<IP>").as("redacted"),
      regexp_count(col("pii_text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(noEmail, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(noPhone, lit(Ipv4Re)).cast("long").as("n_ips"))
  }

  /** T7 — repetition scoring (the Gopher/Dolma repetition filters): distinct
    * token ratio and the top token's frequency share, with a flag combining
    * both (top token > 20% of the doc, or < 30% distinct tokens).
    *
    * Scale notes: the top-token count is a fold over the SORTED word array —
    * the longest equal-run of a sorted array IS the max multiplicity — so the
    * whole operator is one map-side projection: no explode, no per-(doc, word)
    * groupBy, no shuffle at all. An exploding implementation would shuffle
    * one row per token (≈ 25× the corpus row count at 100 TB) to compute a
    * per-row property.
    */
  def repetitionStats(d: DataFrame): DataFrame = {
    val w = words(col("text"))
    d.select(col("doc_id"), nWords(w).as("n_words"),
        size(array_distinct(w)).cast("long").as("n_distinct"),
        expr("""aggregate(
                  array_sort(split(text, ' ')),
                  named_struct('prev', '', 'run', 0L, 'best', 0L),
                  (acc, x) -> named_struct(
                    'prev', x,
                    'run', IF(x = acc.prev, acc.run + 1L, 1L),
                    'best', GREATEST(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))),
                  acc -> acc.best)""").as("top_ct"))
      .withColumn("distinct_ratio",
        floor(col("n_distinct") * 10000.0 / col("n_words") + 0.5) / 10000.0)
      .withColumn("top_share",
        floor(col("top_ct") * 10000.0 / col("n_words") + 0.5) / 10000.0)
      .withColumn("is_repetitive",
        col("top_ct") * 5 > col("n_words") || col("n_distinct") * 10 < col("n_words") * 3)
  }

  /** T8 — text normalization (the pre-dedup canonicalization stage: Dolma/
    * CCNet-style): lowercase, strip non-alphanumerics to spaces, collapse
    * whitespace runs, trim. The corpus text is already canonical, so the
    * fixture first derives a deterministically-noisy variant (case flips,
    * punctuation, doubled spacing) from each doc — the oracle synthesizes
    * the same noise, so the hash match proves the normalization chain.
    * One shuffle-free codegen'd projection, like t6.
    */
  def normalizeText(d: DataFrame): DataFrame = {
    val noisy = concat(
      upper(substring(col("text"), 1, 30)), lit("  ,;"),
      substring(col("text"), 31, 40), lit("!? "),
      lit("Doc#"), col("doc_id").cast("string"))
    val norm = trim(regexp_replace(
      regexp_replace(lower(noisy), "[^a-z0-9 ]", " "), " +", " "))
    d.select(col("doc_id"), norm.as("normalized"),
      length(norm).cast("long").as("n_chars_norm"))
  }

  /** Token classes for [[regexTokens]] — alternation of letter runs, digit
    * runs, and non-alphanumeric runs, the shape of published BPE pre-tokenize
    * patterns (GPT-2's splitter without the Unicode classes RE2 oracles
    * lack). Restricted to Java/RE2-common syntax like the PII regexes.
    */
  val TokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

  /** T9 — regex (BPE-style pre-)tokenization: token count, distinct-token
    * count, and the leading token per doc. Complements t3's whitespace/char
    * estimates with the run-class tokenizer real BPE pipelines pre-split on.
    * One shuffle-free projection; `regexp_extract_all` is codegen'd.
    */
  def regexTokens(d: DataFrame): DataFrame = {
    val toks = regexp_extract_all(col("text"), lit(TokenRe), lit(0))
    d.select(col("doc_id"),
      size(toks).cast("long").as("rx_tokens"),
      size(array_distinct(toks)).cast("long").as("rx_distinct"),
      element_at(toks, 1).as("first_tok"))
  }

  /** T13 — n-gram language-model scoring, the CCNet/Wikipedia-LM quality
    * filter (Wenzek et al. 2020): train an add-one-smoothed bigram model on
    * the corpus itself, then score every document by its average negative
    * log-likelihood under that model. Low NLL = head-like fluent text, high
    * NLL = tail-like noise; CCNet buckets the corpus into head/middle/tail
    * by exactly this score (downstream thresholds stay with the caller —
    * the score is the operator's contract, like t2).
    *
    * `P(w2|w1) = (C(w1,w2) + 1) / (C(w1,·) + V)` — all counts integers, so
    * each per-(doc,bigram) term is `tf · ln(intRatio)`: the single `ln` is
    * 4-dp floor-quantized and summed as DECIMAL(18,4) (exact, associative —
    * double-sum order divergence can't touch the hash), then the per-doc
    * average is quantized once more. Docs with fewer than two tokens have no
    * bigrams and are not scored (the model has nothing to say about them).
    *
    * Three pieces: [[lmCounts]] (per-doc bigram counts), [[lmModel]] (the
    * model trained on a reference) and [[lmScoreBy]] (counts scored against
    * a model). This operator composes them over ONE count table, so the
    * corpus is exploded once. A live stream runs the same pieces per
    * micro-batch: `foreachBatch` with `lmScoreBy(lmCounts(batch), model)`
    * against a model built once from the reference corpus.
    *
    * Scale notes: ONE corpus-scale shuffle — the (doc_id, w1, w2) partial-
    * aggregated bigram count. The model tables are vocabulary-sized
    * aggregates of it and join back as broadcasts: a bigram model is
    * vocabulary², megabytes even for a 100 TB corpus. The vocab size rides
    * in as a one-row broadcast aggregate, never a driver-side collect.
    */
  def lmScore(d: DataFrame): DataFrame = {
    val db = lmCounts(d)
    lmScoreBy(db, lmModel(db, d))
  }

  /** The adjacent-word pairs of the array column named `w`, as an array of
    * `(w1, w2)` structs in word order: the bigram stream t13 and s10 explode.
    */
  private[graft] def bigrams(w: String): Column =
    expr(s"transform(sequence(1, size($w) - 1), i -> struct($w[i-1] AS w1, $w[i] AS w2))")

  /** T13's per-doc bigram counts `(doc_id, w1, w2, tf)`, materialized: the
    * model aggregates and the scoring probe all read these blocks, so the
    * corpus-scale bigram explode runs once (unmaterialized, the optimizer
    * collapses the aggregate chains and each model side re-explodes).
    */
  private[graft] def lmCounts(d: DataFrame): DataFrame = {
    // spread first: the bigram explode is the corpus-scale work and would
    // otherwise run inside a single-split scan stage; pass-through on
    // well-split inputs
    val toks = graft.Tables.spread(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val bi = toks.select(col("doc_id"), explode(bigrams("w")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // a uniform not-null on BOTH keys: the model and probe joins would
      // otherwise infer different null filters (w1+w2 vs w1-only) and
      // de-canonicalize the shared bigram subtree
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    Materialize(bi.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf")))
  }

  /** T13's add-one bigram model trained on `reference`, whose per-doc
    * counts are `counts` (= `lmCounts(reference)`): bigram counts
    * `(w1, w2, cb)`, context counts `(w1, ctx)` and the one-row vocabulary
    * size `v`. `ctx(w1) = Σ_w2 cb(w1, w2)` exactly (integer sums), so ctx
    * reads the vocabulary²-sized cb rows, not the per-doc counts.
    */
  private[graft] def lmModel(counts: DataFrame,
      reference: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val cb = counts.groupBy("w1", "w2").agg(sum("tf").as("cb"))
    val ctx = cb.groupBy("w1").agg(sum("cb").as("ctx"))
    val vq = reference.select(explode(words(col("text"))).as("x"))
      .agg(countDistinct(col("x")).as("v"))
    (cb, ctx, vq)
  }

  /** T13's score of per-doc bigram `counts` against `model`. Keys look up
    * with left joins: a bigram the model never saw backs off to the add-one
    * zero-count estimate `1 / (ctx(w1) + V)`, with `ctx(w1) = 0` only when
    * the model never saw `w1` either.
    */
  private[graft] def lmScoreBy(counts: DataFrame,
      model: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (cb, ctx, vq) = model
    counts.join(broadcast(cb), Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .crossJoin(broadcast(vq))
      .withColumn("term",
        (floor(col("tf") * log((coalesce(col("cb"), lit(0L)) + 1.0) /
            (coalesce(col("ctx"), lit(0L)) + col("v")))
          * 10000.0 + 0.5) / 10000.0).cast("decimal(18,4)"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        sum(col("term")).cast("double").as("sum_logprob"))
      .withColumn("nll",
        floor(col("sum_logprob") * -10000.0 / col("n_bigrams") + 0.5) / 10000.0)
  }

  /** T14 — CCNet perplexity bucketing (Wenzek et al. 2020 §4.3): split the
    * t13-scored corpus into head/middle/tail THIRDS by nll — head = the
    * most fluent (lowest-nll) third, the slice CCNet keeps for LM training,
    * tail = the noisiest. The cut is BY VALUE: tertile thresholds t1/t2 are
    * the smallest nll values whose cumulative count reaches 1/3 and 2/3 of
    * scored docs, and every doc with `nll <= t1` is head — equal values
    * can never straddle a bucket boundary (an ntile split would break ties
    * by doc_id and make membership depend on a neighbor's id).
    *
    * Scale notes (100 TB): a global exact tertile normally needs a global
    * sort, but t13's nll is ALREADY 4-dp floor-quantized, so its value
    * histogram is bounded (≤ a few 10⁵ distinct values regardless of corpus
    * size): the thresholds come from a cumulative sum over that tiny
    * histogram (the single-partition window is histogram-sized, not
    * corpus-sized) and broadcast back; assignment is map-side. The t13
    * scored frame — ONE (doc_id, nll) row per document — is materialized
    * so the corpus-scale LM work runs ONCE for the two consumers
    * (histogram + assignment); pruning-divergent branches de-canonicalize
    * the t13 subtree, so AQE exchange reuse does NOT cover this split. All
    * threshold comparisons are integer (3·cum vs n); the only doubles are
    * the already-quantized nll leaves.
    */
  def pplBuckets(d: DataFrame): DataFrame = {
    val scored = Materialize(lmScore(d).select(col("doc_id"), col("nll")))
    pplBucketsBy(scored, scored)
  }

  /** T14's tertile cut and assignment: thresholds from `reference`'s nll
    * histogram, then each `(doc_id, nll)` row of `scored` classified
    * against them (a broadcast one-row cross join). [[pplBuckets]] passes
    * the scored docs themselves; a live stream passes each micro-batch's
    * [[lmScoreBy]] rows against a reference corpus scored once.
    */
  private[graft] def pplBucketsBy(scored: DataFrame, reference: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = reference.groupBy(col("nll")).agg(count(lit(1)).as("ct"))
    val all = Window.orderBy(col("nll"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum", sum(col("ct")).over(Window.orderBy(col("nll"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("ct")).over(all))
    val th = cum.agg(
      min(when(col("cum") * 3 >= col("n"), col("nll"))).as("t1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("nll"))).as("t2"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("nll"),
        when(col("nll") <= col("t1"), "head")
          .when(col("nll") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** T15 — Naive-Bayes quality classifier, the classifier-filter stage of
    * the published curation recipes (GPT-3 §A trained a classifier on
    * known-good text and kept documents it scored positive; CCNet ships the
    * same shape with fastText). Self-supervised bootstrap like s10: the
    * positive class is t2's quality gate. A multinomial NB model over word
    * unigrams is fit in one pass — add-one-smoothed per-class likelihoods
    * plus the CLASS PRIOR (what separates a classifier decision from s10's
    * prior-free importance ratio) — and every document scores
    * `log_odds = ln(Np/Nn) + Σ_w tf_w·(ln P(w|pos) − ln P(w|neg))`,
    * `predicted = keep iff log_odds > 0`.
    *
    * Determinism: the prior and every per-(doc,word) ln term are 4-dp
    * floor-quantized at the leaf and summed as DECIMAL(18,4) — the t13
    * convention, so shuffle merge order can never move the hash.
    *
    * Three pieces, the t13 split: [[nbCounts]], [[nbModel]] and
    * [[nbScoreBy]]; this operator composes them over one count table, a
    * live stream scores each micro-batch's counts against a model built
    * once.
    *
    * Scale notes (100 TB): ONE corpus-scale shuffle and ONE corpus-scale
    * explode — the (doc_id, word) tf aggregation with `is_pos` riding the
    * grouping key (constant per doc; the s10 lesson — a joined-back label
    * would re-explode the corpus). The model groups those already
    * doc-aggregated rows (vocabulary-sized output) and broadcasts back;
    * class token totals and |V| sum the model rows over the same (reused)
    * exchange, class doc counts ride a light scan (projection + one-row
    * agg). Scoring is a map-side projection. Nothing quadratic, nothing
    * driver-side.
    */
  def nbQualityScore(docs: DataFrame): DataFrame = {
    val dw = nbCounts(docs)
    nbScoreBy(dw, nbModel(dw, docs))
  }

  /** T15's positive class: t2's quality gate. */
  private def nbPositive: Column = {
    val w = words(col("text"))
    qualityScore(nWords(w), stopCt(w), col("n_chars")) >= 2
  }

  /** T15's per-doc word counts `(doc_id, word, is_pos, tf)`, materialized:
    * the model and the scoring probe both read these blocks, so the corpus
    * word explode runs once and a composition's pushed predicates (c3)
    * cannot split it.
    */
  private[graft] def nbCounts(docs: DataFrame): DataFrame = {
    // spread BEFORE the explode: a compacted corpus arriving as one parquet
    // split would otherwise explode its whole token stream inside 1-2 tasks.
    // The isNotNull is not a data filter (doc_id is a key): it puts the
    // predicate a doc_id join pushes (c3) into the source, so both branches
    // stay canonically equal.
    val toks = graft.Tables.spread(
        docs.filter(col("doc_id").isNotNull)
          .select(col("doc_id"), nbPositive.as("is_pos"), col("text")))
      .select(col("doc_id"), col("is_pos"), explode(words(col("text"))).as("word"))
      .filter(col("word").isNotNull)
    Materialize(toks.groupBy("doc_id", "word", "is_pos")
      .agg(count(lit(1)).as("tf")))
  }

  /** T15's model trained on `reference`, whose per-doc counts are `counts`
    * (= `nbCounts(reference)`): per-class word counts `(word, cp, cn)` and
    * one totals row — class doc counts `np`/`nn`, class token totals
    * `tp`/`tn` and the vocabulary size `v`.
    */
  private[graft] def nbModel(counts: DataFrame,
      reference: DataFrame): (DataFrame, DataFrame) = {
    // conditional sums keep ONE word-keyed exchange for both classes
    val model = counts.groupBy("word").agg(
      sum(when(col("is_pos"), col("tf")).otherwise(0L)).as("cp"),
      sum(when(!col("is_pos"), col("tf")).otherwise(0L)).as("cn"))
    // class doc counts: a light scan, no explode
    val docCts = reference.select(nbPositive.as("ip"))
      .agg(sum(when(col("ip"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("ip"), 1L).otherwise(0L)).as("nn"))
    // class token totals and |V| from the model rows: the same word-keyed
    // aggregate the broadcast reads, so the two share its exchange
    val totals = docCts.crossJoin(model.agg(
      sum("cp").as("tp"), sum("cn").as("tn"), count(lit(1)).as("v")))
    (model, totals)
  }

  /** T15's score of per-doc word `counts` against `model`. A word the model
    * never saw backs off to the add-one zero-count estimate for BOTH
    * classes (a left join, counts coalesced to 0). A model whose reference
    * held only one class fails the query with an error naming the empty
    * class and both class counts.
    */
  private[graft] def nbScoreBy(counts: DataFrame,
      model: (DataFrame, DataFrame)): DataFrame = {
    val (perWord, totals) = model
    def q4(c: Column): Column =
      (floor(c * 10000.0 + 0.5) / 10000.0).cast("decimal(18,4)")
    counts.join(broadcast(perWord), Seq("word"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("term_p", q4(col("tf") *
        log((coalesce(col("cp"), lit(0L)) + 1.0) / (col("tp") + col("v")))))
      .withColumn("term_n", q4(col("tf") *
        log((coalesce(col("cn"), lit(0L)) + 1.0) / (col("tn") + col("v")))))
      // a one-class reference has no prior (np/nn divides by zero, ln(0) is
      // NULL): fail in-plan, naming the empty class and both counts
      .withColumn("prior", when(col("np") === 0 || col("nn") === 0,
          raise_error(concat(lit("t15: the reference corpus has no "),
            when(col("np") === 0, lit("positive")).otherwise(lit("negative")),
            lit(" documents (np = "), col("np").cast("string"), lit(", nn = "),
            col("nn").cast("string"), lit("), so the prior ln(np/nn) is undefined"))))
        .otherwise(q4(log(col("np") / col("nn").cast("double")))))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        (max(col("prior")) + sum(col("term_p")) - sum(col("term_n")))
          .cast("double").as("log_odds"))
      .withColumn("predicted",
        when(col("log_odds") > 0, "keep").otherwise("drop"))
  }

  /** E1 — fuzzy entity matching (record linkage): every pair of DISTINCT
    * part names within Levenshtein distance ≤ `maxDist`, with each name's
    * record count — the catalog-reconciliation kernel ("red bolt" vs
    * "red belt" style variants that exact grouping can never merge).
    * Candidates come from a character-BIGRAM posting join (names sharing
    * ≥ 1 bigram) — complete whenever either name has ≥ 2·maxDist+2 chars
    * (k edits destroy ≤ 2k of a length-n name's n−1 bigrams, so ≥ 1
    * shared bigram survives) — UNIONED with a short-name fallback block
    * (all pairs of sub-threshold names within the lev length window), so
    * 1-5-char variants ("bolt"→"b0lt", single-letter codes) can no longer
    * silently drop. The ORACLE proves completeness empirically: DuckDB
    * brute-forces ALL pairs, so a candidate the blocking missed breaks
    * the hash (the m7 discipline).
    * Verify is the built-in codegen `levenshtein` — an exact integer, so
    * no cross-engine drift.
    *
    * Scale notes (100 TB): the operator runs on the DISTINCT-name
    * vocabulary (≪ record count — names first collapse through one
    * hash-groupBy that also carries the counts); the posting join is
    * bounded by per-bigram posting sizes (the d15/d18 Σdf² shape), never
    * all-pairs, and the per-pair verify is O(len²) on short strings.
    */
  def fuzzyNameMatch(parts: DataFrame, maxDist: Int = 2): DataFrame = {
    // The q-gram completeness bound below is parametric in maxDist; the cap
    // keeps the short-name fallback class (len < 2·maxDist+2) vocabulary-
    // trivial and fails loudly on out-of-contract distances — the
    // bandedHammingPairs discipline.
    require(maxDist >= 1 && maxDist <= 4,
      s"fuzzyNameMatch supports maxDist in [1,4], got $maxDist")
    val names = parts.groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("ct"))
    val grams = names.select(col("name"), explode(array_distinct(
      expr("transform(sequence(1, length(name) - 1), i -> substring(name, i, 2))")))
      .as("g"))
    // Bigram-blocking completeness: k ≤ maxDist edits destroy ≤ 2k of a
    // length-n name's n−1 bigrams, so ≥ 1 shared bigram survives whenever
    // EITHER side has n ≥ 2·maxDist+2 (the survivor is present in both
    // names). Pairs where BOTH names are shorter — down to 1-char names,
    // which have zero bigrams and can never collide in the posting join —
    // need the fallback block: all short×short pairs within the lev-implied
    // length window |len_a − len_b| ≤ maxDist, verified exactly like the
    // bigram candidates. The short class is vocabulary-bounded and tiny
    // (real catalogs hold few sub-6-char names), so the length-keyed join
    // stays trivial at any corpus scale.
    val shortLen = 2 * maxDist + 2
    val shorts = names.select(col("name"), length(col("name")).as("len"))
      .filter(col("len") < shortLen)
    val fallback = shorts
      .withColumn("lk",
        explode(sequence(greatest(col("len") - maxDist, lit(1)),
          col("len") + maxDist)))
      .join(shorts.select(col("name").as("pname"), col("len").as("plen")),
        col("lk") === col("plen") && col("name") < col("pname"))
      .select(col("name").as("a"), col("pname").as("b"))
    val cand = grams.as("x").join(grams.as("y"),
        col("x.g") === col("y.g") && col("x.name") < col("y.name"))
      .select(col("x.name").as("a"), col("y.name").as("b"))
      .unionByName(fallback)
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("a"), col("b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .join(names.select(col("name").as("a"), col("ct").as("ct_a")), Seq("a"))
      .join(names.select(col("name").as("b"), col("ct").as("ct_b")), Seq("b"))
      .select(col("a").as("name_a"), col("b").as("name_b"), col("dist"),
        col("ct_a"), col("ct_b"))
  }

  /** E2 — canonical entity ASSIGNMENT, e1's merge step: the fuzzy-match
    * pairs become an undirected graph over the distinct-name vocabulary,
    * transitively closed with the SAME iterative min-label
    * `connectedComponents` the document near-dup family uses (names keyed
    * by their smallest record id), and every record is rewritten to its
    * component's canonical name (the name holding the smallest id — one
    * deterministic representative per entity, however long the variant
    * chain: "red bolt" ~ "red belt" ~ "red melt" all land on one name).
    * This is the full record-linkage pipeline — block → verify → cluster →
    * canonicalize — each stage reusing its standalone operator.
    *
    * Scale notes (100 TB): clustering runs on the vocabulary graph
    * (distinct names ≪ records; pairs bounded by e1's posting blocking),
    * pointer-jumping over pair-touched vertices only (the d10 machinery
    * and its block lifecycle verbatim); the record rewrite is one
    * name-keyed join of the corpus against a vocabulary-sized map — AQE
    * broadcasts it at any realistic vocabulary/corpus ratio.
    */
  def entityResolve(parts: DataFrame): DataFrame = {
    val names = parts.groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("id"))
    val pairs = fuzzyNameMatch(parts)
      .join(names.select(col("name").as("name_a"), col("id").as("doc_a")), Seq("name_a"))
      .join(names.select(col("name").as("name_b"), col("id").as("doc_b")), Seq("name_b"))
      .select("doc_a", "doc_b")
    val clusters = graft.operators.DedupOps.connectedComponents(
      names.select(col("id").as("doc_id")), pairs)
    val canon = clusters
      .join(names.select(col("id").as("cluster_id"), col("name").as("canonical_name")),
        Seq("cluster_id"))
      .join(names.select(col("id").as("doc_id"), col("name")), Seq("doc_id"))
      .select(col("name").as("p_name"), col("canonical_name"))
    parts.select(col("p_partkey"), col("p_name"))
      .join(canon, Seq("p_name"))
      .select(col("p_partkey"), col("p_name"), col("canonical_name"))
  }

  /** T16 — character-ENTROPY quality signal, the compression-proxy filter
    * (low-entropy text — boilerplate walls, key-mashing, repeated padding —
    * compresses well and trains badly; published web-curation stacks gate on
    * a zlib ratio, which character entropy tracks without a codec): per
    * document, code-point count, distinct code points, Shannon entropy of
    * the character distribution (nats, 4 dp), and the `low_entropy` flag at
    * the 2.0-nat gate (English prose sits ≈ 3.0; a two-symbol repeat ≤ 0.7).
    *
    * Entropy is computed by the native single-pass
    * [[graft.functions.CharEntropyExpr]] (term-quantized integer
    * accumulation, so engines can't drift — see its doc); the flag compares
    * the ROUNDED value so the gate and the displayed signal can never
    * disagree.
    *
    * Scale notes (100 TB): a zero-shuffle scan-projection inside one
    * whole-stage-codegen span — one pass per document, no array
    * materialization, bandwidth-bound with full column pruning (reads
    * `doc_id`, `text` only).
    */
  def charEntropy(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), graft.functions.CharEntropy(col("text")).as("cs"))
      .filter(col("cs").isNotNull) // empty/null text has no distribution —
      // match the oracle's unnest(string_split(..)), which drops such docs
      .select(col("doc_id"), col("cs.n_cp").as("n_cp"),
        col("cs.distinct_cp").as("distinct_cp"),
        round(col("cs.entropy"), 4).as("char_entropy"))
      .withColumn("low_entropy", col("char_entropy") < 2.0)
  }

  /** One run-length fold over a doc's SORTED word n-gram array, yielding
    * `top_chars` (occurrences × string length of the most frequent n-gram,
    * ties → lexicographically smallest) and `dup_chars` (Σ over n-grams with
    * count ≥ 2 of count × string length — every occurrence counted, no
    * interval union: the NeMo-Curator character convention). The gram array
    * is guarded to empty when the doc has fewer than n words, because
    * Spark's `sequence(0, negative)` would step BACKWARD, not return empty.
    */
  private def gramFold(n: Int): String = {
    val grams =
      s"""IF(size(split(text, ' ')) >= $n,
         |   transform(sequence(0, size(split(text, ' ')) - $n),
         |             i -> concat_ws(' ', slice(split(text, ' '), i + 1, $n))),
         |   CAST(array() AS ARRAY<STRING>))""".stripMargin
    s"""aggregate(
       |  array_sort($grams),
       |  named_struct('prev', '', 'run', 0L, 'bestct', 0L, 'bestg', '', 'dup', 0L),
       |  (acc, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(x = acc.prev, acc.run + 1L, 1L),
       |    'bestct', IF(IF(x = acc.prev, acc.run + 1L, 1L) > acc.bestct,
       |                 IF(x = acc.prev, acc.run + 1L, 1L), acc.bestct),
       |    'bestg', IF(IF(x = acc.prev, acc.run + 1L, 1L) > acc.bestct, x, acc.bestg),
       |    'dup', acc.dup + IF(x != acc.prev AND acc.run >= 2L,
       |                        acc.run * length(acc.prev), 0L)),
       |  acc -> named_struct(
       |    'top_chars', acc.bestct * length(acc.bestg),
       |    'dup_chars', acc.dup + IF(acc.run >= 2L, acc.run * length(acc.prev), 0L)))""".stripMargin
  }

  /** Gopher Table-A1 repetition thresholds, in integer percent: fraction of
    * characters in the top {2,3,4}-gram > {20,18,16}%; fraction of
    * characters in duplicated {5..10}-grams > {15,14,13,12,11,10}%.
    */
  val TopGramThresholds: Seq[(Int, Int)] = Seq(2 -> 20, 3 -> 18, 4 -> 16)
  val DupGramThresholds: Seq[(Int, Int)] =
    Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)

  /** T17 — the FULL published Gopher/MassiveText repetition battery (Rae et
    * al. 2021, Table A1), completing t7's two summary signals and t12's
    * document rules with the per-n-gram filters production curation stacks
    * actually sweep: the character fraction of the most frequent
    * {2,3,4}-gram and the character fraction of duplicated {5..10}-grams,
    * each against its published threshold, plus `flagged` = any rule fires.
    * (The paper's line/paragraph rules live in t12's bullet/ellipsis row —
    * this fixture is single-line by construction, so those signals
    * degenerate there, not here.)
    *
    * Conventions pinned so engines hash-match bit-for-bit: grams are
    * space-joined word windows; "characters in" counts every occurrence ×
    * the gram's string length (overlaps counted, no interval union — the
    * NeMo-Curator convention); top-gram ties break lexicographically
    * smallest (sorted fold keeps the first strict maximum; the oracle
    * orders `ct DESC, gram ASC`); rules compare in INTEGER arithmetic
    * (`100·chars > thr·n_chars`); surfaced fractions are 4-dp floor(+0.5)
    * quantized AFTER the integer compare so the gate and the displayed
    * signal derive from the same counts. Empty docs are excluded (t16's
    * unnest-eligibility convention).
    *
    * Scale notes (100 TB): all nine statistics come from per-row folds over
    * the doc's own gram arrays — a zero-shuffle scan-projection in one
    * whole-stage-codegen span, bandwidth-bound with full column pruning
    * like t1-t9/t12; per-doc cost is O(words · log words) per n for the
    * sort, independent of corpus size.
    */
  def gopherRepetition(d: DataFrame): DataFrame = {
    val w = words(col("text"))
    val base = d.filter(col("n_chars") > 0)
      .select(Seq(col("doc_id"), nWords(w).as("n_words"), col("n_chars")) ++
        TopGramThresholds.map { case (n, _) =>
          expr(gramFold(n)).getField("top_chars").as(s"top${n}_chars") } ++
        DupGramThresholds.map { case (n, _) =>
          expr(gramFold(n)).getField("dup_chars").as(s"dup${n}_chars") }: _*)
    val prefixes = TopGramThresholds.map(t => s"top${t._1}") ++
      DupGramThresholds.map(t => s"dup${t._1}")
    val withFrac = prefixes.foldLeft(base) { (df, p) =>
      df.withColumn(s"${p}_frac",
        floor(col(s"${p}_chars") * 10000.0 / col("n_chars") + 0.5) / 10000.0)
    }
    val rules = (TopGramThresholds.map { case (n, t) => (s"top${n}_chars", t) } ++
      DupGramThresholds.map { case (n, t) => (s"dup${n}_chars", t) })
      .map { case (c, t) => col(c) * 100 > col("n_chars") * t }
    withFrac.withColumn("flagged", rules.reduce(_ || _))
  }
}
