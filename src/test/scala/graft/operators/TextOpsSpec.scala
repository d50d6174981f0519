package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Invariants of the text-analysis operators the DuckDB hash-gate can't see:
  * residual-PII absence after redaction, and the map-side repetition fold
  * agreeing with the relational (explode + groupBy) formulation.
  */
class TextOpsSpec extends SparkSpec {

  private def docs = Tables.table(spark, sf, "documents")

  test("pii redact leaves no residual email/phone/IP pattern") {
    val r = TextOps.piiRedact(docs).cache()
    assert(r.count() === docs.count())
    for (re <- Seq(TextOps.EmailRe, TextOps.PhoneRe, TextOps.Ipv4Re))
      assert(r.filter(regexp_count(col("redacted"), lit(re)) > 0).count() === 0,
        s"unredacted match for $re")
    // the fixture plants exactly one of each PII kind per doc
    assert(r.filter(col("n_emails") =!= 1 || col("n_phones") =!= 1 ||
      col("n_ips") =!= 1).count() === 0)
    // placeholders actually landed
    assert(r.filter(!col("redacted").contains("<EMAIL>") ||
      !col("redacted").contains("<PHONE>") ||
      !col("redacted").contains("<IP>")).count() === 0)
    r.unpersist()
  }

  test("repetition fold equals the explode+groupBy max multiplicity") {
    val fold = TextOps.repetitionStats(docs).select("doc_id", "top_ct")
    val exploded = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("ct"))
      .groupBy("doc_id").agg(max("ct").as("exp_ct"))
    val bad = fold.join(exploded, "doc_id").filter(col("top_ct") =!= col("exp_ct"))
    assert(bad.count() === 0)
  }

  test("pii redact handles multiple and adjacent PII on adversarial fixtures") {
    // the operator's regexes applied directly (the fixture path embeds one of
    // each; this exercises density and adjacency)
    val adv = spark.createDataFrame(Seq(
      (1L, "a@b.co c@d.org,x 10.0.0.1/10.0.0.2 +1-555-0100;+44-20-7946-0958"),
      (2L, "email:a.b+tag@sub.domain.co.uk."),
      (3L, "no pii at all here"))).toDF("doc_id", "text")
    val red = adv.select(col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        TextOps.EmailRe, "<EMAIL>"), TextOps.PhoneRe, "<PHONE>"),
        TextOps.Ipv4Re, "<IP>").as("r")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) === "<EMAIL> <EMAIL>,x <IP>/<IP> <PHONE>;<PHONE>")
    assert(red(2L) === "email:<EMAIL>.")
    assert(red(3L) === "no pii at all here")
  }

  test("normalization emits canonical text: charset, spacing, trim invariants") {
    val n = TextOps.normalizeText(docs).cache()
    assert(n.count() === docs.count())
    assert(n.filter(regexp_count(col("normalized"), lit("[^a-z0-9 ]")) > 0)
      .count() === 0, "only lowercase alphanumerics and single spaces")
    assert(n.filter(col("normalized").contains("  ")).count() === 0)
    assert(n.filter(col("normalized").startsWith(" ") ||
      col("normalized").endsWith(" ")).count() === 0)
    // the synthesized noise is actually removed: doc marker survives as text
    assert(n.filter(!col("normalized").contains("doc ")).count() === 0)
    n.unpersist()
  }

  test("regex tokens agree with whitespace words on an all-letter corpus") {
    val r = TextOps.regexTokens(docs)
    val w = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_words"),
      element_at(split(col("text"), " "), 1).as("w1"))
    // documents text is space-separated letter runs, so the run-class
    // tokenizer must reproduce the whitespace tokenization exactly
    val bad = r.join(w, "doc_id")
      .filter(col("rx_tokens") =!= col("n_words") || col("first_tok") =!= col("w1") ||
        col("rx_distinct") > col("rx_tokens"))
    assert(bad.count() === 0)
    // and it must split classes where whitespace can't
    val mixed = spark.createDataFrame(Seq((1L, "abc123,def"))).toDF("doc_id", "text")
    val row = TextOps.regexTokens(mixed).head
    assert(row.getLong(1) === 4L && row.getString(3) === "abc") // abc|123|,|def
  }

  test("repetition ratios are bounded and consistent") {
    val r = TextOps.repetitionStats(docs).cache()
    assert(r.filter(col("n_distinct") > col("n_words") ||
      col("top_ct") > col("n_words") || col("top_ct") < 1).count() === 0)
    // pigeonhole: top count >= n_words / n_distinct
    assert(r.filter(col("top_ct") * col("n_distinct") < col("n_words")).count() === 0)
    assert(r.filter(col("distinct_ratio") > 1.0 || col("top_share") > 1.0 ||
      col("distinct_ratio") <= 0.0 || col("top_share") <= 0.0).count() === 0)
    r.unpersist()
  }

  test("gopher rules fire on the signals the synthetic corpus lacks (lines, bullets, symbols)") {
    import spark.implicits._
    val good = ("the data and the model go to the store and that " * 6).trim // 60 words, stopword-rich
    val fixtures = Seq(
      (1L, good),                                            // passes every rule
      (2L, "short doc"),                                     // r_word_count
      (3L, ("## # " * 20 + good)),                           // r_symbol_ratio (#'s)
      (4L, (1 to 60).map(i => s"- item $i").mkString("\n")), // r_bullet_lines (all bullets)
      (5L, (1 to 60).map(i => s"line $i goes on...").mkString("\n")), // r_ellipsis_lines
      (6L, ("1 2 3 4 5 6 7 8 9 0 " * 6).trim),               // r_alpha_words + r_stopwords
      (7L, ("to be " + "w " * 58).trim))                     // 60 words but only 2 chars/word avg → r_mean_word_len
    val r = TextOps.gopherRules(fixtures.toDF("doc_id", "text"))
      .collect().map(x => x.getLong(0) -> x).toMap
    def b(id: Long, c: String) = r(id).getBoolean(r(id).fieldIndex(c))
    assert(b(1, "keep"), "clean doc must pass the whole battery")
    assert(!b(2, "r_word_count") && !b(2, "keep"))
    assert(!b(3, "r_symbol_ratio") && !b(3, "keep"))
    assert(!b(4, "r_bullet_lines") && !b(4, "keep"))
    assert(!b(5, "r_ellipsis_lines") && !b(5, "keep"))
    assert(!b(6, "r_alpha_words") && !b(6, "r_stopwords") && !b(6, "keep"))
    assert(!b(7, "r_mean_word_len") && !b(7, "keep"))
    // line accounting: doc 4 is 60 lines, all bullets; doc 1 is one line
    assert(r(4L).getLong(r(4L).fieldIndex("n_lines")) === 60L)
    assert(r(4L).getLong(r(4L).fieldIndex("bullet_lines")) === 60L)
    assert(r(1L).getLong(r(1L).fieldIndex("n_lines")) === 1L)
  }

  test("t13 lm score matches the hand-computed add-one bigram model") {
    import spark.implicits._
    // corpus: d1="a b a b", d2="a b", d3="c" (no bigram → unscored)
    // model: cb(a,b)=3 cb(b,a)=1; ctx(a)=3 ctx(b)=1; V=|{a,b,c}|=3
    // P(b|a)=(3+1)/(3+3)=2/3  P(a|b)=(1+1)/(1+3)=1/2
    val r = TextOps.lmScore(Seq(
        (1L, "a b a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text"))
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.keySet === Set(1L, 2L), "single-token doc must be unscored")
    def f(id: Long, c: String) = r(id).getDouble(r(id).fieldIndex(c))
    assert(r(1L).getLong(r(1L).fieldIndex("n_bigrams")) === 3L)
    // terms quantized BEFORE the sum: 2·ln(2/3)→-0.8109, 1·ln(1/2)→-0.6931
    assert(f(1, "sum_logprob") === -1.5040)
    assert(f(1, "nll") === 0.5013) // floor(1.5040e4/3 + 0.5)/1e4
    assert(r(2L).getLong(r(2L).fieldIndex("n_bigrams")) === 1L)
    assert(f(2, "sum_logprob") === -0.4055) // floor(-4054.651+0.5) = -4055
    assert(f(2, "nll") === 0.4055)
  }

  test("t13 lm score: repeated common bigrams score more fluent than rare ones") {
    import spark.implicits._
    // 'the data' dominates the corpus; d9 is made of one-off bigrams
    val base = (1L to 8L).map(i => (i, "the data the data the data"))
    val r = TextOps.lmScore((base :+ (9L, "q w e r t y u i"))
        .toDF("doc_id", "text"))
      .select("doc_id", "nll").as[(Long, Double)].collect().toMap
    assert(r(1L) < r(9L), s"common-bigram doc must score lower nll: $r")
    // identical docs get identical scores
    assert((2L to 8L).forall(i => r(i) === r(1L)))
  }

  test("t15 nb classifier separates disjoint-vocabulary classes; identical docs score identically") {
    import spark.implicits._
    // balanced classes (prior = ln(3/3) = 0) with DISJOINT vocabularies:
    // every pos word has cn = 0 and vice versa, so the per-word evidence
    // cleanly dominates and min(pos log_odds) > max(neg log_odds)
    val posText = ("the good clean fluent prose reads well and " * 3).trim // 24 words, has 'the'
    val pos = (1L to 3L).map(i => (i, posText, 120L))
    val neg = (4L to 6L).map(i => (i, "junk noise qq zz", 10L))
    val df = (pos ++ neg).toDF("doc_id", "text", "n_chars")
    val out = TextOps.nbQualityScore(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    assert(out.size === 6, "every doc surfaces exactly once")
    assert((1L to 3L).map(out(_)._2).toSet.size === 1, "identical docs, identical score")
    assert((1L to 3L).forall(out(_)._3 == "keep"), s"pos docs must keep: $out")
    assert((4L to 6L).forall(out(_)._3 == "drop"), s"neg docs must drop: $out")
    assert((1L to 3L).map(out(_)._2).min > (4L to 6L).map(out(_)._2).max)
    // n_tokens is the doc's word count
    assert(out(1L)._1 === 24L && out(4L)._1 === 4L)
  }

  /** The messages of `t` and of every cause below it. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("t15 on a one-class reference fails naming the empty class") {
    import spark.implicits._
    def failure(text: String, nChars: Long): String = messages(intercept[Exception](
      TextOps.nbQualityScore((1L to 3L).map(i => (i, text, nChars))
        .toDF("doc_id", "text", "n_chars")).collect()))
    // every doc passes t2's gate (≥ 20 words, a stopword, ≥ 100 chars): the
    // negative class is empty and the prior ln(np/nn) divides by zero
    val allPass = failure(("the good clean fluent prose reads well and " * 3).trim, 120L)
    assert(allPass.contains("no negative documents (np = 3, nn = 0)"), allPass)
    // no doc passes: the positive class is empty and ln(0/nn) is NULL
    val nonePass = failure("junk noise qq zz", 10L)
    assert(nonePass.contains("no positive documents (np = 0, nn = 3)"), nonePass)
  }

  test("t14 ppl buckets: head is the most fluent third; equal scores never straddle a boundary") {
    import spark.implicits._
    // three fluency tiers: 4 docs saturated in the corpus-dominant bigram,
    // 4 docs mixing it with rarer ones, 4 docs of one-off noise bigrams
    val fluent = (1L to 4L).map(i => (i, "the data the data the data"))
    val mid = (5L to 8L).map(i => (i, s"the data mixes level$i tokens"))
    val noisy = (9L to 12L).map(i => (i, s"q$i w$i e$i r$i t$i"))
    val df = (fluent ++ mid ++ noisy).toDF("doc_id", "text")
    val out = TextOps.pplBuckets(df).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(out.size === 12)
    // identical texts have identical nll → identical bucket (the by-value
    // contract: ties cannot be split to equalize counts)
    assert((1L to 4L).map(out(_)._2).toSet.size === 1)
    assert((1L to 4L).forall(out(_)._2 == "head"),
      s"saturated-bigram docs must be head: $out")
    assert((9L to 12L).forall(out(_)._2 == "tail"),
      s"one-off-bigram docs must be tail: $out")
    // buckets are ordered by value: max(head nll) <= min(middle) <= ...
    def nlls(b: String) = out.values.collect { case (v, `b`) => v }
    assert(nlls("head").max <= nlls("middle").min)
    assert(nlls("middle").max <= nlls("tail").min)
  }

  test("fuzzyNameMatch: blocking finds every lev<=2 pair of a planted catalog (E1)") {
    import spark.implicits._
    // planted variants: substitution, deletion, two-edit, plus a far name;
    // duplicate records collapse to counts
    val parts = Seq(
      "red bolt", "red bolt", "red belt",            // sub (d=1)
      "blue gear", "blue ger",                       // del (d=1)
      "hot widget", "hop wedget",                    // 2 edits (d=2)
      "green spring")                                // no partner
      .zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("p_partkey", "p_name")
    val got = TextOps.fuzzyNameMatch(parts).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // driver-side brute force over distinct names proves blocking complete
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = parts.collect().map(_.getString(1)).groupBy(identity)
      .map { case (n, g) => n -> g.length.toLong }
    val expected = (for {
      (a, ca) <- names; (b, cb) <- names if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong, ca, cb)).toSet
    assert(got === expected)
    assert(got.exists(_._3 === 2L), "the two-edit pair must survive blocking")
    assert(!got.exists(t => t._1.contains("green") || t._2.contains("green")))
    // count carry: 'red bolt' has two records
    assert(got.exists(t => t._1 == "red belt" && t._2 == "red bolt" && t._5 == 2L ||
      t._1 == "red bolt" && t._2 == "red belt" && t._4 == 2L))
  }

  test("fuzzyNameMatch: short-name fallback block catches pairs bigrams miss (E1)") {
    import spark.implicits._
    // "abcd"/"axyd": lev 2, ZERO shared bigrams (ab,bc,cd vs ax,xy,yd) —
    // bigram posting blocking alone silently dropped this class before the
    // fallback; "q"/"r": 1-char names emit no bigrams at all; "ab" pairs
    // with both across the lev length window. "longword"/"distinct" stay
    // unpaired (far) and prove the fallback adds no false candidates.
    val parts = Seq("abcd", "axyd", "q", "r", "ab", "longword", "distinct")
      .zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("p_partkey", "p_name")
    val got = TextOps.fuzzyNameMatch(parts).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = Seq("abcd", "axyd", "q", "r", "ab", "longword", "distinct")
    val expected = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(expected.contains(("abcd", "axyd", 2L)),
      "fixture must plant a zero-shared-bigram lev<=2 pair")
    assert(expected.contains(("q", "r", 1L)), "fixture must plant 1-char names")
    assert(got === expected)
  }

  test("fuzzyNameMatch rejects out-of-contract maxDist loudly (E1)") {
    import spark.implicits._
    val parts = Seq((1L, "abc")).toDF("p_partkey", "p_name")
    assertThrows[IllegalArgumentException](TextOps.fuzzyNameMatch(parts, 0))
    assertThrows[IllegalArgumentException](TextOps.fuzzyNameMatch(parts, 5))
  }

  test("entityResolve merges variant CHAINS to one canonical name (E2)") {
    import spark.implicits._
    // belt~bolt~boot chain: belt-bolt d=1, bolt-boot d=1, belt-boot d=2 —
    // but transitivity must merge them even when an endpoint pair exceeds
    // the verify bound; 'melt' joins via belt (d=1); 'gear' stays alone
    val parts = Seq(
      (10L, "red belt"), (11L, "red bolt"), (12L, "red boot"),
      (13L, "red melt"), (14L, "blue gear"), (15L, "red bolt"))
      .toDF("p_partkey", "p_name")
    val out = TextOps.entityResolve(parts).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.length === 6, "every record reassigned exactly once")
    val canon = out.map(t => t._2 -> t._3).toMap
    // canonical = name holding the smallest record id in the component
    assert(canon("red belt") === "red belt")
    assert(canon("red bolt") === "red belt")
    assert(canon("red boot") === "red belt")
    assert(canon("red melt") === "red belt")
    assert(canon("blue gear") === "blue gear")
    // both 'red bolt' records landed on the same canonical name
    assert(out.filter(_._2 == "red bolt").map(_._3).distinct.length === 1)
  }

  test("char_entropy: interpreted and codegen paths agree; NULL and empty text give NULL") {
    import spark.implicits._
    val texts = Seq[(Int, Option[String])](
      (0, Some("abca")), (1, Some("")), (2, None), (3, Some("na\u00efve \ud83d\ude00 text \ud83d\ude00")))
    val (interp, codegen, plan) = interpretedAndCodegen(
      texts.toDF("id", "text").repartition(1)
        .select(col("id"), graft.functions.CharEntropy(col("text")).as("cs")))
    assert(interp.sortBy(_.getInt(0)) === codegen.sortBy(_.getInt(0)))
    val byId = codegen.map(r => r.getInt(0) -> r).toMap
    assert(byId(1).isNullAt(1)) // "": no distribution, the kernel returns NULL
    assert(byId(2).isNullAt(1))
    assert(byId(0).getStruct(1).getLong(0) === 4L && byId(0).getStruct(1).getLong(1) === 3L)
    // surrogate pairs fold: the emoji is one code point
    assert(byId(3).getStruct(1).getLong(0) === 14L)
    assert("\\*\\(\\d+\\) Project \\[id#\\d+, static_invoke".r.findFirstIn(plan).isDefined, plan)
  }

  test("t17 gopher repetition battery matches hand-computed gram counts") {
    import spark.implicits._
    val fixtures = Seq(
      // "a b" x3 among bigrams (vs "b a" x2): top2 = 3 * len("a b") = 9
      // chars over n_chars 11 -> 0.8182 > 20% threshold -> flagged
      (1L, "a b a b a b"),
      // tie: "a b" x2 and "b c" x2 -> lexicographically smallest wins,
      // top2 = 2 * 3 = 6; dup2 counts BOTH duplicated bigrams: 2*3+2*3=12
      (2L, "a b c a b c"),
      // no repeated gram at any n: every top_k = ct-1 x the gram the
      // sorted fold meets first (the lexicographically smallest), dup_k = 0
      (3L, "one two three four five"),
      // 30 distinct words, no repeats, long enough that no single gram
      // clears any threshold: the genuinely clean document
      (6L, (1 to 30).map(i => f"w$i%02d").mkString(" ")),
      // 12 words = two copies of a 6-word sentence: every 5-gram window
      // inside a copy repeats (2 windows dup'd at n=5 over the joint),
      // dup6 catches the full sentence
      (4L, "v w x y z u v w x y z u"),
      // fewer words than n: gram list empty -> 0, not backward sequence
      (5L, "solo"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextOps.gopherRepetition(fixtures).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("top2_chars") === 9L)
    assert(r(1L).getAs[Double]("top2_frac") === 0.8182)
    assert(r(1L).getAs[Boolean]("flagged"))
    // tie-break: ct=2 for both "a b" and "b c" — the sorted fold keeps the
    // lexicographically smallest ("a b"), 2 occurrences x len 3
    assert(r(2L).getAs[Long]("top2_chars") === 6L)
    // all-distinct grams: top_k = 1 x len(lexicographically smallest
    // k-gram) — "four five" (9), "one two three" (13), "one two three
    // four" (18); dup_k all 0. The doc still flags (9/23 chars in the top
    // bigram > 20%): Gopher rules are meant for long docs, and the battery
    // reports what the counts say
    assert(r(3L).getAs[Long]("top2_chars") === 9L)
    assert(r(3L).getAs[Long]("top3_chars") === 13L)
    assert(r(3L).getAs[Long]("top4_chars") === 18L)
    Seq(5, 6, 7, 8, 9, 10).foreach(n =>
      assert(r(3L).getAs[Long](s"dup${n}_chars") === 0L))
    assert(r(3L).getAs[Boolean]("flagged"))
    // the long all-distinct doc clears every rule: nothing fires
    assert(!r(6L).getAs[Boolean]("flagged"))
    Seq(5, 6, 7, 8, 9, 10).foreach(n =>
      assert(r(6L).getAs[Long](s"dup${n}_chars") === 0L))
    // doc 4: "v w x y z u" repeats; its 11-char 6-gram appears twice ->
    // dup6_chars = 2 * 11 = 22; and the max 5-gram ct is 2
    assert(r(4L).getAs[Long]("dup6_chars") === 22L)
    // EVERY occurrence of EVERY duplicated gram counts (no interval
    // union): "v w x y z"x2 + "w x y z u"x2 at n=5 -> 2x9 + 2x9
    assert(r(4L).getAs[Long]("dup5_chars") === 36L)
    assert(r(4L).getAs[Boolean]("flagged"))
    // 1-word doc: no n-gram of any battery size exists
    (Seq("top2", "top3", "top4") ++ Seq(5, 6, 7, 8, 9, 10).map("dup" + _))
      .foreach(p => assert(r(5L).getAs[Long](s"${p}_chars") === 0L, p))
  }

  test("t17 gate derives from INTEGER char counts, fracs are 4-dp quantized") {
    // recompute `flagged` and every `*_frac` from the surfaced counts with
    // the documented integer / quantization conventions — if the operator
    // ever switched to comparing the rounded fraction (or float division)
    // this drifts at threshold-boundary docs
    val r = TextOps.gopherRepetition(docs)
    val prefixes = TextOps.TopGramThresholds.map("top" + _._1) ++
      TextOps.DupGramThresholds.map("dup" + _._1)
    val gate = (TextOps.TopGramThresholds ++ TextOps.DupGramThresholds)
      .zip(prefixes)
      .map { case ((_, thr), p) => col(s"${p}_chars") * 100 > col("n_chars") * thr }
      .reduce(_ || _)
    assert(r.filter(col("flagged") =!= gate).count() === 0)
    prefixes.foreach { p =>
      val q = floor(col(s"${p}_chars") * 10000.0 / col("n_chars") + 0.5) / 10000.0
      assert(r.filter(col(s"${p}_frac") =!= q).count() === 0, p)
    }
  }
}
