package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Invariants the DuckDB hash-gate can't see: determinism, partition
  * completeness, and stratum behavior of the curation operators.
  */
class CurationOpsSpec extends SparkSpec {

  private def docs = Tables.table(spark, sf, "documents")
  // t5's roster reference: every 97th doc stands in for the benchmark
  private def bench = docs.filter(col("doc_id") % 97 === 0)

  test("decontaminate covers every doc once; benchmark docs self-flag") {
    val d = CurationOps.decontaminate(docs, bench).cache()
    assert(d.count() === docs.count())
    assert(d.select("doc_id").distinct().count() === docs.count())
    // a benchmark doc with >= 3 words shares its own shingles -> contaminated
    val benchWithShingles = docs
      .filter(col("doc_id") % 97 === 0 && size(split(col("text"), " ")) >= 3)
      .select("doc_id")
    val cleanBench = d.join(benchWithShingles, "doc_id").filter(col("is_clean"))
    assert(cleanBench.count() === 0)
    d.unpersist()
  }

  test("hash sample is deterministic and respects per-stratum rates") {
    val a = CurationOps.hashSample(docs)
    val b = CurationOps.hashSample(docs)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    assert(a.filter(col("bucket") >= col("rate") || col("bucket") < 0).count() === 0)
    // sampling only drops rows, never invents them
    assert(a.join(docs.select("doc_id"), Seq("doc_id"), "left_anti").count() === 0)
  }

  test("leakage-safe split: no near-dup pair straddles a split; repairs are accounted (S11)") {
    val split = graft.SparkEntry.queries("s11_leakage_split")(spark, sf).cache()
    // covers every clustered doc exactly once
    val clusters = graft.operators.DedupOps.nearDupClusters(docs, 0.7)
    assert(split.count() === clusters.count())
    // THE invariant: every near-dup pair (even transitively connected ones
    // share a cluster_id) gets ONE split — zero cross-split pairs remain
    val bySplit = split.groupBy("cluster_id")
      .agg(countDistinct("split").as("n_splits"))
    assert(bySplit.filter(col("n_splits") > 1).count() === 0,
      "a cluster straddles a split boundary")
    // a doc moved iff its own draw differs from its cluster's draw; docs
    // that ARE their cluster representative can never move
    assert(split.filter(col("doc_id") === col("cluster_id") && col("moved"))
      .count() === 0)
    assert(split.filter((col("naive_split") =!= col("split")) =!= col("moved"))
      .count() === 0)
    // the hash draw lands near 80/10/10 on the corpus (loose bounds — the
    // repair and a 16-bit draw both perturb the exact fractions)
    val n = split.count().toDouble
    val frac = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9, s"fractions: $frac")
    assert(frac.getOrElse("val", 0.0) < 0.2 && frac.getOrElse("test", 0.0) < 0.2)
    split.unpersist()
  }

  test("curated train export composes its stages: every exported doc passes every gate (C3)") {
    val out = graft.SparkEntry.queries("c3_curated_train_export")(spark, sf).cache()
    assert(out.count() > 0, "the sf corpus must yield a non-empty train export")
    // each stage's own standalone output agrees with the export's verdicts
    val nb = graft.operators.TextOps.nbQualityScore(docs)
      .select(col("doc_id"), col("predicted"))
    assert(out.join(nb, Seq("doc_id")).filter(col("predicted") =!= "keep").count() === 0)
    val split = graft.SparkEntry.queries("s11_leakage_split")(spark, sf)
      .select(col("doc_id"), col("split"), col("cluster_id").as("cid"))
    val j = out.join(split, Seq("doc_id"))
    assert(j.filter(col("split") =!= "train").count() === 0)
    assert(j.filter(col("cluster_id") =!= col("cid")).count() === 0)
    // boilerplate dominance gate + cleaned text comes from d17
    assert(out.filter(col("kept_segs") * 2 <= col("n_segs")).count() === 0)
    val strip = graft.operators.DedupOps.boilerplateStrip(docs,
      graft.operators.DedupOps.boilerplateSegments(docs))
      .select(col("doc_id"), col("clean_text").as("ct"))
    assert(out.join(strip, Seq("doc_id")).filter(col("clean_text") =!= col("ct")).count() === 0)
    // the leakage guarantee carries through: no exported doc's cluster has a
    // member in val/test (its whole cluster is train by construction)
    val exportedClusters = out.select(col("cluster_id")).distinct()
    assert(split.join(exportedClusters, col("cid") === col("cluster_id"))
      .filter(col("split") =!= "train").count() === 0)
    out.unpersist()
  }

  test("curatedTrainExportOf on materialized stages equals the standalone form (C3 pipeline)") {
    // the production shape: each stage materialized once (localCheckpoint
    // stands in for the pipeline's parquet write), the export pays only the
    // three doc_id joins — and the result is row-identical to the
    // self-contained oracle query
    val cleaned = graft.operators.DedupOps.boilerplateStrip(docs,
      graft.operators.DedupOps.boilerplateSegments(docs)).localCheckpoint(true)
    val scored = graft.operators.TextOps.nbQualityScore(docs).localCheckpoint(true)
    val split = graft.SparkEntry.queries("s11_leakage_split")(spark, sf).localCheckpoint(true)
    val piped = CurationOps.curatedTrainExportOf(cleaned, scored, split)
      .collect().map(_.toSeq).toSet
    val standalone = graft.SparkEntry.queries("c3_curated_train_export")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(piped === standalone)
  }

  test("train shuffle partitions the corpus into dense per-shard sequences") {
    val s = CurationOps.trainShuffle(docs).cache()
    assert(s.count() === docs.count())
    assert(s.select("doc_id").distinct().count() === docs.count())
    // positions within a shard are exactly 0..n-1
    val bad = s.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .filter(col("mx") =!= col("n") - 1 || col("mn") =!= 0)
    assert(bad.count() === 0)
    assert(s.filter(col("shard") < 0 || col("shard") >= 8).count() === 0)
    s.unpersist()
  }

  test("ngram topk keeps at most k per language, rank 1 = max count") {
    val g = CurationOps.ngramTopK(docs).cache()
    assert(g.groupBy("lang").count().filter(col("count") > 5).count() === 0)
    val mx = g.groupBy("lang").agg(max("ct").as("mx"))
    val bad = g.filter(col("rnk") === 1).join(mx, "lang").filter(col("ct") =!= col("mx"))
    assert(bad.count() === 0)
    g.unpersist()
  }

  test("bloom decontamination equals the exact pipeline row for row") {
    val exact = CurationOps.decontaminate(docs, bench)
    val bloom = CurationOps.bloomDecontaminate(docs)
    assert(bloom.count() === exact.count())
    assert(bloom.exceptAll(exact).count() === 0)
    assert(exact.exceptAll(bloom).count() === 0)
  }

  test("sequence packing tiles each shard's token stream without gaps") {
    val p = CurationOps.packSequences(docs).cache()
    assert(p.count() === docs.count())
    // each shard's offsets are a dense prefix-sum tiling: max offset + its
    // tokens = total tokens, and no two docs share an offset
    val byShard = p.groupBy("shard").agg(
      sum("tokens").as("tot"),
      max(col("tok_offset") + col("tokens")).as("end"),
      count(lit(1)).as("n"), countDistinct("tok_offset").as("nd"))
    assert(byShard.filter(col("tot") =!= col("end") || col("n") =!= col("nd"))
      .count() === 0)
    // placement arithmetic is internally consistent
    assert(p.filter(col("seq_offset") >= 512 || col("seq_offset") < 0 ||
      col("seq_idx") * 512 + col("seq_offset") =!= col("tok_offset")).count() === 0)
    p.unpersist()
  }

  test("chunking covers every doc's token span with overlapping windows") {
    val c = CurationOps.chunkDocuments(docs).cache()
    val perDoc = c.groupBy("doc_id").agg(
      min("tok_start").as("first"), max("tok_end").as("last"),
      first("tokens").as("tokens"), count(lit(1)).as("n"))
    // full coverage: first chunk at 0, last chunk ends exactly at tokens
    assert(perDoc.filter(col("first") =!= 0 || col("last") =!= col("tokens"))
      .count() === 0)
    // no gaps: each next start (idx*stride) begins before the previous end
    val gaps = c.filter(col("chunk_idx") > 0 &&
      col("tok_start") > (col("chunk_idx") - 1) * 96 + 128)
    assert(gaps.count() === 0)
    // bounds sane and chunk length capped
    assert(c.filter(col("tok_end") <= col("tok_start") ||
      col("tok_end") - col("tok_start") > 128).count() === 0)
    c.unpersist()
  }

  test("packing offsets chain exactly on random corpora (property)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 50 + rnd.nextInt(200)
      val rows = (0 until n).map { i =>
        (rnd.nextLong(1000000).abs, "w " * (1 + rnd.nextInt(40)), (1 + rnd.nextInt(400)).toLong)
      }.distinct
      val df = spark.createDataFrame(rows).toDF("doc_id", "text", "n_chars")
        .dropDuplicates("doc_id")
      val p = CurationOps.packSequences(df)
      val w = Window.partitionBy("shard").orderBy("doc_id")
      val chained = p
        .withColumn("prev_end", lag(col("tok_offset") + col("tokens"), 1).over(w))
        .filter(col("prev_end").isNotNull && col("tok_offset") =!= col("prev_end"))
      assert(chained.count() === 0, "every offset must equal the previous doc's end")
      assert(p.count() === df.count())
    }
  }

  test("training pipeline composes its stages: every packed doc passes every filter") {
    val out = CurationOps.trainingPipeline(docs).cache()
    assert(out.count() > 0)
    val keepers = DedupOps.dedupExact(docs).select(col("keeper_id").as("doc_id"))
    assert(out.join(keepers, Seq("doc_id"), "left_anti").count() === 0)
    val dirty = CurationOps.decontaminate(docs, bench).filter(!col("is_clean")).select("doc_id")
    assert(out.join(dirty, "doc_id").count() === 0)
    val lowQ = TextOps.textQuality(docs).filter(col("quality_score") < 2).select("doc_id")
    assert(out.join(lowQ, "doc_id").count() === 0)
    // and the packing output keeps s3's dense-tiling invariant on the subset
    val byShard = out.groupBy("shard").agg(sum("tokens").as("tot"),
      max(col("tok_offset") + col("tokens")).as("end"))
    assert(byShard.filter(col("tot") =!= col("end")).count() === 0)
    out.unpersist()
  }

  test("mixture sampling: deterministic subset; saturated sources keep everything") {
    val m = CurationOps.mixtureSample(docs).cache()
    val m2 = CurationOps.mixtureSample(docs)
    assert(m.exceptAll(m2).count() === 0 && m2.exceptAll(m).count() === 0)
    assert(m.join(docs.select("doc_id"), Seq("doc_id"), "left_anti").count() === 0)
    // recompute the stats independently (a zero-kept source must still count)
    val hex = (c: org.apache.spark.sql.Column) =>
      conv(substring(md5(c), 1, 4), 16, 10).cast("long")
    val st = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("weight", hex(concat(lit("w:"), col("source"))) % 9 + 1)
    val nTotal = docs.count()
    val wTotal = st.agg(sum("weight")).head.getLong(0)
    val j = st.join(m.groupBy("source").agg(count(lit(1)).as("kept")),
      Seq("source"), "left").na.fill(0L, Seq("kept"))
    // kept never exceeds availability; a source whose target allocation
    // covers it (keep-rate >= 1: weight*N >= w_total*n_src) keeps every doc
    assert(j.filter(col("kept") > col("n_src")).count() === 0)
    assert(j.filter(col("weight") * nTotal >= lit(wTotal) * col("n_src") &&
      col("kept") =!= col("n_src")).count() === 0)
    m.unpersist()
  }

  test("token quantiles: exact p50/p90 bounds hold") {
    val e = CurationOps.tokenQuantiles(docs)
    assert(e.count() === docs.select("lang").distinct().count())
    assert(e.filter(col("p50_tokens") > col("p90_tokens") ||
      col("p50_tokens") < col("min_tokens") ||
      col("p90_tokens") > col("max_tokens")).count() === 0)
  }

  test("domain cap keeps min(cap, domain size) per source, deterministically") {
    val capped = CurationOps.domainCap(docs, cap = 15).cache()
    val perSrc = capped.groupBy("source").count()
    assert(perSrc.filter(col("count") > 15).count() === 0)
    // every source with >= 15 docs is filled exactly to the cap, smaller
    // sources survive whole
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val bad = perSrc.join(sizes, "source")
      .filter(col("count") =!= least(col("n"), lit(15L)))
    assert(bad.count() === 0)
    // subset of the input, stable across runs
    assert(capped.join(docs.select("doc_id"), Seq("doc_id"), "left_anti").count() === 0)
    val again = CurationOps.domainCap(docs, cap = 15)
    assert(capped.exceptAll(again).count() === 0 && again.exceptAll(capped).count() === 0)
    capped.unpersist()
  }

  test("length buckets conserve tokens; only a group's last batch is short") {
    val b = CurationOps.lengthBuckets(docs).cache()
    val totalTokens = docs
      .select(ceil(col("n_chars") / 4.0).cast("long").as("t"))
      .agg(sum("t")).head.getLong(0)
    assert(b.agg(sum("sum_tokens")).head.getLong(0) === totalTokens)
    assert(b.filter(col("n_docs") > 16 || col("n_docs") < 1).count() === 0)
    assert(b.filter(col("pad_waste") < 0).count() === 0)
    assert(b.filter(col("n_docs") * col("max_tokens") =!=
      col("sum_tokens") + col("pad_waste")).count() === 0)
    // within each (shard, bucket): batch_idx dense from 0, all non-last full
    val mx = b.groupBy("shard", "bucket").agg(max("batch_idx").as("last"))
    val short = b.join(mx, Seq("shard", "bucket"))
      .filter(col("batch_idx") < col("last") && col("n_docs") =!= 16)
    assert(short.count() === 0)
    b.unpersist()
  }

  test("tfidf top terms: <= k dense ranks per doc, words from the doc, monotone scores") {
    val g = CurationOps.tfidfTopTerms(docs).cache()
    val perDoc = g.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("rnk").as("mx"), min("rnk").as("mn"))
    assert(perDoc.filter(col("n") > 3 || col("mx") =!= col("n") || col("mn") =!= 1)
      .count() === 0)
    // every reported term occurs in its document
    val vocab = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word")).distinct()
    assert(g.join(vocab, Seq("doc_id", "word"), "left_anti").count() === 0)
    // scores never increase with rank inside a doc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("rnk")
    val inc = g.withColumn("prev", lag("tfidf", 1).over(w))
      .filter(col("prev").isNotNull && col("tfidf") > col("prev"))
    assert(inc.count() === 0)
    g.unpersist()
  }

  test("vocab stats: totals partition the token stream, hapax within vocab") {
    val v = CurationOps.vocabStats(docs).cache()
    val totalTokens = docs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(v.agg(sum("total_words")).head.getLong(0) === totalTokens)
    assert(v.filter(col("vocab") > col("total_words")).count() === 0)
    assert(v.filter(col("hapax") > col("vocab")).count() === 0)
    assert(v.filter(col("ttr") < 0 || col("ttr") > 1).count() === 0)
    v.unpersist()
  }

  test("temperature mix upsamples small sources, compresses shares, conserves weight (S9)") {
    import spark.implicits._
    // big: ~90% of tokens, small: ~10% — alpha=0.5 must pull the weights
    // toward each other without crossing, and epochs must upsample small
    val fixture = (
      (1 to 90).map(i => (i.toLong, "big", 400L)) ++
      (1 to 10).map(i => (100L + i, "small", 400L))
    ).toDF("doc_id", "source", "n_chars")
    val m = CurationOps.temperatureMix(fixture)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val (pBig, wBig, eBig) = m("big")
    val (pSmall, wSmall, eSmall) = m("small")
    assert(pBig === 0.9 && pSmall === 0.1)
    // compression: small's weight rises, big's falls, order preserved
    assert(wSmall > pSmall && wBig < pBig && wBig > wSmall)
    assert(math.abs(wBig + wSmall - 1.0) < 2e-4, s"weights must renormalize: $m")
    // equal-token budget: small is seen ~2.4x, big ~0.8x (sqrt(0.1)/denom/0.1)
    assert(eSmall > 2.0 && eSmall < 3.0, s"epochs=$eSmall")
    assert(eBig < 1.0 && eBig > 0.7, s"epochs=$eBig")
  }

  test("zipf slope recovers ~-1 on a power-law corpus, per language (G6)") {
    import spark.implicits._
    // freq(rank) = floor(60/rank) over 12 words: a near-exact power law.
    // Build the corpus by repeating word k exactly floor(60/k) times.
    def corpus(lang: String, off: Int) = {
      val words = (1 to 12).flatMap(k => Seq.fill(60 / k)(s"w${off + k}"))
      words.grouped(30).zipWithIndex.map { case (ws, i) =>
        (lang.hashCode.toLong * 1000 + i, ws.mkString(" "), lang)
      }.toSeq
    }
    val z = CurationOps.zipfSlope(
        (corpus("en", 0) ++ corpus("de", 100)).toDF("doc_id", "text", "lang"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    for (l <- Seq("en", "de")) {
      val (vocab, slope, r2) = z(l)
      assert(vocab === 12L)
      assert(slope < -0.85 && slope > -1.15, s"$l slope=$slope")
      assert(r2 > 0.97, s"$l r2=$r2")
    }
    // and the real (uniform-random) corpus must NOT look Zipfian — the
    // diagnostic's whole point is telling natural from synthetic text
    val real = CurationOps.zipfSlope(docs)
    assert(real.filter(col("slope") < -0.6).count() === 0,
      "uniform corpus scored as steep power law")
  }

  test("bpeTokenize applies merges in rank order with classic BPE semantics (T10)") {
    import spark.implicits._
    val d = Seq(
      (1L, "abab"),   // simultaneous pairs: one pass merges BOTH (a,b)
      (2L, "lll"),    // overlap: greedy left-first -> [ll, l]
      (3L, "the and") // chained ranks: t+h -> th, th+e -> the; a+n -> an, an+d -> and
    ).toDF("doc_id", "text")
    val merges = Seq(("a", "b"), ("l", "l"), ("t", "h"), ("th", "e"),
      ("a", "n"), ("an", "d"))
    val out = CurationOps.bpeTokenize(d, merges)
      .orderBy("doc_id", "word_idx", "tok_idx")
      .select("doc_id", "token").as[(Long, String)].collect()
    assert(out.filter(_._1 == 1L).map(_._2).toSeq === Seq("ab", "ab"))
    assert(out.filter(_._1 == 2L).map(_._2).toSeq === Seq("ll", "l"))
    assert(out.filter(_._1 == 3L).map(_._2).toSeq === Seq("the", "and"))
  }

  test("sessionize partitions all events; sessions are well-formed") {
    val s = StatsOps.sessionize(spark, sf).cache()
    val total = Tables.table(spark, sf, "events").count()
    assert(s.agg(sum("event_ct")).head.getLong(0) === total)
    assert(s.filter(col("session_end_us") < col("session_start_us")).count() === 0)
    // session numbering per user is dense from 1
    val bad = s.groupBy("user_id")
      .agg(countDistinct("session_no").as("n"), max("session_no").as("mx"),
        min("session_no").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(bad.count() === 0)
    s.unpersist()
  }

  test("dsirWeights: target-like docs outrank bucket-disjoint noise; feats exact (S10)") {
    import spark.implicits._
    // three target docs (pass the t2 gate: ≥20 words, stopwords, ≥100 chars)
    // share the "the data ..." bigram mass; the noise doc's bigrams live in
    // other buckets, so its target-model mass is add-one-only and its
    // importance weight must come out BELOW every target doc's
    val targetText = ("the data and the model go to the store and that works fine today " * 2).trim
    val docs = Seq(
      (1L, targetText), (2L, targetText), (3L, targetText),
      (4L, "qq zz qq zz qq zz"),
      (5L, "x")) // single word — no bigrams, not scored
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = CurationOps.dsirWeights(docs).cache()
    assert(out.count() === 4) // doc 5 has no bigram features
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2))).toMap
    assert(rows(1L)._1 === targetText.split(" ").length - 1) // n_feats = bigrams
    assert(rows(1L)._2 === rows(2L)._2, "identical docs must score identically")
    assert(Seq(1L, 2L, 3L).map(rows(_)._2).min > rows(4L)._2,
      s"noise doc outranked a target doc: $rows")
    // deterministic: a fresh computation reproduces every value bit-for-bit
    val again = CurationOps.dsirWeights(docs)
    assert(out.exceptAll(again).count() === 0 && again.exceptAll(out).count() === 0)
    out.unpersist()
  }

  test("collocations equals a driver-side PMI recompute on the fixture corpus (G9)") {
    val docs = graft.Tables.table(spark, sf, "documents")
    val got = CurationOps.collocations(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    // independent reference with JDK primitives and the same association
    val texts = docs.select("text").collect().map(_.getString(0))
      .filter(_.split(" ", -1).length >= 2).map(_.split(" ", -1))
    val uni = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val bi = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    texts.foreach { ws =>
      ws.foreach(w => uni(w) += 1)
      ws.sliding(2).foreach(p => bi((p(0), p(1))) += 1)
    }
    val nw = uni.values.sum.toDouble; val nb = bi.values.sum.toDouble
    val expected = bi.toSeq.filter(_._2 >= 5).map { case ((a, b), ct) =>
      val pmi = math.floor(math.log(ct.toDouble * nw / uni(a) / uni(b) * nw / nb)
        * 10000.0 + 0.5) / 10000.0
      (a, b, ct, pmi)
    }.sortBy { case (a, b, _, pmi) => (-pmi, a, b) }.take(20).zipWithIndex
      .map { case ((a, b, ct, pmi), i) => ((i + 1).toLong, a, b, ct, pmi) }
    assert(got.toSeq === expected)
    assert(got.nonEmpty && got.size <= 20)
  }

  test("weightedSample is the exact A-Res top-n; weights change the draw (S12)") {
    import java.security.MessageDigest
    val docs = graft.Tables.table(spark, sf, "documents")
    val got = CurationOps.weightedSample(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    // independent reference: same formula, computed with JDK primitives
    def key(id: Long, w: Long): Double = {
      val md = MessageDigest.getInstance("MD5")
        .digest(s"ws:$id".getBytes("UTF-8"))
      val hex = md.take(2).map("%02x".format(_)).mkString // first 4 hex chars
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 65536.0
      math.floor(math.log(u) / w * 10000.0 + 0.5) / 10000.0
    }
    val all = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = all.map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (id, _, k) => (-k, id) }.take(100).zipWithIndex
      .map { case ((id, w, k), i) => ((i + 1).toLong, id, k) }.sortBy(_._1)
    assert(got.toSeq === expected.toSeq)
    // the weight genuinely matters: the unweighted draw (w ≡ 1 ⇒ rank by u
    // alone) selects a different set — otherwise this is s1 in disguise
    val unweighted = all.map { case (id, _) => (id, key(id, 1L)) }
      .sortBy { case (id, k) => (-k, id) }.take(100).map(_._1).toSet
    assert(got.map(_._2).toSet !== unweighted)
  }

  test("stratifiedSample takes exactly ceil(n_s/10) per stratum, deterministically (S13)") {
    import org.apache.spark.sql.functions._
    val out = CurationOps.stratifiedSample(docs).cache()
    val perStratum = out.groupBy("lang").agg(
      count(lit(1)).as("taken"), max("n_s").as("n_s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val truth = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perStratum.keySet === truth.keySet, "every stratum is represented")
    perStratum.foreach { case (lang, (taken, ns)) =>
      assert(ns === truth(lang), s"stratum size drifted for $lang")
      assert(taken === (truth(lang) + 9) / 10,
        s"stratum $lang took $taken of ${truth(lang)} — not ceil(n/10)")
    }
    // deterministic: a second run selects the identical id set
    val again = CurationOps.stratifiedSample(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === out.select("doc_id").collect().map(_.getLong(0)).toSet)
    out.unpersist()
  }

  test("clusterBalancedSample: exact ceil(n_c/10) per trained cluster, every cluster covered (S14)") {
    val e = Tables.table(spark, sf, "embeddings")
    val out = CurationOps.clusterBalancedSample(e).cache()
    // the cluster universe is the TRAINED assignment (geometric reassigned
    // cells), not the raw label column
    val cells = AnnOps.seededCellAssign(e).groupBy("cell")
      .agg(count(lit(1)).as("n_true")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val taken = out.groupBy("cell").agg(count(lit(1)).as("n_taken"),
        max("n_c").as("n_c"), max("rnk").as("max_rnk"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every nonempty cluster is represented — the whole point of the
    // balanced draw (a global threshold can miss small topics entirely)
    assert(taken.map(_._1).toSet === cells.keySet)
    taken.foreach { case (cell, nTaken, nC, maxRnk) =>
      assert(nC === cells(cell), s"cell $cell population drifted")
      val quota = (nC + 9) / 10 // ceil(n_c/10), integer
      assert(nTaken === quota, s"cell $cell took $nTaken, quota $quota")
      assert(maxRnk <= quota, s"cell $cell rank $maxRnk escaped its quota")
    }
    // determinism: the salted-hash draw reproduces row-for-row
    val again = CurationOps.clusterBalancedSample(
      Tables.table(spark, sf, "embeddings"))
    assert(again.exceptAll(out).count() === 0 &&
      out.exceptAll(again).count() === 0)
    // the sampler rides the memoized quantizer: a second draw trains nothing
    val trained = graft.operators.SessionMemo.computeCount
    CurationOps.clusterBalancedSample(e).count()
    assert(graft.operators.SessionMemo.computeCount === trained,
      "s14 re-trained the quantizer the memo already holds")
    out.unpersist()
  }

  test("retrievalServe: k diversified picks from the probe-bounded pool, pick order sound (C5)") {
    import spark.implicits._
    val e = Tables.table(spark, sf, "embeddings")
    val out = graft.SparkEntry.queries("c5_retrieval_serve")(spark, sf).cache()
    val nQueries = e.filter(col("vec_id") < 10).count()
    // shape: exactly k = 5 rows per query, picks 1..5, neighbors distinct
    assert(out.count() === nQueries * 5)
    assert(out.groupBy("query_id").count().filter(col("count") =!= 5).count() === 0)
    assert(out.select("query_id", "neighbor_id").distinct().count() === out.count())
    assert(out.groupBy("query_id").agg(collect_set("pick").as("p"))
      .filter(size(col("p")) =!= 5).count() === 0)
    // containment: every pick comes from the gated n10-shaped pool
    // (IVF×SQ8 probe-bounded scan, exact rerank, pool = cand = 20)
    val pool = AnnOps.ivfQuantizedTopK(e, k = 20, nProbe = 3)
      .select("query_id", "neighbor_id", "sim").cache()
    assert(out.select("query_id", "neighbor_id")
      .exceptAll(pool.select("query_id", "neighbor_id")).count() === 0,
      "a served pick escaped the probe-bounded candidate pool")
    // relevance anchor: pick 1 IS the pool's exact-rerank rank 1 (the same
    // (sim DESC, neighbor_id) order the n10 gate hashes), with its sim
    val best = pool.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id").as("b1"), col("sim").as("bs"))
    assert(out.filter(col("pick") === 1).join(best, Seq("query_id"))
      .filter(col("neighbor_id") =!= col("b1") || col("sim") =!= col("bs"))
      .count() === 0, "pick 1 drifted from the pool's exact top-1")
    // greedy soundness: from pick 2 on, the MMR objective is non-increasing
    // (each candidate's redundancy only grows as the picked set grows, and
    // the remaining set only shrinks). Pick 1 is excluded — round 1 carries
    // no redundancy term, and a NEGATIVE pair-cosine makes −μ·red a bonus
    // that can lift pick 2's objective above λ·sim₁.
    val seq = out.select("query_id", "pick", "mmr")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).values
    seq.foreach { rows =>
      val ordered = rows.filter(_._2 >= 2L).sortBy(_._2).map(_._3)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b <= a + 1e-9, s"mmr rose along pick order: ${ordered.mkString(",")}")
        case _ => ()
      }
    }
    // diversity: the served set's MAX pairwise cosine must not exceed the
    // plain top-5's — the quantity greedy MMR actually bounds (each pick
    // penalizes its worst redundancy against the picked set; the MEAN is
    // not a theorem of the objective and would be fixture-dependent)
    def maxPairSim(sel: org.apache.spark.sql.DataFrame): Double = {
      val v = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
      val withVec = sel.join(v, "neighbor_id")
      val a = withVec.select(col("query_id"), col("neighbor_id").as("na"), col("embedding").as("ea"))
      val b = withVec.select(col("query_id"), col("neighbor_id").as("nb"), col("embedding").as("eb"))
      import graft.functions.VectorFunctions.cosine_sim
      a.join(b, "query_id").filter(col("na") < col("nb"))
        .select(cosine_sim(col("ea"), col("eb")).as("s"))
        .agg(max("s")).head.getDouble(0)
    }
    val plainTop5 = pool.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rn") <= 5).select("query_id", "neighbor_id")
    val mmrDiv = maxPairSim(out.select("query_id", "neighbor_id"))
    val topDiv = maxPairSim(plainTop5)
    assert(mmrDiv <= topDiv + 1e-9,
      s"MMR picks are MORE redundant than plain top-5: $mmrDiv > $topDiv")
    pool.unpersist(); out.unpersist()
  }

  test("crossSourceContamination is posting-bounded and count-consistent (G10)") {
    import org.apache.spark.sql.functions._
    val out = CurationOps.crossSourceContamination(docs).cache()
    val rows = out.collect()
    assert(rows.nonEmpty, "replicated sources must overlap")
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b, "pair orientation must be canonical")
      val (shared, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(shared <= math.min(na, nb), s"$a x $b shares more than it has")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
    // per-source set sizes must equal the independent distinct count
    val na = out.select(col("source_a").as("s"), col("n_a").as("n"))
      .unionByName(out.select(col("source_b").as("s"), col("n_b").as("n")))
      .distinct().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = graft.Tables.spread(docs
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 3).select(col("source"), col("words")))
      .select(col("source"), explode(DedupOps.shingleExpr(col("words"))).as("sh"))
      .distinct().groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    na.foreach { case (s, n) => assert(n === truth(s), s"set size drifted for $s") }
    out.unpersist()
  }
}
