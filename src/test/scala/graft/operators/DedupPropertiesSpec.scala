package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY §5.4) over ScalaCheck-generated corpora:
  * invariants the DuckDB oracle can't express. Deterministic seeds — each
  * property is exercised over several generated corpora.
  */
class DedupPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("the", "a", "spark", "join", "hash", "scan", "merge",
    "row", "data", "stream", "window", "batch")
  private val docGen: Gen[String] =
    Gen.chooseNum(3, 30).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
  private val corpusGen: Gen[List[String]] = Gen.chooseNum(5, 25).flatMap(Gen.listOfN(_, docGen))

  private def sample[T](g: Gen[T], seed: Long): T =
    g(Gen.Parameters.default, Seed(seed)).get

  private def docsDf(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, t.replace(" ", "").length.toLong) }
      .toDF("doc_id", "text", "n_chars")

  test("exact dedup partitions the corpus: sum(dup_ct) == corpus size") {
    (1L to 5L).foreach { s =>
      val texts = sample(corpusGen, s)
      val d = DedupOps.dedupExact(docsDf(texts))
      assert(d.agg(sum("dup_ct")).head.getLong(0) === texts.size.toLong)
      assert(d.select("fingerprint").distinct().count() === d.count())
    }
  }

  test("identical texts always collide in every LSH band (jaccard 1)") {
    (1L to 5L).foreach { s =>
      val t = sample(docGen, s)
      val pairs = DedupOps.minhashLshPairs(docsDf(Seq(t, t))).collect()
      assert(pairs.length === 1, s"seed $s: $t")
      assert(pairs.head.getAs[Double]("jaccard") === 1.0)
    }
  }

  test("jaccard bounded, intersection <= union, pairs ordered a < b") {
    (1L to 3L).foreach { s =>
      val j = DedupOps.ngramJaccard(docsDf(sample(corpusGen, s)))
      assert(j.filter(col("jaccard") < 0.0 || col("jaccard") > 1.0).count() === 0)
      assert(j.filter(col("inter_ct") > col("union_ct")).count() === 0)
      assert(j.filter(col("doc_a") >= col("doc_b")).count() === 0)
    }
  }

  test("simhash and sorted-bag fingerprint are word-order-insensitive") {
    (1L to 5L).foreach { s =>
      val t = sample(docGen, s)
      val shuffled = t.split(" ").reverse.mkString(" ")
      val df = docsDf(Seq(t, t, shuffled))
      val sh = DedupOps.simhash(df).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(sh(0L) === sh(1L))
      assert(sh(0L) === sh(2L)) // bag-of-words hash ignores order
      val fp = TextOps.fingerprint(df).collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(fp(0L) === fp(2L)) // fp_sorted ignores order
    }
  }

  test("simhashPairs: identical docs pair at hamming 0; pairing is pigeonhole-complete (D7)") {
    // planted: docs 0 and 1 identical, doc 2 a heavy rewrite, doc 3 unrelated
    val texts = Seq(
      "spark join hash scan merge row data stream window batch",
      "spark join hash scan merge row data stream window batch",
      "spark join hash scan merge row data stream window patch",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairs(df, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 1L)) === 0L) // identical ⇒ identical fingerprint

    // pigeonhole completeness: EVERY pair within the hamming bound must be
    // found by the banded join — compare against the brute-force pair set
    val corpora = Gen.listOfN(18, docGen).apply(Gen.Parameters.default, Seed(7L)).get
    val cdf = corpora.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val banded = DedupOps.simhashPairs(cdf, maxHamming = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = DedupOps.simhash(cdf).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = sh(a).zip(sh(b)).count { case (x, y) => x != y } if h <= 3
    } yield (a, b)).toSet
    assert(banded === brute, s"banded=$banded brute=$brute")
  }

  test("simhash64Pairs: identical docs pair at hamming 0; pigeonhole-complete at 64 bits (D8)") {
    val texts = Seq(
      "spark join hash scan merge row data stream window batch",
      "spark join hash scan merge row data stream window batch", // dup of 0
      "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val pairs = DedupOps.simhash64Pairs(df, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 1L)) === 0L) // identical ⇒ identical 64-bit fingerprint
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L))) // unrelated

    // completeness vs brute force, as in the d7 test but at the 64-bit width
    val corpora = Gen.listOfN(18, docGen).apply(Gen.Parameters.default, Seed(11L)).get
    val cdf = corpora.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val banded = DedupOps.simhash64Pairs(cdf, maxHamming = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = DedupOps.simhash64(cdf).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh.values.forall(_.length == 64))
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = sh(a).zip(sh(b)).count { case (x, y) => x != y } if h <= 3
    } yield (a, b)).toSet
    assert(banded === brute, s"banded=$banded brute=$brute")
  }

  test("simhash64Pairs pair count stays sub-quadratic as the corpus doubles (D8 scale shape)") {
    // k disjoint-vocabulary templates × 3 exact repeats each: true pairs are
    // the C(3,2)=3 within-template pairs, so doubling the corpus by doubling
    // k must ~double the pair count — a quadratic (all-pairs-ish) pairing
    // would 4× it. Disjoint per-template vocab keeps cross-template 64-bit
    // hamming far above 3, so the expectation is deterministic, not w.h.p.
    def corpus(k: Int) = (0 until k).flatMap { t =>
      val text = (0 until 10).map(w => s"w${t}x$w").mkString(" ")
      Seq.fill(3)(text)
    }.zipWithIndex.map { case (txt, i) => (i.toLong, txt) }.toDF("doc_id", "text")
    val small = DedupOps.simhash64Pairs(corpus(12)).count()
    val big = DedupOps.simhash64Pairs(corpus(24)).count()
    assert(small === 36L) // 12 templates × 3 within-template pairs
    assert(big === 72L, s"doubling docs must ~double pairs, got $small -> $big")
  }

  test("simhashPairs demo-width guard fails loudly past its corpus ceiling (D7)") {
    val docs = (0 until 12).map(i => (i.toLong, s"doc number $i words here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      DedupOps.simhashPairs(docs, maxHamming = 3, maxDocs = 10)
    }
    assert(e.getMessage.contains("simhash64Pairs"), "guard must point at the production width")
    // at or under the ceiling the demo width still works
    assert(DedupOps.simhashPairs(docs, maxHamming = 3, maxDocs = 12).columns.nonEmpty)
  }

  test("set join-back fails before broadcasting a set table past the broadcast bound (D3/D5/D18)") {
    val docs = docsDf(sample(corpusGen, 1L))
    spark.conf.set("spark.sql.maxBroadcastTableSize", "16b")
    // no automatic broadcasts (d18 materializes a join before its verify):
    // only the explicit join-back broadcast is left to hit the bound
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq[() => Any](() => DedupOps.minhashLshPairs(docs), () => DedupOps.ngramJaccard(docs),
          () => DedupOps.containmentPairs(docs)).foreach { op =>
        // the scope releases what the operator materialized before failing
        val e = intercept[IllegalArgumentException](Materialize.scope(op()))
        assert(e.getMessage.contains("spark.sql.maxBroadcastTableSize") &&
          e.getMessage.contains("posting-list"), e.getMessage)
      }
    } finally {
      spark.conf.unset("spark.sql.maxBroadcastTableSize")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // under the default bound the same corpus verifies
    assert(DedupOps.minhashLshPairs(docs).columns.contains("jaccard"))
  }

  test("banded pairing rejects maxHamming >= nBands (pigeonhole contract)") {
    val docs = Seq((0L, "a b c d"), (1L, "a b c e")).toDF("doc_id", "text")
    val e7 = intercept[IllegalArgumentException](DedupOps.simhashPairs(docs, maxHamming = 4))
    assert(e7.getMessage.contains("pigeonhole"))
    val e8 = intercept[IllegalArgumentException](DedupOps.simhash64Pairs(docs, maxHamming = 4))
    assert(e8.getMessage.contains("pigeonhole"))
  }

  test("winnowing guarantee: docs sharing a 6+-word run share a fingerprint (D9)") {
    // winnow window w=4 over 3-shingles: any shared run of >= w + n - 1 = 6
    // consecutive words must yield at least one common selected fingerprint
    val shared = "spark join hash scan merge row data stream"
    (1L to 5L).foreach { s =>
      val pre = sample(docGen, s); val post = sample(docGen, s + 100)
      val df = docsDf(Seq(s"$pre $shared", s"$shared $post", sample(docGen, s + 200)))
      val fp = DedupOps.winnowFingerprints(df)
      val common = fp.filter(col("doc_id") === 0L).select("fp")
        .intersect(fp.filter(col("doc_id") === 1L).select("fp"))
      assert(common.count() >= 1, s"seed $s: no shared fingerprint")
    }
    // selection only thins: fingerprints are a subset of the shingle hashes,
    // and every >= 3-word doc keeps at least one
    val texts = sample(corpusGen, 42L)
    val df = docsDf(texts)
    val fp = DedupOps.winnowFingerprints(df).cache()
    val nDocs = texts.count(_.split(" ").length >= 3)
    assert(fp.select("doc_id").distinct().count() === nDocs.toLong)
    val perDoc = DedupOps.shingles(df).groupBy("doc_id").count()
      .join(fp.groupBy("doc_id").agg(count(lit(1)).as("nfp")), "doc_id")
    assert(perDoc.filter(col("nfp") > col("count")).count() === 0)
    fp.unpersist()
  }

  test("winnow pair mining surfaces run-sharing docs; common-hash cap silences boilerplate (D15)") {
    // docs 0/1 share an 11-word run (>= 2 winnow selections); doc 2 unrelated
    val shared = "spark join hash scan merge row data stream window batch agg"
    val df = docsDf(Seq(
      s"${sample(docGen, 7L)} $shared",
      s"$shared ${sample(docGen, 107L)}",
      sample(docGen, 207L)))
    val pairs = DedupOps.winnowPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, _) => a == 0L && b == 1L },
      s"run-sharing pair missing: ${pairs.mkString(",")}")
    assert(pairs.forall { case (a, b, sh) => a < b && sh >= 2 })
    assert(!pairs.exists { case (a, b, _) => a == 2L || b == 2L },
      "unrelated doc must not pair")
    // the MOSS common-hash drop: 60 identical docs exceed maxDf=50, so the
    // boilerplate identifies nobody — zero pairs; raising the cap brings
    // back all 60*59/2
    val many = docsDf(Seq.fill(60)("alpha beta gamma delta epsilon zeta eta theta"))
    assert(DedupOps.winnowPairs(many).count() === 0L)
    assert(DedupOps.winnowPairs(many, maxDf = 100).count() === 60L * 59 / 2)
  }

  test("curateCorpus keeps exactly the en/quality keepers (C1)") {
    val good = ("the spark engine joins the stream with a window and " * 3).trim // en, long
    val noStops = "alpha beta gamma delta epsilon zeta eta theta iota kappa"     // not en
    val short = "the a"                                                          // quality < 2? n_chars tiny
    val df = docsDf(Seq(good, good, noStops, short)) // doc 1 = exact dup of doc 0
    val out = TextOps.curateCorpus(df).collect().map(_.getLong(0)).toSet
    assert(out.contains(0L), "keeper of the duplicate pair must survive")
    assert(!out.contains(1L), "non-keeper duplicate must be dropped")
    assert(!out.contains(2L), "stopword-free doc must fail the language filter")
    assert(!out.contains(3L), "short doc must fail the quality filter")
    // surviving rows satisfy the advertised predicates
    val rows = TextOps.curateCorpus(df)
    assert(rows.filter(col("quality_score") < 2).count() === 0)
  }

  test("tokenCount: ws_tokens equals naive split count") {
    (1L to 3L).foreach { s =>
      val texts = sample(corpusGen, s)
      val got = TextOps.tokenCount(docsDf(texts)).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) === t.split(" ", -1).length.toLong)
      }
    }
  }

  test("segment dedup keeps each distinct segment exactly once, first doc wins") {
    (1L to 3L).foreach { s =>
      val texts = sample(corpusGen, s)
      val df = docsDf(texts)
      val out = DedupOps.segmentDedup(df).cache()
      // reference segmentation: non-overlapping 10-word windows
      def segsOf(t: String): Seq[String] =
        t.split(" ", -1).grouped(10).map(_.mkString(" ")).toSeq
      val allSegs = texts.zipWithIndex.flatMap { case (t, i) =>
        segsOf(t).zipWithIndex.map { case (g, j) => (i.toLong, j.toLong, g) }
      }
      // total survivors == number of distinct segment texts in the corpus
      val distinctSegs = allSegs.map(_._3).distinct.size.toLong
      assert(out.agg(sum("kept_segs")).head.getLong(0) === distinctSegs)
      // per row: 1 <= kept <= n_segs, and n_segs matches the reference count
      val byDoc = out.collect().map(r => r.getLong(0) -> r).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        byDoc.get(i.toLong).foreach { r =>
          assert(r.getLong(1) === segsOf(t).size.toLong)
          assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1))
        }
      }
      // reassembly: clean_text is exactly the first-occurrence segments of
      // the doc, joined in order (computed independently here)
      val firstOwner = allSegs.groupBy(_._3).map { case (g, occ) =>
        g -> occ.minBy(o => (o._1, o._2))
      }
      texts.zipWithIndex.foreach { case (t, i) =>
        val want = segsOf(t).zipWithIndex
          .filter { case (g, j) => firstOwner(g)._1 == i.toLong && firstOwner(g)._2 == j.toLong }
          .map(_._1).mkString(" ")
        val got = byDoc.get(i.toLong).map(_.getString(3)).getOrElse("")
        assert(got === want, s"doc $i reassembly mismatch")
      }
      out.unpersist()
    }
  }

  test("boilerplate strip (D17): >=3-doc segments excised everywhere, 2-doc segments kept, full-boilerplate doc surfaces empty") {
    // exact 10-word blocks so segment boundaries align with intent
    val B = "this site uses cookies accept terms to continue reading now"
    val U0 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val U1 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val U2 = "uniform victor whiskey xray yankee zulu one two three four"
    val C = "shared pair segment words five six seven eight nine ten"
    val U4 = "extra tail for doc four aa bb cc dd ee"
    val U5 = "extra tail for doc five ff gg hh ii jj"
    val df = docsDf(Seq(
      s"$B $U0",   // 0: boilerplate head
      s"$B $U1",   // 1: boilerplate head
      s"$U2 $B",   // 2: boilerplate TAIL — position must not matter
      B,           // 3: doc IS the boilerplate → must surface as ''
      s"$C $U4",   // 4: C shared by only TWO docs → below df threshold, kept
      s"$C $U5",   // 5
      "tiny words here", // 6: short unique doc, single sub-10-word segment
      s"$B $B"))   // 7: within-doc repeat — BOTH occurrences excised,
                   //    but df counts doc 7 once (distinct docs: 0,1,2,3,7)
    // stage 1: exactly the one >=3-doc segment is boilerplate
    val boiler = DedupOps.boilerplateSegments(df).collect().map(_.getString(0)).toSet
    assert(boiler === Set(B), s"boilerplate set: $boiler")
    val out = DedupOps.boilerplateStrip(df, DedupOps.boilerplateSegments(df)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.size === 8, "every segmented doc surfaces exactly once")
    assert(out(0L) === ((2L, 1L, U0)))
    assert(out(1L) === ((2L, 1L, U1)))
    assert(out(2L) === ((2L, 1L, U2))) // tail-position boilerplate removed too
    assert(out(3L) === ((1L, 0L, "")))  // fully-boilerplate doc: '' not row loss
    assert(out(4L) === ((2L, 2L, s"$C $U4"))) // two-doc overlap is d3's territory, kept
    assert(out(5L) === ((2L, 2L, s"$C $U5")))
    assert(out(6L) === ((1L, 1L, "tiny words here")))
    assert(out(7L) === ((2L, 0L, ""))) // both within-doc occurrences excised
  }

  test("containment pairs (D18): an embedded short doc scores 1.0; bounds and ordering hold") {
    // doc 1 = 10 consecutive words lifted from doc 0's middle: every shingle
    // of doc 1 is a shingle of doc 0 → containment 1.0, while Jaccard is
    // only ~8/28 (the asymmetric case MinHash bands structurally miss)
    val host = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu niner octo deca endword")
    val embedded = host.split(" ").slice(10, 20).mkString(" ")
    val unrelated = "one two three four five six seven eight nine ten eleven twelve"
    val df = docsDf(Seq(host, embedded, unrelated))
    val out = DedupOps.containmentPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.length === 1, s"exactly the embedded pair: ${out.mkString(",")}")
    val (a, b, inter, na, nb, c) = out.head
    assert(a === 0L && b === 1L, "pairs ordered doc_a < doc_b")
    assert(c === 1.0, s"full containment, got $c")
    assert(inter === math.min(na, nb), "intersection equals the smaller set")
    // bounded and well-formed on generated corpora
    (1L to 3L).foreach { s =>
      val p = DedupOps.containmentPairs(docsDf(sample(corpusGen, s)), threshold = 0.0)
      assert(p.filter(col("containment") < 0.0 || col("containment") > 1.0).count() === 0)
      assert(p.filter(col("doc_a") >= col("doc_b")).count() === 0)
      assert(p.filter(col("inter_ct") > least(col("na"), col("nb"))).count() === 0)
    }
  }

  test("exact substring spans (D13): cross/within-doc repeats found, overlaps merge, unique text silent") {
    // hand fixture with every structural case, k = 4 for readability
    val boiler = "all rights reserved by the owner" // 6 words, shared verbatim
    val fixtures = Seq(
      // docs 0,1: the 6-word boilerplate embedded in DIFFERENT hosts →
      // cross-doc span of exactly those 6 tokens in each
      (0L, s"alpha bravo charlie $boiler delta echo"),
      (1L, s"foxtrot golf $boiler hotel india juliet kilo"),
      // doc 2: a WITHIN-doc repeat (same 4-gram twice, no other doc has it)
      (2L, "red green blue white red green blue white"),
      // doc 3: wholly unique text → no spans at all
      (3L, "one lonely sentence with nothing repeated anywhere here"),
      // docs 4,5: two duplicated 4-grams OVERLAPPING by 3 → ONE merged
      // 5-token span, not two 4-token spans
      (4L, "pre lorem ipsum dolor sit amet post one"),
      (5L, "zz lorem ipsum dolor sit amet yy xx"))
      .map { case (id, t) => (id, t, t.replace(" ", "").length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val spans = DedupOps.exactSubstringSpans(fixtures, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.toSet.map((x: (Long, Long, Long, Long)) =>
        (x._2, x._3, x._4))).toMap
    // cross-doc: doc 0's words 3..8 and doc 1's words 2..7 are the boilerplate
    assert(spans(0L) === Set((3L, 8L, 6L)), s"doc0 got ${spans.get(0L)}")
    assert(spans(1L) === Set((2L, 7L, 6L)), s"doc1 got ${spans.get(1L)}")
    // within-doc: both occurrences of the repeated 4-gram surface — and since
    // the repeat is back-to-back, coverage merges into ONE whole-doc span
    assert(spans(2L) === Set((0L, 7L, 8L)), s"doc2 got ${spans.get(2L)}")
    // unique doc: no rows
    assert(!spans.contains(3L), s"doc3 must be silent, got ${spans.get(3L)}")
    // overlap merge: 'lorem ipsum dolor sit amet' = 5 tokens, one span each
    assert(spans(4L) === Set((1L, 5L, 5L)), s"doc4 got ${spans.get(4L)}")
    assert(spans(5L) === Set((1L, 5L, 5L)), s"doc5 got ${spans.get(5L)}")
    // every span is at least k tokens by construction
    val all = DedupOps.exactSubstringSpans(fixtures, k = 4)
    assert(all.filter(col("span_tokens") < 4).count() === 0)

    // the removal face excises exactly the spans, order-preserved; every
    // doc surfaces once, a fully-duplicated doc as the empty string
    val clean = DedupOps.stripDuplicatedSpans(fixtures,
        DedupOps.duplicatedGrams(fixtures, k = 4), k = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(clean.size === 6)
    assert(clean(0L) === ((11L, 6L, "alpha bravo charlie delta echo")))
    assert(clean(1L) === ((12L, 6L, "foxtrot golf hotel india juliet kilo")))
    assert(clean(2L) === ((8L, 8L, ""))) // whole doc duplicated → empty
    assert(clean(3L)._2 === 0L) // unique doc untouched
    assert(clean(3L)._3 === "one lonely sentence with nothing repeated anywhere here")
    assert(clean(4L) === ((8L, 5L, "pre post one")))
    assert(clean(5L) === ((8L, 5L, "zz yy xx")))
  }

  test("property: incrementalDedup matches a driver-side reference triage (d19)") {
    // independent reference: exact = text equality; near = any LSH band
    // collision (bands recomputed from the signature operator's output)
    // AND jaccard >= 1/2 over distinct 3-shingles (recomputed from raw
    // text driver-side); match = min qualifying history id, exact first
    (1L to 3L).foreach { s =>
      val texts = sample(corpusGen, s)
      val docs = docsDf(texts)
      val sigs = DedupOps.minhashSignature(docs).collect()
        .map(r => r.getLong(0) -> (0 until 8).map(i => r.getString(i + 1))).toMap
      def shingles(t: String): Set[String] = {
        val w = t.split(" ").filter(_.nonEmpty)
        if (w.length < 3) Set.empty
        else w.sliding(3).map(_.mkString(" ")).toSet
      }
      def bandsOf(id: Long): Set[(Int, String)] =
        sigs.get(id).map(mh => (0 until 4).map(b => b -> (mh(2 * b) + mh(2 * b + 1))).toSet)
          .getOrElse(Set.empty)
      val byId = texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
      val inc = byId.keys.filter(_ % 2 == 1).toSeq.sorted
      val hist = byId.keys.filter(_ % 2 == 0).toSeq.sorted
      val expected = inc.map { i =>
        val exact = hist.filter(h => byId(h) == byId(i)).sorted.headOption
        val near = hist.filter { h =>
          val sa = shingles(byId(i)); val sb = shingles(byId(h))
          val inter = (sa & sb).size
          bandsOf(i).intersect(bandsOf(h)).nonEmpty && sa.nonEmpty && sb.nonEmpty &&
            inter * 2 >= sa.size + sb.size - inter
        }.sorted.headOption
        val status =
          if (exact.isDefined) "exact" else if (near.isDefined) "near" else "novel"
        i -> ((status, exact.orElse(near)))
      }.toMap
      val got = DedupOps.incrementalDedup(docs).collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
      assert(got === expected, s"seed $s")
    }
  }

  test("incrementalDedup triages exact / near / novel against history (d19)") {
    // history = even ids, incoming = odd. Crafted so each status fires:
    //   1 vs 0 — byte-identical         → exact (match 0)
    //   3 vs 2 — one word changed       → near  (jaccard of 3-shingles ≥ ½)
    //   5      — disjoint vocabulary    → novel
    //   7 vs 0 — identical AND near 2?  → exact wins the coalesce
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val hist2 = "papa quebec romeo sierra tango uniform victor whiskey xray yankee"
    val docs = Seq(
      (0L, base), (1L, base), (2L, hist2), (3L, hist2.replace("yankee", "zulu")),
      (4L, "mike november oscar kilo lima golfing echoes"),
      (5L, "one two three four five six seven"),
      (6L, base), (7L, base))
      .map { case (id, t) => (id, t, t.replace(" ", "").length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val out = DedupOps.incrementalDedup(docs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(out.keySet === Set(1L, 3L, 5L, 7L), "every incoming doc exactly once")
    assert(out(1L) === (("exact", Some(0L))))
    // doc 3 differs from history doc 2 by the LAST word only: 7 of 8
    // 3-shingles shared → jaccard 7/9 ≥ ½; the leading bands' minhashes
    // come from the shared shingles here (deterministic md5s), so the
    // band collision fires
    assert(out(3L)._1 === "near")
    assert(out(3L)._2 === Some(2L))
    assert(out(5L) === (("novel", None)))
    // doc 7 is exact-dup of 0 AND 6 (min id wins), also near them — exact wins
    assert(out(7L) === (("exact", Some(0L))))

    // history is NEVER the shuffled side: the near path must carry no
    // sort-merge join and the only keyed exchanges are batch-sized aggs
    val plan = DedupOps.incrementalDedup(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
