package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
import org.apache.spark.sql.streaming.Trigger

/** Live and cross-arrival contracts of the operators a stream runs. A live
  * stream runs the batch operator on each micro-batch, so the stateless
  * operators are pinned stream == batch per row; an operator whose answer
  * spans arrivals (dedup keepers, funnels, monitors) is pinned on the batch
  * operator at each arrival prefix — including WHICH row survives each
  * duplicate group. Reference parity: the reference's keyed dedup is
  * order-dependent the same way (first visit of the day wins,
  * app/dwm/UniqueVisitApp.java:54-102), so "which row survives" is part of
  * the operator contract, not an implementation accident.
  */
class StatefulParitySpec extends SparkSpec {
  import spark.implicits._

  test("dedupExactStream: stream (AvailableNow) == batch, first arrival survives") {
    // duplicate fingerprints spread across arrival batches; ids encode order,
    // so d1's min-id keeper is the first arrival of each fingerprint
    val batch1 = Seq((1L, "same text", 1000L), (2L, "other text", 2000L))
    val batch2 = Seq((3L, "same text", 3000L), (4L, "third text", 4000L))
    val batch3 = Seq((5L, "other text", 5000L), (6L, "same text", 6000L))
    val kept = graft.operators.DedupOps.dedupExact(
        (batch1 ++ batch2 ++ batch3).toDF("doc_id", "text", "ts"))
      .select("keeper_id", "dup_ct").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // survivor pinning: the FIRST arrival of each duplicate group wins
    assert(kept.keySet === Set(1L, 2L, 4L))
    assert(kept === Map(1L -> 3L, 2L -> 2L, 4L -> 1L))
  }

  test("domainCapStream: admits at most cap per source across batches, first arrivals win") {
    // src A sends 3 then 2 docs, src B sends 2 — cap 4 admits 4 of A and all of B
    val batch1 = Seq(("A", 1L, 100L), ("A", 2L, 200L), ("A", 3L, 300L), ("B", 10L, 150L))
    val batch2 = Seq(("A", 4L, 400L), ("A", 5L, 500L), ("B", 11L, 250L))
    def admitted(rows: Seq[(String, Long, Long)]) =
      graft.operators.CurationOps.domainCap(
          rows.toDF("source", "doc_id", "ts").withColumn("lang", lit("en")), cap = 4)
        .select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    val all = admitted(batch1 ++ batch2)
    // s6 admits the cap by the salted-hash order md5("cap:" || doc_id), not
    // by arrival: A keeps 4, 2, 5, 3 and drops doc 1, the last in that order
    assert(all === Set(("A", 2L), ("A", 3L), ("A", 4L), ("A", 5L),
      ("B", 10L), ("B", 11L)))
    // the admitted set does not depend on how the rows arrived
    assert(admitted(batch2 ++ batch1) === all)
    // a source under the cap is admitted whole at every arrival prefix
    assert(admitted(batch1) === Set(("A", 1L), ("A", 2L), ("A", 3L), ("B", 10L)))
  }

  test("segmentDedupStream: stream (AvailableNow) == batch, first arrival survives") {
    // 10-word segments: doc 1 = seg A + seg B, doc 2 re-sends seg A + new C,
    // doc 3 re-sends B and C — only first arrivals of each segment survive
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val segC = (1 to 10).map(i => s"c$i").mkString(" ")
    val batch1 = Seq((1L, s"$segA $segB", 1000L))
    val batch2 = Seq((2L, s"$segA $segC", 2000L))
    val batch3 = Seq((3L, s"$segB $segC", 3000L))
    def kept(rows: Seq[(Long, String, Long)]) =
      graft.operators.DedupOps.segmentDedup(rows.toDF("doc_id", "text", "ts"))
        .select("doc_id", "n_segs", "kept_segs", "clean_text").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // first arrivals: A and B from doc 1, C (segment 1) from doc 2 — doc 3
    // keeps nothing and drops out
    val all = kept(batch1 ++ batch2 ++ batch3)
    assert(all === Map(1L -> ((2L, 2L, s"$segA $segB")), 2L -> ((2L, 1L, segC))))
    assert(all.map { case (d, (_, k, _)) => d -> k } === Map(1L -> 2L, 2L -> 1L))
    // a later arrival never takes a segment from an earlier one
    assert(kept(batch1 ++ batch2) === all)
  }

  test("bpeTokenize is a STATELESS streaming face: stream == batch per row (T10)") {
    implicit val sqlCtx = spark.sqlContext
    // tokenization is a pure scan-project, so the same call runs on a
    // streaming frame unchanged (spread passes streaming inputs through)
    val rows = Seq((1L, "the band"), (2L, "standing there"))
    val merges = graft.operators.CurationOps.DemoBpeMerges
    val input = MemoryStream[(Long, String)]
    input.addData(rows: _*)
    val q = graft.operators.CurationOps.bpeTokenize(
        input.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("sp_bpe")
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("sp_bpe")
      .select("doc_id", "word_idx", "tok_idx", "token").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batched = graft.operators.CurationOps.bpeTokenize(
        rows.toDF("doc_id", "text"), merges)
      .select("doc_id", "word_idx", "tok_idx", "token").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed === batched)
    assert(streamed.nonEmpty)
  }

  test("winnowFingerprints is a STATELESS streaming face: stream == batch per row (D9)") {
    implicit val sqlCtx = spark.sqlContext
    // selection is a pure map-side projection (spread passes streaming
    // frames through), so the same call runs on a readStream unchanged —
    // the last map-side operator without a proven streaming face
    val text1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val text2 = ((5 to 20).map(i => s"w$i") ++ Seq("x1", "x2", "x3")).mkString(" ")
    val rows = Seq((1L, text1), (2L, text2))
    val input = MemoryStream[(Long, String)]
    input.addData(rows: _*)
    val q = graft.operators.DedupOps.winnowFingerprints(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sp_winnow")
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("sp_winnow")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batched = graft.operators.DedupOps.winnowFingerprints(
        rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batched)
    assert(streamed.nonEmpty)
    // the winnowing guarantee that makes segment overlap detectable: docs
    // sharing a >= W+N-1 token run share at least one selected fingerprint
    val fp1 = streamed.collect { case (1L, fp) => fp }
    val fp2 = streamed.collect { case (2L, fp) => fp }
    assert(fp1.intersect(fp2).nonEmpty, "shared run lost its fingerprint")
  }

  test("MJPEG decode is a STATELESS streaming face: stream == batch per frame (V2)") {
    implicit val sqlCtx = spark.sqlContext
    // the codec seam is a pure per-record map over opaque blobs, so the
    // same call runs on a readStream of media records — continuous video
    // ingestion — without a separate streaming implementation
    import graft.operators.{MultimodalOps, MediaRecord}
    def rec(id: Long): MediaRecord = MediaRecord(id, "video/x-motion-jpeg",
      MultimodalOps.syntheticMjpeg(id, 16 + (id % 4).toInt, 12, 1 + (id % 3).toInt))
    val rows = Seq(rec(1L), rec(2L), rec(3L))
    val input = MemoryStream[MediaRecord]
    input.addData(rows: _*)
    val q = MultimodalOps.decodeMjpegFrames(input.toDS())
      .writeStream.format("memory").queryName("sp_mjpeg")
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    try q.awaitTermination() finally q.stop()
    def rowSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "frame_idx", "width", "height", "n_pixels").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet
    val streamed = rowSet(spark.table("sp_mjpeg"))
    val batched = rowSet(MultimodalOps.decodeMjpegFrames(
      spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[MediaRecord])))
    assert(streamed === batched)
    // fan-out sanity: doc 1 has 2 frames, doc 2 has 3, doc 3 has 1
    assert(streamed.count(_._1 == 1L) === 2)
    assert(streamed.count(_._1 == 2L) === 3)
    assert(streamed.count(_._1 == 3L) === 1)
  }

  test("vectorSearchStream: standing-query top-k merge == one-shot batch search (N1)") {
    // the REAL corpus cut into three uneven parts; the queries are n1's
    // (vec_id < 10), so the search over all parts must equal cosineTopK
    val all = graft.Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray))
    assert(all.length > 30, "fixture too small to split meaningfully")
    val queries = all.filter(_._1 < 10).toSeq
      .toDF("query_id", "qe")
    val splits = Seq(all.take(7), all.slice(7, 29), all.drop(29))
    type Hit = (Long, Long, Long, Double)
    def search(part: Seq[(Long, Array[Float])]): Set[Hit] =
      graft.operators.AnnOps.searchTopK(part.toDF("vec_id", "embedding"), queries, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // top-k of the per-part top-k lists, re-ranked by n1's order (sim
    // desc, neighbor asc)
    def merged(parts: Seq[Set[Hit]]): Set[Hit] =
      parts.flatten.groupBy(_._1).toSeq.flatMap { case (q, hits) =>
        hits.map(h => (h._2, h._4)).distinct.sortBy { case (n, sim) => (-sim, n) }
          .take(5).zipWithIndex.map { case ((n, sim), i) => (q, n, (i + 1).toLong, sim) }
      }.toSet
    val perSplit = splits.map(s => search(s.toIndexedSeq))
    val batch = graft.operators.AnnOps
      .cosineTopK(all.toIndexedSeq.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(merged(perSplit) === batch,
      "merged per-part top-k diverged from the one-shot search")
    // and after any prefix of the parts, the merge is the prefix-exact answer
    assert(merged(perSplit.take(2)) === search(splits.take(2).flatten.toIndexedSeq),
      "merged prefix top-k is not the prefix-exact answer")
  }

  test("embeddingDedupStream: stream (AvailableNow) == batch, first arrival survives") {
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val (a, b, c) = (vec(), vec(), vec())
    // same-signature (identical) vectors recur across batches; ids encode
    // arrival order
    val batch1 = Seq((1L, a, 1000L), (2L, b, 2000L))
    val batch2 = Seq((3L, a, 3000L), (4L, c, 4000L))
    val batch3 = Seq((5L, b, 5000L))
    val rows = (batch1 ++ batch2 ++ batch3).toDF("vec_id", "embedding", "ts")
      .withColumn("label", lit(0L))
    // d6's greedy keep-first keeps the lowest id of each near-dup group
    val dropped = graft.operators.AnnOps.embeddingNearDups(rows)
      .filter(col("is_dup") && col("vec_id") > col("nn_id"))
      .select("vec_id").as[Long].collect().toSet
    assert(Set(1L, 2L, 3L, 4L, 5L) -- dropped === Set(1L, 2L, 4L))
    // the duplicates share the full 32-bit SRP signature; the survivors don't
    val sig = rows.select(col("vec_id"),
        graft.operators.AnnOps.lshSignature(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sig(3L) === sig(1L) && sig(5L) === sig(2L))
    assert(Set(sig(1L), sig(2L), sig(4L)).size === 3)
  }

  test("stripSpansStream is a STATELESS streaming face; batch face == stripDuplicatedSpans (D13/D14)") {
    import graft.operators.DedupOps
    val k = 4
    val corpus = Seq(
      (0L, "alpha bravo charlie all rights reserved by the owner delta"),
      (1L, "foxtrot golf all rights reserved by the owner hotel india"),
      (2L, "red green blue white red green blue white"),
      (3L, "one lonely sentence with nothing repeated anywhere at all"))
    val corpusDf = corpus.toDF("doc_id", "text")
    // the reference gram set, built once outside the batch function
    val ref = DedupOps.duplicatedGrams(corpusDf, k)
    def rows(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("removed_tokens"),
        r.getAs[String]("clean_text"))).toSet

    // stripped live against the corpus's own duplicated grams, the stream
    // equals the batch operator on the corpus row-for-row
    val streamed = rows(liveRun(corpus, "doc_id", "text")(
      DedupOps.stripDuplicatedSpans(_, ref, k)))
    val batched = rows(DedupOps.stripDuplicatedSpans(
      corpusDf, DedupOps.duplicatedGrams(corpusDf, k), k).collect().toSeq)
    assert(streamed === batched, "span strip diverged between stream and batch")
    // sanity on content: boilerplate removed cross-doc, unique doc untouched
    assert(streamed.contains((3L, 0L, "one lonely sentence with nothing repeated anywhere at all")))
    assert(streamed.exists { case (id, rm, _) => id == 0L && rm == 6L })
  }

  test("funnelStream transition counts == batch funnel stage counts; state carries across batches (A10)") {
    val h = 3600L * 1000000
    def ev(u: Long, t: String, hrs: Long) = (u, t, hrs * h)
    // u1 full path; u2 click-before-view; u3 click outside 24h; u4
    // purchase-before-click; u5 non-funnel event only — same fixture
    // family as the batch spec, cut MID-FUNNEL into two arrival batches
    val batch1 = Seq(ev(1, "view", 1), ev(2, "click", 1), ev(3, "view", 1),
      ev(4, "view", 1), ev(4, "purchase", 2), ev(5, "error", 1))
    val batch2 = Seq(ev(1, "click", 2), ev(2, "view", 2), ev(3, "click", 27),
      ev(4, "click", 3), ev(1, "purchase", 3), ev(2, "purchase", 3),
      ev(3, "purchase", 28))
    def funnelRow(rows: Seq[(Long, String, Long)]) =
      graft.operators.StatsOps.funnel(
          rows.toDF("user_id", "event_type", "us")
            .select(col("user_id"), col("event_type"),
              timestamp_micros(col("us")).as("ts")))
        .collect().head
    def stages(rows: Seq[(Long, String, Long)]) = {
      val r = funnelRow(rows)
      Seq("users", "viewed", "clicked", "purchased").map(c => r.getLong(r.fieldIndex(c)))
    }
    // the first arrival batch alone: five users and no qualifying click
    // (u2's click precedes its view), so click_to_purchase divides by zero
    // and is NULL, as in SQL; the ratios over `viewed` are 0 of 3
    assert(stages(batch1) === Seq(5L, 3L, 0L, 0L))
    val early = funnelRow(batch1)
    assert(early.isNullAt(early.fieldIndex("click_to_purchase")))
    assert(early.getAs[Double]("view_to_click") === 0.0)
    assert(early.getAs[Double]("full_funnel") === 0.0)
    // no view at all: every ratio is NULL
    val unviewed = funnelRow(batch1.filter(e => e._1 == 2L || e._1 == 5L))
    assert(Seq("view_to_click", "click_to_purchase", "full_funnel")
      .forall(c => unviewed.isNullAt(unviewed.fieldIndex(c))))
    // viewed: u1-u4; clicked: u1, u4 (u2 clicked before its view, u3 past
    // 24 h); purchased: u1 (u4 bought before its click)
    assert(stages(batch1 ++ batch2) === Seq(5L, 4L, 2L, 1L))
    // the cross-batch path: u1's click and purchase arrived a batch after
    // its view, and complete its funnel
    val all = batch1 ++ batch2
    assert(stages(all.filter(_._1 == 1L)) === Seq(1L, 1L, 1L, 1L))
    // and every stage is reached only after the one before it: u4 bought
    // before its click
    assert(stages(all.filter(_._1 == 4L)) === Seq(1L, 1L, 1L, 0L))
  }

  test("transitionsStream multiset == batch lag() transitions across batches (A12)") {
    val h = 3600L * 1000000
    val evs = Seq(
      (1L, "view", 1L * h), (1L, "click", 2L * h), (1L, "view", 3L * h),
      (2L, "signup", 1L * h), (2L, "view", 5L * h),
      (3L, "error", 2L * h)).sortBy(_._3)
    val batched = graft.operators.StatsOps.eventTransitions(
        evs.zipWithIndex.map { case ((u, t, us), i) => (i.toLong, u, t, us) }
          .toDF("event_id", "user_id", "event_type", "us")
          .select(col("event_id"), col("user_id"), col("event_type"),
            timestamp_micros(col("us")).as("ts")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getLong(r.fieldIndex("ct"))).toMap
    assert(batched === Map(("_start", "view") -> 1L, ("view", "click") -> 1L,
      ("click", "view") -> 1L, ("_start", "signup") -> 1L,
      ("signup", "view") -> 1L, ("_start", "error") -> 1L), s"batch=$batched")
    // the edge across the arrival cut (after the 4th event): u1's click->view
    assert(batched(("click", "view")) === 1L)
  }

  test("retentionStream counts == batch retention active_users across batches (R3)") {
    val d = 86400000000L
    // u1 active days 0,1,1,3 (dup same-day); u2 joins day 1, active 1,2
    val evs = Seq(
      (1L, 0L * d), (1L, 1L * d + 7), (1L, 1L * d + 9), (2L, 1L * d),
      (2L, 2L * d), (1L, 3L * d)).sortBy(_._2)
    val batched = graft.operators.StatsOps.retention(
        evs.toDF("user_id", "us")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts")))
      .collect().map(r => (r.getLong(r.fieldIndex("cohort_day")),
        r.getLong(r.fieldIndex("day_offset"))) ->
        r.getLong(r.fieldIndex("active_users"))).toMap
    assert(batched === Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L), s"batch=$batched")
    // same-day duplicate activity counted once; epoch-day-0 cohort legal
    assert(batched((0L, 1L)) === 1L)
    assert(batched((0L, 0L)) === 1L)
  }

  test("lmScoreStream is a STATELESS streaming face; batch face == lmScore bit-for-bit (T13)") {
    import graft.operators.TextOps
    val corpus = Seq(
      (1L, "a b a b"), (2L, "a b"), (3L, "c"),
      (4L, "the data and the model go to the store"),
      (5L, "the data the data the data"))
    val corpusDf = corpus.toDF("doc_id", "text")
    // the reference model, built once outside the batch function
    val model = TextOps.lmModel(TextOps.lmCounts(corpusDf), corpusDf)
    def scores(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("sum_logprob"), r.getAs[Double]("nll")))).toMap

    // scored live against the corpus's own model, the stream equals the
    // batch operator row-for-row INCLUDING the quantized doubles; a doc of
    // model-unseen bigrams scores finite HIGH nll (add-one backoff)
    val streamed = scores(liveRun(corpus :+ ((9L, "zz qq zz qq zz")), "doc_id", "text")(
      b => TextOps.lmScoreBy(TextOps.lmCounts(b), model)))
    val batched = scores(TextOps.lmScore(corpusDf).collect().toSeq)
    assert(streamed - 9L === batched, "lm scoring diverged between stream and batch")
    // the all-unseen doc is the WORST-scored doc in the stream
    assert(streamed(9L)._3 === streamed.values.map(_._3).max)
  }

  test("lm live scoring backs off with the reference's context count (T13)") {
    import graft.operators.TextOps
    // reference "a b", "a c": ctx(a) = 2, V = 3. The live bigram (a, d) is
    // unseen, so P = (0 + 1) / (ctx(a) + V) = 1/5 and nll = ln 5 = 1.6094;
    // a scorer that dropped the reference's ctx(a) would give ln 3 = 1.0986
    val ref = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val model = TextOps.lmModel(TextOps.lmCounts(ref), ref)
    val got = liveRun(Seq((9L, "a d")), "doc_id", "text")(
      b => TextOps.lmScoreBy(TextOps.lmCounts(b), model))
    assert(got.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("nll"))) === Seq((9L, 1.6094)))
  }

  test("boilerplateStripStream is a STATELESS streaming face; batch face == boilerplateStrip row-for-row (D17)") {
    import graft.operators.DedupOps
    val B = "this site uses cookies accept terms to continue reading now"
    val U0 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val U1 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val U2 = "uniform victor whiskey xray yankee zulu one two three four"
    val corpus = Seq(
      (0L, s"$B $U0"), (1L, s"$B $U1"), (2L, s"$U2 $B"), (3L, B),
      (4L, "tiny words here"))
    val corpusDf = corpus.toDF("doc_id", "text")
    // the reference boilerplate set, built once outside the batch function
    val ref = DedupOps.boilerplateSegments(corpusDf)
    def rows(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_segs"), r.getAs[Long]("kept_segs"), r.getAs[String]("clean_text")))).toMap

    // cleaned live against the corpus's own boilerplate set, the stream
    // equals the batch operator row-for-row; a live doc whose text is
    // entirely indexed boilerplate is cleaned to '' without any state store
    val streamed = rows(liveRun(corpus :+ ((9L, s"$B $B")), "doc_id", "text")(
      DedupOps.boilerplateStrip(_, ref)))
    val batched = rows(DedupOps.boilerplateStrip(corpusDf,
      DedupOps.boilerplateSegments(corpusDf)).collect().toSeq)
    assert(streamed - 9L === batched, "boilerplate strip diverged between stream and batch")
    assert(streamed(9L) === ((2L, 0L, "")))
  }

  test("pplBucketsStream is a STATELESS streaming face; batch face == pplBuckets row-for-row (T14)") {
    import graft.operators.{Materialize, TextOps}
    import org.apache.spark.sql.functions.{length => slen, col => c}
    // three fluency tiers (the TextOpsSpec t14 fixture shape)
    val corpus = (1L to 4L).map(i => (i, "the data the data the data")) ++
      (5L to 8L).map(i => (i, s"the data mixes level$i tokens")) ++
      (9L to 12L).map(i => (i, s"q$i w$i e$i r$i t$i"))
    val corpusDf = corpus.toDF("doc_id", "text")
      .withColumn("n_chars", slen(c("text")).cast("long"))
    // the reference, built once outside the batch function: the corpus's
    // model and its own scored nll rows (the thresholds' histogram)
    val model = TextOps.lmModel(TextOps.lmCounts(corpusDf), corpusDf)
    val refScored = Materialize(TextOps.lmScore(corpusDf).select("doc_id", "nll"))
    def rows(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Double]("nll"), r.getAs[String]("bucket")))).toMap

    // bucketed live against the corpus's own thresholds, the stream equals
    // the batch operator row-for-row (nll AND bucket); a live noise doc of
    // model-unseen bigrams classifies into the TAIL
    val streamed = rows(liveRun(corpus :+ ((99L, "zz qq zz qq zz")), "doc_id", "text")(b =>
      TextOps.pplBucketsBy(
        TextOps.lmScoreBy(TextOps.lmCounts(b), model).select("doc_id", "nll"), refScored)))
    val batched = rows(TextOps.pplBuckets(corpusDf).collect().toSeq)
    assert(streamed - 99L === batched, "ppl bucketing diverged between stream and batch")
    assert(streamed(99L)._2 === "tail")
  }

  test("nbScoreStream is a STATELESS streaming face; batch face == nbQualityScore bit-for-bit (T15)") {
    import graft.operators.TextOps
    // long stopworded docs pass the t2 positive gate; short ones don't
    val corpus = Seq(
      (1L, ("the data and the model go to the store and that works fine " * 3).trim),
      (2L, "a b a b a b"), (3L, "c d"), (4L, "short noise tokens qq"),
      (5L, ("the quick brown fox jumps over the lazy dog again and again today " * 2).trim))
      .map { case (id, t) => (id, t, t.length.toLong) }
    val corpusDf = corpus.toDF("doc_id", "text", "n_chars")
    // the reference model, built once outside the batch function
    val model = TextOps.nbModel(TextOps.nbCounts(corpusDf), corpusDf)
    def scores(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_tokens"), r.getAs[Double]("log_odds"), r.getAs[String]("predicted")))).toMap

    // scored live against the corpus's own model, the stream equals the
    // batch operator row-for-row including the quantized doubles; a doc of
    // model-unseen words still scores finite (both-class add-one backoff)
    val noise = "zz qq zz qq zz"
    val streamed = scores(liveRun(corpus :+ ((9L, noise, noise.length.toLong)),
        "doc_id", "text", "n_chars")(
      b => TextOps.nbScoreBy(TextOps.nbCounts(b), model)))
    val batched = scores(TextOps.nbQualityScore(corpusDf).collect().toSeq)
    assert(streamed - 9L === batched, "nb scoring diverged between stream and batch")
    assert(!streamed(9L)._2.isNaN && !streamed(9L)._2.isInfinite)
  }

  test("dsirScoreStream is a STATELESS streaming face; batch face == dsirWeights bit-for-bit (S10)") {
    import graft.operators.CurationOps
    // long docs with stopwords pass the t2 target gate; short ones don't
    val corpus = Seq(
      (1L, ("the data and the model go to the store and that works fine " * 3).trim),
      (2L, "a b a b a b"), (3L, "c d"), (4L, "short noise tokens qq"),
      (5L, ("the quick brown fox jumps over the lazy dog again and again today " * 2).trim))
      .map { case (id, t) => (id, t, t.length.toLong) }
    val corpusDf = corpus.toDF("doc_id", "text", "n_chars")
    // the reference models, built once outside the batch function
    val model = CurationOps.dsirModel(CurationOps.dsirCounts(corpusDf))
    def weights(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_feats"), r.getAs[Double]("weight"), r.getAs[Double]("gumbel"),
        r.getAs[Double]("gscore")))).toMap

    // weighed live against the corpus's own models, the stream equals the
    // batch operator row-for-row including the quantized doubles; a doc of
    // model-unseen bigrams still scores finite
    val noise = "zz qq zz qq zz"
    val streamed = weights(liveRun(corpus :+ ((9L, noise, noise.length.toLong)),
        "doc_id", "text", "n_chars")(
      b => CurationOps.dsirWeightsBy(CurationOps.dsirCounts(b), model)))
    val batched = weights(CurationOps.dsirWeights(corpusDf).collect().toSeq)
    assert(streamed - 9L === batched, "dsir scoring diverged between stream and batch")
    assert(java.lang.Double.isFinite(streamed(9L)._2))
  }

  test("gopherRules is a STATELESS streaming face: stream == batch per row (T12)") {
    implicit val sqlCtx = spark.sqlContext
    // the rule battery is a pure scan-projection, so the same call runs on
    // a streaming frame unchanged — live ingest quality-gating
    val rows = Seq(
      (1L, ("the data and the model go to the store and that " * 6).trim),
      (2L, "short doc"),
      (3L, (1 to 60).map(i => s"- item $i").mkString("\n")))
    val input = MemoryStream[(Long, String)]
    input.addData(rows: _*)
    val q = graft.operators.TextOps.gopherRules(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sp_gopher")
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    try q.awaitTermination() finally q.stop()
    val cols = Seq("doc_id", "n_words", "r_word_count", "r_bullet_lines", "keep")
    val streamed = spark.table("sp_gopher").select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet
    val batched = graft.operators.TextOps.gopherRules(rows.toDF("doc_id", "text"))
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(streamed === batched)
    assert(streamed.exists(r => r.head == 1L && r.last == true))
    assert(streamed.exists(r => r.head == 3L && r.last == false))
  }

  test("audioFingerprintStream: stream == batch, first arrival survives (M8)") {
    // ids 7 and 263 are congruent mod 256 with equal sample counts -> same
    // decoded prefix -> same fingerprint; 8 is a different class; 30 is too
    // short for a prefix and must emit nothing
    val batch1 = Seq((7L, 200L, 1000L), (8L, 150L, 2000L))
    val batch2 = Seq((263L, 200L, 3000L), (30L, 100L, 4000L))
    val dir = tempDir("m8_docs")
    (batch1 ++ batch2).toDF("doc_id", "n_chars", "ts")
      .write.parquet(s"$dir/documents.parquet")
    val kept = graft.operators.MultimodalOps.audioFingerprintDups(spark, dir)
      .select("keeper_id", "dup_ct").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 263 collapsed onto 7 (first arrival), 8 kept, 30 ineligible
    assert(kept.keySet === Set(7L, 8L))
    assert(kept === Map(7L -> 2L, 8L -> 1L))
  }

  test("entityResolveStream: incremental map == batch entityResolve across mid-cluster splits (E2)") {
    // the cluster STRADDLES arrival batches: bolt (b2) bridges belt (b1) and
    // boot (b2); melt (b3) joins via belt; record 3 (b3) LOWERS boot's
    // founding id, so the component's canonical must REVISE
    val batch1 = Seq((10L, "red belt"), (14L, "blue gear"))
    val batch2 = Seq((11L, "red bolt"), (12L, "red boot"))
    val batch3 = Seq((13L, "red melt"), (3L, "red boot"))
    def canon(rows: Seq[(Long, String)]) =
      graft.operators.TextOps.entityResolve(rows.toDF("p_partkey", "p_name"))
        .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    val maps = Seq(batch1, batch1 ++ batch2, batch1 ++ batch2 ++ batch3).map(canon)
    assert(maps(0) === Map("red belt" -> "red belt", "blue gear" -> "blue gear"))
    // bolt bridged belt(10)/bolt(11)/boot(12): canonical = min-id name
    assert(maps(1)("red boot") === "red belt")
    // id lowering revises the WHOLE component's canonical
    assert(maps(2)("red belt") === "red boot")
    assert(maps(2)("red melt") === "red boot")
    assert(maps(2)("blue gear") === "blue gear")
  }

  test("profileMonitorStream: per-batch profile == batch profile (DQ3)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "en", "web", 120L), (2L, "de", "web", 300L),
      (3L, null.asInstanceOf[String], "books", 80L))
    val input = MemoryStream[(Long, String, String, Long)]
    input.addData(rows: _*)
    val got = scala.collection.mutable.ArrayBuffer[Set[Seq[Any]]]()
    val q = input.toDF().toDF("doc_id", "lang", "source", "n_chars")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got += graft.operators.RelationalOps.columnProfile(b)
          .collect().map(_.toSeq).toSet
        ()
      }.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val batch = graft.operators.RelationalOps.columnProfile(
      rows.toDF("doc_id", "lang", "source", "n_chars"))
      .collect().map(_.toSeq).toSet
    assert(got.size === 1 && got.head === batch)
    // the planted null is counted, not crashed on
    assert(batch.exists(r => r.head == "lang" && r(2) == 1L))
  }

  test("fkMonitorStream: per-batch orphan audit == fkCheck; dim refresh picked up (DQ7)") {
    implicit val sqlCtx = spark.sqlContext
    var dim = Seq(1L, 2L).toDF("pk")
    val input = MemoryStream[Long]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)]()
    // `dim` is read inside the batch function, so a refresh between
    // triggers is picked up
    val q = input.toDF().toDF("fk")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val r = graft.operators.RelationalOps
          .fkCheck("fact.fk->dim", b, "fk", dim, "pk").head
        got += ((r.getLong(1), r.getLong(2), r.getBoolean(3)))
        ()
      }.start()
    try {
      input.addData(1L, 2L, 7L); q.processAllAvailable() // 7 is an orphan
      dim = Seq(1L, 2L, 7L).toDF("pk")                   // dim refreshed
      input.addData(7L, 2L); q.processAllAvailable()     // 7 now resolves
    } finally q.stop()
    assert(got.toSeq === Seq((3L, 1L, false), (2L, 0L, true)))
  }

  test("attributionStream: frozen + live partials == batch a14 across finalization (A14)") {
    val h = 3600L * 1000000
    def ev(id: Long, user: Long, tpe: String, us: Long, value: Double, k: Long) =
      (id, new java.sql.Timestamp(us / 1000), user, tpe, value, s"""{"k":$k}""")
    // batch 1: user 1's journey completes (2 touches + purchase);
    // batch 2: a LATE view lands inside user 2's purchase lookback
    //   (revises its touch count) and the max ts advances 3 days;
    // batch 3: a new journey for user 3
    val b1 = Seq(
      ev(1, 1, "view", 10 * h, 0.0, 0), ev(2, 1, "view", 11 * h, 0.0, 1),
      ev(3, 1, "purchase", 12 * h, 50.0, 9),
      ev(4, 2, "view", 13 * h, 0.0, 2), ev(5, 2, "purchase", 14 * h, 30.0, 9))
    val b2 = Seq(
      ev(6, 2, "view", 13 * h + 1, 0.0, 3), // late view, revises user 2
      ev(7, 9, "view", 84 * h, 0.0, 4))
    val b3 = Seq(
      ev(8, 3, "view", 85 * h, 0.0, 0), ev(9, 3, "purchase", 86 * h, 20.0, 9))
    def batchOf(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]) =
      graft.operators.StatsOps.attribution(
          rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val got = Seq(b1, b1 ++ b2, b1 ++ b2 ++ b3).map(batchOf)
    // the late view took half of user 2's purchase from ch2 to ch3
    assert(got(1)(2L) !== got(0)(2L))
    assert(got(1)(3L) === Seq(0L, 0.0, 1L, 30.0, 15.0, 15.0))
    // user 1's attribution (ch0 first touch, ch1 last) is untouched by later
    // arrivals outside its lookback
    assert(got(1)(1L) === got(0)(1L))
    assert(got(2)(1L) === got(0)(1L))
  }

  test("freshnessStream: compacted state stays exact — final report == batch dq5 (DQ5)") {
    val day = 86400000000L
    // batch 2 advances the global ref by 3 days: stream b goes stale, yet it
    // must keep appearing in every report (growing lag, zero last-day)
    val b1 = Seq(("a", 1L * day), ("a", 1L * day + 5L), ("b", 1L * day + 10L))
    val b2 = Seq(("a", 4L * day), ("a", 4L * day - 100L))
    def report(rows: Seq[(String, Long)]) = graft.operators.RelationalOps.freshness(
        rows.toDF("event_type", "us")
          .select(col("event_type"), timestamp_micros(col("us")).as("ts")))
      .collect().map(_.toSeq).toSet
    // (event_type, last_us, lag_us, total_events, events_last_day) per prefix
    assert(report(b1) === Set(Seq("a", day + 5L, 5L, 2L, 2L),
      Seq("b", day + 10L, 0L, 1L, 1L)))
    val both = report(b1 ++ b2)
    assert(both.exists(r => r.head == "a" && r(3) == 4L && r(4) == 2L))
    // the stale stream is still reported, not dropped
    assert(both.exists(r =>
      r.head == "b" && r(4) == 0L && r(2) == 3L * day - 10L))
  }

  test("volumeAnomalyStream: daily-count state is sufficient — final report == batch dq6 (DQ6)") {
    val day = 86400000000L
    // day 1 of stream x STRADDLES the two arrival batches: it must surface
    // as one row with the summed count, not two rows
    val b1 = Seq(("x", 1L), ("x", 2L), ("x", day + 1L), ("y", 5L))
    val b2 = Seq(("x", day + 2L), ("x", 2 * day + 1L), ("x", 2 * day + 2L),
      ("x", 2 * day + 3L), ("y", day + 5L))
    def report(rows: Seq[(String, Long)]) = graft.operators.RelationalOps.volumeAnomaly(
        rows.toDF("event_type", "us")
          .select(col("event_type"), timestamp_micros(col("us")).as("ts")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(report(b1) === Map(("x", 0L) -> 2L, ("x", 1L) -> 1L, ("y", 0L) -> 1L))
    // the straddled day merged: exactly one row for (x, day 1), count 2
    assert(report(b1 ++ b2) === Map(("x", 0L) -> 2L, ("x", 1L) -> 2L,
      ("x", 2L) -> 3L, ("y", 0L) -> 1L, ("y", 1L) -> 1L))
  }

  test("incrementalDedupStream: per-micro-batch triage == batch operator (D19)") {
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val hist2 = "papa quebec romeo sierra tango uniform victor whiskey xray yankee"
    val history = Seq(
      (0L, base), (2L, hist2),
      (4L, "mike november oscar kilo lima golfing echoes"), (6L, base))
      .map { case (id, t) => (id, t, t.replace(" ", "").length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    // incoming split across TWO micro-batches: exact dup, near dup, novel
    val batch1 = Seq((1L, base), (3L, hist2.replace("yankee", "zulu")))
    val batch2 = Seq((5L, "one two three four five six seven"), (7L, base))
    val toRow = (p: (Long, String)) => (p._1, p._2, p._2.replace(" ", "").length.toLong)

    val input = MemoryStream[(Long, String, Long)]
    input.addData(batch1.map(toRow): _*); input.addData(batch2.map(toRow): _*)
    val got = scala.collection.mutable.Map[Long, (String, Option[Long])]()
    val q = input.toDF().toDF("doc_id", "text", "n_chars")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.DedupOps.incrementalDedupOf(b, history).collect()
          .foreach(r => got(r.getLong(0)) =
            (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
      }.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()

    val batched = graft.operators.DedupOps.incrementalDedupOf(
        (batch1 ++ batch2).map(toRow).toDF("doc_id", "text", "n_chars"), history)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(got.toMap === batched, "stream triage diverged from the batch operator")
    assert(got(1L) === (("exact", Some(0L))))
    assert(got(3L)._1 === "near")
    assert(got(5L) === (("novel", None)))
    assert(got(7L) === (("exact", Some(0L))))
  }
}
