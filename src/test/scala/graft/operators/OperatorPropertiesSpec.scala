package graft.operators

import graft.SparkSpec
import graft.plans.AsOfJoinNative
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Invariant checks for the newest operators over generated inputs. */
class OperatorPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g(Gen.Parameters.default, Seed(seed)).get

  test("asOf preserves every left row exactly once for random histories") {
    val histGen = for {
      nKeys <- Gen.chooseNum(1, 5)
      rows <- Gen.listOfN(12, for {
        k <- Gen.chooseNum(1, nKeys)
        v <- Gen.chooseNum(0L, 100L)
        tag <- Gen.alphaLowerStr.map(_.take(4))
      } yield (k.toLong, tag, v))
    } yield rows
    val factGen = Gen.listOfN(20, for {
      k <- Gen.chooseNum(1L, 7L)  // includes keys with no history
      ts <- Gen.chooseNum(0L, 120L)
    } yield (k, ts))

    (1L to 3L).foreach { s =>
      val hist = sample(histGen, s).toDF("user_id", "tag", "valid_from")
        .dropDuplicates("user_id", "valid_from") // version key must be unique
      val facts = sample(factGen, s + 100).zipWithIndex
        .map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("fact_id", "user_id", "ts")
      val out = AsOfJoinNative.asOf(facts, hist, "user_id", "ts", "valid_from")
      assert(out.count() === facts.count(), s"seed $s lost/duplicated facts")
      assert(out.select("fact_id").distinct().count() === facts.count())
      // resolved version never postdates the fact
      assert(out.filter(col("r_valid_from") > col("ts")).count() === 0)
    }
  }

  test("dedupByCluster is idempotent: a second pass removes nothing") {
    val docs = graft.Tables.table(spark, sf, "documents")
    val once = DedupOps.dedupByCluster(docs, DedupOps.nearDupClusters(docs, 0.9)).persist()
    val twice = DedupOps.dedupByCluster(once, DedupOps.nearDupClusters(once, 0.9))
    assert(twice.count() === once.count())
  }

  test("ngram jaccard of a doc with itself would be 1: planted adjacent twins") {
    // two adjacent ids with identical text must appear with jaccard 1
    val texts = (0 until 12).map(i => (0 until 40).map(j => s"w${i}_$j").mkString(" "))
    val withTwin = texts.updated(5, texts(4)) // doc 5 = copy of doc 4
    val df = withTwin.zipWithIndex
      .map { case (t, i) => (i.toLong, t, t.replace(" ", "").length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val j = DedupOps.ngramJaccard(df)
      .filter(col("doc_a") === 4 && col("doc_b") === 5)
      .select("jaccard").collect()
    assert(j.length === 1 && j.head.getDouble(0) === 1.0)
  }

  test("lmScore equals an independent in-memory model on random corpora (T13)") {
    // reference implementation: same add-one bigram model, same integer
    // deci-milli quantization, sums exact — any Spark-side plan change that
    // perturbs count/join/sum semantics breaks equality bit-for-bit
    def reference(texts: Seq[String]): Map[Long, (Long, Double, Double)] = {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t.split(" ").toSeq) }
      val scored = docs.filter(_._2.length >= 2)
      val bigrams = scored.flatMap { case (_, w) => w.sliding(2).map(p => (p(0), p(1))) }
      val cb = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ctx = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val v = docs.flatMap(_._2).distinct.size.toLong
      scored.map { case (id, w) =>
        val tfs = w.sliding(2).map(p => (p(0), p(1))).toSeq
          .groupBy(identity).view.mapValues(_.size.toLong)
        val acc = tfs.map { case (bg, tf) =>
          math.floor(tf.toDouble * math.log((cb(bg) + 1.0) / (ctx(bg._1) + v).toDouble)
            * 10000.0 + 0.5).toLong
        }.sum
        val n = (w.length - 1).toLong
        val sumLp = (BigDecimal(acc) / 10000).toDouble
        val nll = math.floor(sumLp * -10000.0 / n + 0.5) / 10000.0
        id -> (n, sumLp, nll)
      }.toMap
    }
    val wordGen = Gen.oneOf("a", "b", "c", "dd", "eee", "ffff")
    val docGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.chooseNum(3, 10).flatMap(n => Gen.listOfN(n, docGen))
    (1L to 5L).foreach { s =>
      val texts = sample(corpusGen, s)
      val got = TextOps.lmScore(texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      val want = reference(texts)
      assert(got === want, s"seed $s diverged\n got=$got\nwant=$want")
    }
  }

  /** `rows` as a frame in a random order over three partitions. */
  private def shuffled[T](rows: Seq[T], seed: Long)(
      toDf: Seq[T] => org.apache.spark.sql.DataFrame) =
    toDf(new scala.util.Random(seed).shuffle(rows)).repartition(3)

  test("funnelStream == batch funnel under random ts-ordered batch splits (A10)") {
    val evGen = Gen.listOfN(40, for {
      u <- Gen.chooseNum(1L, 6L)
      t <- Gen.oneOf("view", "click", "purchase", "error")
      hrs <- Gen.chooseNum(0L, 60L)
    } yield (u, t, hrs * 3600L * 1000000))
    def funnelOf(df: org.apache.spark.sql.DataFrame) =
      StatsOps.funnel(df.select(col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts")))
        .collect().head.toSeq
    (1L to 3L).foreach { s =>
      // the answer depends on event time alone, never on arrival order or
      // partitioning: a random order over 3 partitions == ts order in one
      val evs = sample(evGen, s).sortBy(_._3)
      val want = funnelOf(evs.toDF("user_id", "event_type", "us").coalesce(1))
      Seq(s + 50, s + 60).foreach { p =>
        val got = funnelOf(shuffled(evs, p)(_.toDF("user_id", "event_type", "us")))
        assert(got === want, s"seed $s permutation $p funnel diverged")
      }
    }
  }

  test("transitionsStream/retentionStream == batch rollups under random ordered splits (A12/R3)") {
    val evGen = Gen.listOfN(40, for {
      u <- Gen.chooseNum(1L, 5L)
      t <- Gen.oneOf("view", "click", "signup", "error")
      hrs <- Gen.chooseNum(0L, 90L) // spans 4 epoch days incl. day 0
    } yield (u, t, hrs * 3600L * 1000000))
    def ts(c: org.apache.spark.sql.Column) = timestamp_micros(c)
    def transitionsOf(df: org.apache.spark.sql.DataFrame) =
      StatsOps.eventTransitions(df.select(col("event_id"), col("user_id"),
          col("event_type"), ts(col("us")).as("ts")))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          r.getLong(r.fieldIndex("ct"))).toMap
    def retentionOf(df: org.apache.spark.sql.DataFrame) =
      StatsOps.retention(df.select(col("user_id"), ts(col("us")).as("ts")))
        .collect().map(r => (r.getLong(r.fieldIndex("cohort_day")),
          r.getLong(r.fieldIndex("day_offset"))) ->
          r.getLong(r.fieldIndex("active_users"))).toMap
    (1L to 3L).foreach { s =>
      val raw = sample(evGen, s).sortBy(_._3)
      // event_id disambiguates equal-us events so every order of the rows
      // walks the SAME total order per user
      val evs = raw.zipWithIndex.map { case ((u, t, us), i) =>
        (i.toLong, u, t, us + i) }
      def frame(rows: Seq[(Long, Long, String, Long)]) =
        rows.toDF("event_id", "user_id", "event_type", "us")
      val wantT = transitionsOf(frame(evs).coalesce(1))
      val wantR = retentionOf(frame(evs).coalesce(1))
      Seq(s + 77, s + 88).foreach { p =>
        assert(transitionsOf(shuffled(evs, p)(frame)) === wantT,
          s"seed $s permutation $p transitions diverged")
        assert(retentionOf(shuffled(evs, p)(frame)) === wantR,
          s"seed $s permutation $p retention diverged")
      }
    }
  }

  test("triangles counts the planted graph exactly; hub edges orient inward (G8)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // user 1 walks 1->2->3->1: triangle {1,2,3}; user 2 walks 4->5: lone
    // edge; user 3 walks 6->1, 6->2, 6->4 (restarting at 6 via separate
    // visits): star at 6 — 6-1-2 closes a second triangle via {1,2}
    def ev(id: Long, user: Long, t: Long, node: Long) =
      (id, user, t, s"""{"k":$node}""")
    val rows = Seq(
      ev(1, 1, 10, 1), ev(2, 1, 20, 2), ev(3, 1, 30, 3), ev(4, 1, 40, 1),
      ev(5, 2, 10, 4), ev(6, 2, 20, 5),
      ev(7, 3, 10, 6), ev(8, 3, 20, 1), ev(9, 3, 30, 6), ev(10, 3, 40, 2),
      ev(11, 3, 50, 6), ev(12, 3, 60, 4))
    val events = rows.toDF("event_id", "user_id", "t", "props")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("t")).as("ts"), col("props"))
    // edges: {1,2},{2,3},{1,3},{4,5},{1,6},{2,6},{4,6}
    // triangles: {1,2,3} and {1,2,6}
    val got = StatsOps.triangles(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      1L -> ((3L, 2L)), 2L -> ((3L, 2L)), 3L -> ((2L, 1L)),
      4L -> ((2L, 0L)), 5L -> ((1L, 0L)), 6L -> ((3L, 1L))))
  }

  test("label propagation converges planted communities across a weak bridge (G13)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two weight-2 triangles {1,2,3} and {10,11,12} joined by ONE weight-1
    // bridge 3-10: synchronous LPA must settle each triangle on its min
    // label and the bridge must NOT merge them (intra-community weight 4
    // beats the bridge's 1 at node 3 / node 10 from round 2 on)
    def ev(id: Long, user: Long, t: Long, node: Long) =
      (id, user, t, s"""{"k":$node}""")
    val walk1 = Seq(1L, 2L, 3L, 1L, 2L, 3L, 1L).zipWithIndex
      .map { case (n, i) => ev(i + 1L, 1, 10L * (i + 1), n) }
    val walk2 = Seq(10L, 11L, 12L, 10L, 11L, 12L, 10L).zipWithIndex
      .map { case (n, i) => ev(100L + i, 2, 10L * (i + 1), n) }
    val walk3 = Seq(3L, 10L).zipWithIndex
      .map { case (n, i) => ev(200L + i, 3, 10L * (i + 1), n) }
    val events = (walk1 ++ walk2 ++ walk3).toDF("event_id", "user_id", "t", "props")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("t")).as("ts"), col("props"))
    val got = StatsOps.labelPropagation(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      10L -> ((10L, 3L)), 11L -> ((10L, 3L)), 12L -> ((10L, 3L))))
    // the one-round prefix is NOT yet the fixpoint (node 1 still carries
    // its round-1 tie-break label 2) — pins that rounds are synchronous
    // label adoptions, not a free-running converged pass
    val r1 = StatsOps.labelPropagation(events, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(1L) === 2L && r1(11L) === 10L)
  }

  test("cohort LTV: planted two-cohort matrix is exact; invariants hold on the fixture (A15)") {
    // cohort Jan-2024 = custs {1, 2}; cohort Feb-2024 = cust {3}.
    // cust 1 buys 10.00 in Jan and 5.50 in Mar (age 2, alone);
    // cust 2 buys 20.00 in Jan and 4.50 in Feb (age 1);
    // cust 3 buys 7.25 in Feb (its own cohort's age 0).
    def o(key: Long, cust: Long, date: String, price: Double) =
      (key, cust, java.sql.Timestamp.valueOf(date), price)
    val orders = Seq(
      o(1, 1, "2024-01-05 00:00:00", 10.0), o(2, 2, "2024-01-20 00:00:00", 20.0),
      o(3, 2, "2024-02-03 00:00:00", 4.5), o(4, 1, "2024-03-15 00:00:00", 5.5),
      o(5, 3, "2024-02-09 00:00:00", 7.25))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = StatsOps.cohortLtv(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val jan = 2024L * 12 + 1
    val feb = jan + 1
    assert(got === Map(
      (jan, 0L) -> ((2L, 30.0, 1.0, 15.0)),
      (jan, 1L) -> ((1L, 4.5, 0.5, 17.25)),
      (jan, 2L) -> ((1L, 5.5, 0.5, 20.0)),
      (feb, 0L) -> ((1L, 7.25, 1.0, 7.25))))
    // invariants on the real fixture: cum_ltv never decreases with age,
    // age-0 retention is exactly 1, and cell revenue reconciles to the
    // orders total (no row lost to the cohort windows)
    val real = StatsOps.cohortLtv(graft.Tables.table(spark, sf, "orders"))
    val bad = real.withColumn("prev",
        lag("cum_ltv", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("cohort_m").orderBy("age_m")))
      .filter(col("prev").isNotNull && col("cum_ltv") < col("prev"))
    assert(bad.count() === 0, "cum_ltv decreased within a cohort")
    assert(real.filter(col("age_m") === 0 && col("retained") =!= 1.0).count() === 0)
    val cellSum = real.agg(sum(col("revenue").cast("decimal(18,4)"))).head.getDecimal(0)
    val total = graft.Tables.table(spark, sf, "orders")
      .agg(sum(col("o_totalprice").cast("decimal(18,4)"))).head.getDecimal(0)
    assert(cellSum.compareTo(total) === 0, s"$cellSum != $total")
  }
}
