package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The native whole-operator as-of join (logical node + strategy + exec)
  * against an independent composition from built-ins ([[composedAsOf]]):
  * identical rows on the shared contract, strict join-style null semantics,
  * inclusive bound, and the intended physical shape (one exchange per side,
  * keyed sort, the custom operator in the plan).
  */
class AsOfJoinNativeSpec extends SparkSpec {
  import spark.implicits._

  /** Differential oracle: the same contract as [[AsOfJoinNative.asOf]]
    * composed as union + running window. Tag each side, union on (key, ts),
    * and carry the latest right payload forward with `last(_, ignoreNulls)
    * over (partition by key order by ts, side)`; at equal timestamps the
    * version (side 0) sorts first, making the bound inclusive. Null left
    * keys/timestamps never match; null-key/ts versions are dropped.
    */
  private def composedAsOf(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, prefix: String = "r_"): DataFrame = {
    val renamed = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"$prefix$c"))
    val (rKey, rTs) = (s"$prefix$key", s"$prefix$rightTs")
    val lPayload = struct(left.columns.map(left(_)): _*)
    val rPayload = struct(renamed.columns.map(renamed(_)): _*)
    val lType = left.select(lPayload).schema.head.dataType
    val rType = renamed.select(rPayload).schema.head.dataType
    val lSide = left.select(col(key).as("_k"), col(leftTs).as("_t"),
      lit(1).as("_side"), lPayload.as("_l"), lit(null).cast(rType).as("_r"))
    val rSide = renamed.filter(col(rKey).isNotNull && col(rTs).isNotNull)
      .select(col(rKey).as("_k"), col(rTs).as("_t"), lit(0).as("_side"),
        lit(null).cast(lType).as("_l"), rPayload.as("_r"))
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc_nulls_first, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .withColumn("_rlast", when(col("_k").isNull || col("_t").isNull,
        lit(null).cast(rType)).otherwise(last(col("_r"), ignoreNulls = true).over(w)))
      .filter(col("_side") === 1)
      .select(left.columns.map(c => col(s"_l.`$c`").as(c)) ++
        renamed.columns.map(c => col(s"_rlast.`$c`").as(c)): _*)
      .drop(rKey)
  }

  private def events = Tables.table(spark, sf, "events")
  private def clicks = events.filter(col("event_type") === "click")
    .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
  // one row per (user, ts) so "latest" is deterministic everywhere
  private def views = events.filter(col("event_type") === "view")
    .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("view_id"))

  test("native as-of equals the union+window composition row for row") {
    val native = AsOfJoinNative.asOf(clicks, views, "user_id", "ts", "ts")
      .select("click_id", "user_id", "ts", "r_ts", "r_view_id")
    val composed = composedAsOf(clicks, views, "user_id", "ts", "ts")
      .select("click_id", "user_id", "ts", "r_ts", "r_view_id")
    assert(native.count() === clicks.count())
    assert(native.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(native).count() === 0)
  }

  test("as-of picks the greatest right ts <= left ts; bound is inclusive") {
    val left = Seq((1L, 100L, 10L), (1L, 101L, 20L), (2L, 102L, 15L))
      .toDF("k", "lid", "t")
      .select(col("k"), col("lid"), timestamp_micros(col("t")).as("t"))
    val right = Seq((1L, 900L, 10L), (1L, 901L, 15L), (2L, 902L, 16L))
      .toDF("k", "rid", "t")
      .select(col("k"), col("rid"), timestamp_micros(col("t")).as("t"))
    val out = AsOfJoinNative.asOf(left, right, "k", "t", "t")
      .select("lid", "r_rid").collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(100L) === 900L) // equal timestamps match (inclusive)
    assert(out(101L) === 901L) // latest version at-or-before wins
    assert(out(102L) === -1L)  // only future versions -> unmatched
  }

  test("null keys and timestamps never match, on either side") {
    val left = Seq(
      (Some(1L), Some(10L), 1L), (None, Some(10L), 2L), (Some(1L), None, 3L))
      .toDF("k", "t", "lid")
      .select(col("k"), timestamp_micros(col("t")).as("t"), col("lid"))
    val right = Seq(
      (Some(1L), Some(5L), 90L), (None, Some(1L), 91L), (Some(1L), None, 92L))
      .toDF("k", "t", "rid")
      .select(col("k"), timestamp_micros(col("t")).as("t"), col("rid"))
    val out = AsOfJoinNative.asOf(left, right, "k", "t", "t")
      .select("lid", "r_rid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(1L -> 90L, 2L -> -1L, 3L -> -1L))
  }

  test("duplicate left rows each survive; deep histories resolve per row") {
    val left = Seq((1L, 30L, 1L), (1L, 30L, 1L), (1L, 50L, 2L))
      .toDF("k", "t", "lid")
      .select(col("k"), timestamp_micros(col("t")).as("t"), col("lid"))
    val right = (1L to 40L).map(v => (1L, v, 800L + v))
      .toDF("k", "t", "rid")
      .select(col("k"), timestamp_micros(col("t")).as("t"), col("rid"))
    val out = AsOfJoinNative.asOf(left, right, "k", "t", "t")
      .select("lid", "r_rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.count(_ == (1L, 830L)) === 2) // both duplicates matched at v30
    assert(out.count(_ == (2L, 840L)) === 1) // capped at the last version
  }

  test("plan: custom operator present, one exchange per pre-keyed side") {
    val pre = clicks // already keyed by nothing -> one exchange each side
    val native = AsOfJoinNative.asOf(pre, views, "user_id", "ts", "ts")
    native.count() // materialize through AQE
    val p = native.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"custom operator missing from plan:\n$p")
    // clicks side: 1 exchange; views side: agg exchange + re-key exchange
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 3, s"unexpected shuffle count $shuffles in:\n$p")
  }

  test("composite keys: versions resolve per key tuple") {
    // (region, sku) price history: same sku in two regions, own timelines
    val left = Seq(("eu", 7L, 20L, 1L), ("us", 7L, 20L, 2L), ("eu", 8L, 20L, 3L))
      .toDF("region", "sku", "t", "lid")
      .select(col("region"), col("sku"), timestamp_micros(col("t")).as("t"), col("lid"))
    val right = Seq(("eu", 7L, 10L, 900L), ("eu", 7L, 15L, 901L),
        ("us", 7L, 12L, 902L), ("eu", 9L, 5L, 903L))
      .toDF("region", "sku", "t", "rid")
      .select(col("region"), col("sku"), timestamp_micros(col("t")).as("t"), col("rid"))
    val out = AsOfJoinNative.asOfKeys(left, right, Seq("region", "sku"), "t", "t")
      .select("lid", "r_rid").collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(1L -> 901L,  // eu/7: latest of its own two versions
      2L -> 902L,                   // us/7: the us timeline, not eu's
      3L -> -1L))                   // eu/8: no history for that tuple
    // prefixed key columns are all dropped
    val cols = AsOfJoinNative.asOfKeys(left, right, Seq("region", "sku"), "t", "t").columns
    assert(!cols.contains("r_region") && !cols.contains("r_sku"))
  }

  test("tolerance bounds match staleness: too-old versions report unmatched") {
    val left = Seq((1L, 100L, 10L), (1L, 101L, 30L), (1L, 102L, 31L))
      .toDF("k", "lid", "t")
      .select(col("k"), col("lid"), timestamp_micros(col("t")).as("t"))
    val right = Seq((1L, 900L, 9L), (1L, 901L, 25L))
      .toDF("k", "rid", "t")
      .select(col("k"), col("rid"), timestamp_micros(col("t")).as("t"))
    val out = AsOfJoinNative.asOf(left, right, "k", "t", "t",
        toleranceMicros = Some(5L))
      .select("lid", "r_rid").collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(100L) === 900L) // 10 - 9 = 1 <= 5: in tolerance
    assert(out(101L) === 901L) // 30 - 25 = 5 <= 5: boundary inclusive
    assert(out(102L) === -1L)  // 31 - 25 = 6 > 5: stale -> unmatched
  }

  test("random corpora: native == composed == in-memory reference, multi-partition") {
    (1L to 5L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nKeys = 1 + rnd.nextInt(6)
      val lefts = (0 until 200).map { i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(50).toLong, i.toLong)
      }
      // distinct (key, ts) right rows so "latest" is unambiguous
      val rights = rnd.shuffle(
        (for (k <- 0 until nKeys; t <- 0 until 50 if rnd.nextBoolean())
          yield (k.toLong, t.toLong)).toList)
        .zipWithIndex.map { case ((k, t), i) => (k, t, 500L + i) }

      val left = lefts.toDF("k", "t", "lid")
        .select(col("k"), timestamp_micros(col("t")).as("t"), col("lid"))
        .repartition(5)
      val right = rights.toDF("k", "t", "rid")
        .select(col("k"), timestamp_micros(col("t")).as("t"), col("rid"))
        .repartition(3)

      val native = AsOfJoinNative.asOf(left, right, "k", "t", "t")
        .select("lid", "r_rid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      // in-memory reference: greatest right t <= left t per key
      val byKey = rights.groupBy(_._1)
      val expected = lefts.map { case (k, t, lid) =>
        lid -> byKey.get(k)
          .flatMap(vs => vs.filter(_._2 <= t).sortBy(_._2).lastOption)
          .map(_._3).getOrElse(-1L)
      }.toMap
      assert(native === expected, s"seed $seed: native != reference")

      val composed = composedAsOf(left, right, "k", "t", "t")
        .select("lid", "r_rid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(native === composed, s"seed $seed: native != composed")
    }
  }

  test("oracle-shape query matches at fixture scale (deterministic re-run)") {
    val a = graft.SparkEntry.queries("j4_asof_native")(spark, sf)
    val b = graft.SparkEntry.queries("j4_asof_native")(spark, sf)
    assert(a.count() === clicks.count())
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    // every matched view really is at-or-before its click
    assert(a.filter(col("view_ts_us") > col("click_ts_us")).count() === 0)
  }

  test("nearest (j6) arbitrates the two directional passes; backward wins ties") {
    // fixture on the operator's own composition path via SparkEntry would
    // need a testdata dir, so drive the brute-force contract on the real
    // fixture instead: every click's match is the |Δ|-minimal view either
    // side, tie -> backward, no-views user -> null direction
    val out = graft.SparkEntry.queries("j6_asof_nearest")(spark, sf).cache()
    assert(out.count() === clicks.count())
    // compare against a windowed argmin computed with a DIFFERENT plan
    val c = clicks.select(col("user_id"), col("click_id"),
      unix_micros(col("ts")).as("cus"))
    val v = views.select(col("user_id"), col("view_id"),
      unix_micros(col("ts")).as("vus"))
    val cand = c.join(v, Seq("user_id"))
      .withColumn("d", abs(col("vus") - col("cus")))
      .withColumn("fwd", when(col("vus") <= col("cus"), 0).otherwise(1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("click_id").orderBy(col("d"), col("fwd"))
    val best = cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("click_id"), col("view_id").as("exp_view"),
        col("vus").as("exp_us"),
        when(col("fwd") === 1, "forward").otherwise("backward").as("exp_dir"))
    val joined = out.join(best, Seq("click_id"), "left")
    assert(joined.filter(
      coalesce(col("view_id"), lit(-1L)) =!= coalesce(col("exp_view"), lit(-1L)) ||
      coalesce(col("view_us"), lit(-1L)) =!= coalesce(col("exp_us"), lit(-1L)) ||
      coalesce(col("direction"), lit("x")) =!= coalesce(col("exp_dir"), lit("x"))
    ).count() === 0, "j6 diverged from the brute-force nearest")
    // both directions genuinely occur in the fixture
    val dirs = out.select("direction").distinct().collect().map(_.getString(0)).toSet
    assert(dirs.contains("backward") && dirs.contains("forward"))
    out.unpersist()
  }
}
