package graft.operators

import graft.SparkSpec
import graft.plans.AsOfJoinNative
import org.apache.spark.sql.functions._

class TemporalJoinSpec extends SparkSpec {
  import spark.implicits._

  test("asOf with matching key columns resolves versions and preserves facts") {
    val dimHistory = Seq(
      (10L, "bronze", 0L), (10L, "gold", 100L), (20L, "silver", 50L))
      .toDF("user_id", "tier", "valid_from")
    val facts = Seq(
      (1L, 10L, 50L), (2L, 10L, 100L), (3L, 10L, 500L),
      (4L, 20L, 10L), (5L, 99L, 10L))
      .toDF("fact_id", "user_id", "ts")

    val out = AsOfJoinNative.asOf(facts, dimHistory, "user_id", "ts", "valid_from")
    assert(out.count() === 5) // every fact survives exactly once
    val tiers = out.collect().map(r =>
      r.getAs[Long]("fact_id") -> Option(r.getAs[String]("r_tier"))).toMap
    assert(tiers(1L) === Some("bronze"))
    assert(tiers(2L) === Some("gold"))
    assert(tiers(3L) === Some("gold"))
    assert(tiers(4L) === None)
    assert(tiers(5L) === None)
  }

  test("asOf keeps duplicate left rows and non-groupable (map) columns") {
    val dimHistory = Seq((10L, "bronze", 0L)).toDF("user_id", "tier", "valid_from")
    // two byte-identical facts plus a MapType column — a groupBy over all
    // left columns would collapse the twins and fail analysis on the map
    val facts = Seq((10L, 50L, Map("k" -> "v")), (10L, 50L, Map("k" -> "v")))
      .toDF("user_id", "ts", "attrs")
    val out = AsOfJoinNative.asOf(facts, dimHistory, "user_id", "ts", "valid_from")
    assert(out.count() === 2)
    val rows = out.collect()
    assert(rows.forall(_.getAs[String]("r_tier") == "bronze"))
    assert(rows.forall(_.getAs[Map[String, String]]("attrs") == Map("k" -> "v")))
  }

  test("asOf is recompute-safe: no nondeterministic expressions, stable under repartition") {
    // a surrogate row id (monotonically_increasing_id) would be the
    // SPARK-23207 recompute hazard: the as-of plan must carry no
    // nondeterministic expression anywhere
    val dimHistory = (0L until 50L).map(v => (v % 5, s"t$v", v * 10))
      .toDF("user_id", "tier", "valid_from")
    val facts = (0L until 200L).map(i => (i, i % 7, i * 3)).toDF("fact_id", "user_id", "ts")
    val out = AsOfJoinNative.asOf(facts, dimHistory, "user_id", "ts", "valid_from")
    val nonDet = out.queryExecution.optimizedPlan
      .collect { case p => p.expressions.filterNot(_.deterministic) }.flatten
    assert(nonDet.isEmpty, s"nondeterministic expressions in asOf plan: $nonDet")

    // partitioning must not change the answer (recomputed/refetched maps
    // land rows in different partitions — the result must be invariant)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("fact_id"), Option(r.getAs[String]("r_tier")))
    val base = out.collect().map(key).sorted
    val reparted = AsOfJoinNative.asOf(
      facts.repartition(7), dimHistory.repartition(3),
      "user_id", "ts", "valid_from").collect().map(key).sorted
    assert(base.toSeq === reparted.toSeq)
    assert(base.length === 200)
  }

  test("router dim history + asOf restores lookup-at-event-time semantics") {
    import graft.streaming.{DbRouter, RouteRule, RouterFixtures}
    val root = tempDir("dimh")
    val rules = Seq(RouteRule("user_info", "insert", "hbase", "dim_user_info",
      Seq("id", "tier"), "id", history = true))
    val router = new DbRouter(rules, root)
    def env(id: Long, tier: String) =
      s"""{"database":"g","tableName":"user_info","before":null,"after":"{\\"id\\":\\"$id\\",\\"tier\\":\\"$tier\\"}","type":"insert"}"""
    router.processBatch(DbRouter.decodeEnvelope(Seq(env(10, "bronze")).toDF("value")), 0L)
    router.processBatch(DbRouter.decodeEnvelope(Seq(env(10, "gold")).toDF("value")), 5L)

    val history = RouterFixtures.dimHistory(spark, root, "dim_user_info")
      .select(col("id").cast("long").as("user_id"), col("tier"), col("valid_from"))
    assert(history.count() === 2)

    val facts = Seq((1L, 10L, 2L), (2L, 10L, 7L)).toDF("fact_id", "user_id", "batch_ts")
    val resolved = AsOfJoinNative.asOf(facts, history, "user_id", "batch_ts", "valid_from")
      .collect().map(r => r.getAs[Long]("fact_id") -> r.getAs[String]("r_tier")).toMap
    assert(resolved === Map(1L -> "bronze", 2L -> "gold"))
  }
}
