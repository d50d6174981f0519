package graft

import org.apache.spark.sql.functions._

/** The reference's SQL entry points (§3.3 — ProvinceStatsSQLApp,
  * KeywordStatsApp run DDL + sqlQuery strings): the same queries must be
  * expressible through `spark.sql` over registered views and agree with the
  * DataFrame formulations row-for-row.
  */
class SqlSurfaceSpec extends SparkSpec {

  private def register(): Unit =
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings").foreach(t =>
      Tables.table(spark, sf, t).createOrReplaceTempView(t))

  test("province stats via spark.sql ≡ DataFrame API (A3/S4)") {
    register()
    val sqlV = spark.sql(
      """SELECT date_format(date_trunc('month', o_orderdate), 'yyyy-MM-dd HH:mm:ss') AS stt,
        |       date_format(add_months(date_trunc('month', o_orderdate), 1), 'yyyy-MM-dd HH:mm:ss') AS edt,
        |       n_nationkey AS province_id, n_name AS province_name,
        |       count(DISTINCT o_orderkey) AS order_count,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS order_amount
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2, 3, 4""".stripMargin)
    val dfV = operators.StatsOps.provinceStats(spark, sf)
    assert(sqlV.exceptAll(dfV).count() === 0)
    assert(dfV.exceptAll(sqlV).count() === 0)
  }

  test("keyword stats via LATERAL VIEW explode ≡ DataFrame API (A4/X1)") {
    register()
    val sqlV = spark.sql(
      """SELECT keyword, count(*) AS ct, 'search' AS source
        |FROM documents LATERAL VIEW explode(split(text, ' ')) t AS keyword
        |WHERE length(keyword) > 0 GROUP BY keyword""".stripMargin)
    val dfV = operators.StatsOps.keywordStats(spark, sf)
    assert(sqlV.exceptAll(dfV).count() === 0)
    assert(dfV.exceptAll(sqlV).count() === 0)
  }

  test("map element access works verbatim in SQL (P7, page['item'])") {
    register()
    val n = spark.sql(
      """SELECT event_id, from_json(props, 'MAP<STRING,STRING>')['k'] AS item
        |FROM events WHERE from_json(props, 'MAP<STRING,STRING>')['k'] IS NOT NULL""".stripMargin)
      .count()
    assert(n > 0)
  }

  test("dropNearDuplicates removes exact duplicates, keeps the lowest id") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again", 41L),
      (1L, "the quick brown fox jumps over the lazy dog again", 41L), // dup of 0
      (2L, "completely different words about spark joins and shuffles here", 55L))
      .toDF("doc_id", "text", "n_chars")
    // greedy keep-first over the d3 pairs: of each pair, the higher id goes
    val losers = operators.DedupOps.minhashLshPairs(docs)
      .filter(col("jaccard") >= 0.9).select(col("doc_b").as("doc_id"))
    val kept = docs.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 2L))
  }
}
