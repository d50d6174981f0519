package graft.ads

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ADS serving layer — the gmall-publisher query surface (SURVEY §2.2 K6,
  * §2.5 A7) as Spark SQL over the DWS stats tables. The Spring/MyBatis HTTP
  * wrapper is out of engine scope (SURVEY §2.1 S5); these are the queries it
  * would issue.
  */
object Publisher {

  /** Dashboard rollup shape (SugarController.java:20-41 returns
    * {status, msg, data}); here: the data series — amount per key ordered
    * descending, top N.
    */
  def topSeries(stats: DataFrame, keyCol: String, amountCol: String, n: Int): DataFrame =
    stats.groupBy(col(keyCol))
      .agg(sum(col(amountCol)).as("amount"))
      .orderBy(col("amount").desc, col(keyCol))
      .limit(n)

  /** Register DWS outputs as the ADS catalog: temp views queried via
    * `spark.sql`, the Spark analog of publisher-over-ClickHouse.
    */
  def registerStats(spark: SparkSession, tables: Map[String, DataFrame]): Unit =
    tables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
}
