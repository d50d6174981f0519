package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Routing rules and sink readers shared by the router specs. */
object RouterFixtures {

  /** The reference's table_process rules transposed (FIXTURES §3). */
  val referenceRules: Seq[RouteRule] = Seq(
    RouteRule("order_info", "insert", "kafka", "dwd_order_info",
      Seq("id", "user_id", "province_id", "total_amount", "create_time"), "id"),
    RouteRule("order_detail", "insert", "kafka", "dwd_order_detail",
      Seq("id", "order_id", "sku_id", "order_price", "sku_num", "create_time"), "id"),
    RouteRule("payment_info", "insert", "kafka", "dwd_payment_info",
      Seq("id", "order_id", "user_id", "total_amount", "callback_time"), "id"),
    RouteRule("user_info", "insert", "hbase", "dim_user_info",
      Seq("id", "name", "gender", "birthday"), "id"),
    RouteRule("user_info", "update", "hbase", "dim_user_info",
      Seq("id", "name", "gender", "birthday"), "id"),
    RouteRule("base_province", "insert", "hbase", "dim_base_province",
      Seq("id", "name", "area_code", "iso_code"), "id"))

  /** A dim's full SCD2 version history, as the router writes it for rules
    * with `history = true`: one `dimh/<sinkTable>/batch_<id>` dir per batch.
    */
  def dimHistory(spark: SparkSession, sinkRoot: String, sinkTable: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$sinkRoot/dimh/$sinkTable")
}
