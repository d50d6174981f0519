package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sink surface (SURVEY §2.2), Spark-first: the K4 stats sink. Topic
  * producers (K1 fixed, K2 dynamic) are [[graft.sources.TopicBus]]'s
  * `append`/`appendDynamic`; the K5 debug print is `Dataset.show`.
  * Exactly-once lands on sink atomicity + streaming checkpoints, replacing
  * Kafka transactions.
  */
object Writers {

  /** K4 transient-column pruning (@TransientSink, bean/TransientSink.java:18,
    * honored at utils/ClickHouseUtil.java:41-47): drop bookkeeping columns
    * before the sink sees the row.
    */
  def dropTransient(df: DataFrame, transientCols: Seq[String]): DataFrame =
    df.drop(transientCols: _*)

  /** K4 — JDBC stats sink (ClickHouseUtil.getSink, utils/ClickHouseUtil.java:17-76):
    * generic writer = transient-column drop + batched JDBC insert. The
    * reflective PreparedStatement machinery collapses into the built-in JDBC
    * writer; batch size is a writer option (the reference hardcodes 5 at
    * :68-70 — far too small at scale; default here is 10k rows/batch).
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      transientCols: Seq[String] = Nil, batchSize: Int = 10000): Unit =
    dropTransient(df, transientCols).write
      .mode(SaveMode.Append)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .save()
}
