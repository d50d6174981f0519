package graft.streaming

import java.lang.reflect.Modifier
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** `StatsStreams` holds only declared watermark aggregations, which the
  * engine incrementalizes itself: no def folds state by hand. A stream
  * needs no second implementation of a batch operator — it runs the batch
  * operator on each micro-batch.
  */
class WindowedAggregationsOnlySpec extends SparkSpec {
  import spark.implicits._

  /** Each public def, built over a MemoryStream of the columns it reads. */
  private def builders: Map[String, () => DataFrame] = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def orders = MemoryStream[(Long, String, Long, Double, Long)].toDF()
      .toDF("province_id", "province_name", "order_id", "split_total_amount", "create_ts")
    def visitorRows = MemoryStream[(String, Long, Long)].toDF().toDF("vc", "n", "ts")
      .select(lit("vc").as("vc"), lit("ch").as("ch"), lit("ar").as("ar"),
        lit("0").as("is_new"), col("n").as("uv_ct"), col("n").as("pv_ct"),
        col("n").as("sv_ct"), col("n").as("uj_ct"), col("n").as("dur_sum"), col("ts"))
    Map(
      "visitorStats" -> (() => StatsStreams.visitorStats(
        MemoryStream[(Long, Long)].toDF().select(
          struct(lit("vc").as("vc"), lit("ch").as("ch"), lit("ar").as("ar"),
            lit("0").as("is_new")).as("common"),
          struct(col("_2").as("during_time")).as("page"), col("_1").as("ts")))),
      "visitorStatsUnion" -> (() =>
        StatsStreams.visitorStatsUnion(Seq(visitorRows, visitorRows))),
      "provinceStatsExact" -> (() => StatsStreams.provinceStatsExact(orders)),
      "keywordStats" -> (() => StatsStreams.keywordStats(
        MemoryStream[(String, Long)].toDF().toDF("full_word", "ts"))))
  }

  test("StatsStreams' public defs are exactly the pinned windowed aggregations") {
    val defs = StatsStreams.getClass.getDeclaredMethods.toSeq
      .filter(m => Modifier.isPublic(m.getModifiers) && !m.isSynthetic &&
        !m.isBridge && !m.getName.contains("$"))
      .map(_.getName).toSet
    val extra = (defs -- builders.keySet).toSeq.sorted
    val missing = (builders.keySet -- defs).toSeq.sorted
    assert(extra.isEmpty && missing.isEmpty,
      s"${extra.size} public defs beyond the windowed aggregations:\n" +
        extra.mkString("\n") + s"\nmissing: ${missing.mkString(", ")}")
  }

  test("each StatsStreams def is a streaming watermark Aggregate with no hand-written state") {
    builders.toSeq.sortBy(_._1).foreach { case (name, build) =>
      val plan = build().queryExecution.analyzed
      val nodes = plan.collect { case p => p.nodeName }.toSet
      assert(plan.isStreaming, s"$name: plan is not streaming")
      assert(nodes.contains("EventTimeWatermark"), s"$name: no watermark in\n$plan")
      assert(nodes.contains("Aggregate"), s"$name: no Aggregate in\n$plan")
      assert(!nodes.contains("FlatMapGroupsWithState"),
        s"$name: hand-written state fold in\n$plan")
    }
  }
}
