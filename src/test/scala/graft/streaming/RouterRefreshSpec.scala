package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class VsRow(vc: String, ch: String, ar: String, is_new: String,
    uv_ct: Long, pv_ct: Long, sv_ct: Long, uj_ct: Long, dur_sum: Long, ts: Long)

class RouterRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def env(t: String, id: Long): String =
    s"""{"database":"g","tableName":"$t","before":null,"after":"{\\"id\\":\\"$id\\"}","type":"insert"}"""

  test("router picks up rules added between micro-batches (broadcast-state update)") {
    val root = tempDir("router_dyn")
    @volatile var rules = Seq(
      RouteRule("order_info", "insert", "kafka", "dwd_order_info", Seq("id"), "id"))
    val router = new DbRouter(() => rules, root)

    router.processBatch(DbRouter.decodeEnvelope(
      Seq(env("order_info", 1), env("new_table", 2)).toDF("value")), 0L)
    assert(DbRouter.readTopic(spark, root, "dwd_order_info").count() === 1)
    // new_table unrouted in batch 0
    assert(!new java.io.File(s"$root/kafka/dwd_new_table").exists())

    rules = rules :+ RouteRule("new_table", "insert", "kafka", "dwd_new_table", Seq("id"), "id")
    router.processBatch(DbRouter.decodeEnvelope(
      Seq(env("new_table", 3)).toDF("value")), 1L)
    assert(DbRouter.readTopic(spark, root, "dwd_new_table").count() === 1)
  }

  test("visitorStatsUnion merges three normalized streams per window (A1 full)") {
    implicit val sqlCtx = spark.sqlContext
    val pages = MemoryStream[VsRow]; val uv = MemoryStream[VsRow]; val uj = MemoryStream[VsRow]
    val out = StatsStreams.visitorStatsUnion(Seq(pages.toDF(), uv.toDF(), uj.toDF()))
    val q = out.writeStream.format("memory").queryName("vs_union")
      .outputMode("append").start()
    try {
      pages.addData(VsRow("v1","app","110000","1", 0,1,0,0, 700, 1000L),
                    VsRow("v1","app","110000","1", 0,1,0,0, 300, 2000L))
      uv.addData(VsRow("v1","app","110000","1", 1,0,0,0, 0, 1500L))
      uj.addData(VsRow("v1","app","110000","1", 0,0,0,1, 0, 3000L))
      q.processAllAvailable()
      pages.addData(VsRow("z","z","0","0", 0,1,0,0, 0, 90000L))
      uv.addData(VsRow("z","z","0","0", 1,0,0,0, 0, 90000L))
      uj.addData(VsRow("z","z","0","0", 0,0,0,1, 0, 90000L))
      q.processAllAvailable()
      val r = spark.table("vs_union").filter(col("vc") === "v1").head
      assert(r.getAs[Long]("pv_ct") === 2L)
      assert(r.getAs[Long]("uv_ct") === 1L)
      assert(r.getAs[Long]("uj_ct") === 1L)
      assert(r.getAs[Long]("dur_sum") === 1000L)
      assert(r.getAs[String]("stt") === "1970-01-01 00:00:00")
    } finally q.stop()
  }
}
