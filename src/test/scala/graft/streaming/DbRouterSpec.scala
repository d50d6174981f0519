package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class DbRouterSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(table: String, tpe: String, after: String): String =
    s"""{"database":"gmall-flink","tableName":"$table","before":"{}","after":"$after","type":"$tpe"}"""
      .replace(after, after.replace("\"", "\\\""))

  private def mkEnvelopes(rows: (String, String, String)*) =
    rows.map { case (t, tp, after) =>
      s"""{"database":"g","tableName":"$t","before":null,"after":${jsonStr(after)},"type":"$tp"}"""
    }.toDF("value")

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  test("decodeEnvelope normalizes create→insert and drops deletes (S2/P3)") {
    val raw = mkEnvelopes(
      ("order_info", "create", """{"id":"1"}"""),
      ("order_info", "UPDATE", """{"id":"2"}"""),
      ("order_info", "delete", """{"id":"3"}"""))
    val dec = DbRouter.decodeEnvelope(raw)
    val types = dec.select("type").as[String].collect().sorted
    assert(types.toSeq === Seq("insert", "update"))
  }

  test("router splits facts vs dims, projects sinkColumns, upserts dims (P5/P6/K2/K3)") {
    val root = tempDir("router")
    val router = new DbRouter(RouterFixtures.referenceRules, root)

    val batch1 = DbRouter.decodeEnvelope(mkEnvelopes(
      ("order_info", "insert",
        """{"id":"1","user_id":"10","province_id":"3","total_amount":"99.5","create_time":"2024-01-01 00:00:00","extra_col":"DROP_ME"}"""),
      ("user_info", "insert", """{"id":"10","name":"alice","gender":"F","birthday":"1990-01-01"}"""),
      ("unrouted_table", "insert", """{"id":"7"}""")))
    router.processBatch(batch1, 0L)

    val fact = DbRouter.readTopic(spark, root, "dwd_order_info")
    assert(fact.count() === 1)
    assert(fact.columns.toSet ===
      Set("id", "user_id", "province_id", "total_amount", "create_time")) // extra_col projected away
    val dim1 = spark.read.parquet(s"$root/dim/dim_user_info")
    assert(dim1.filter(col("id") === "10").head.getAs[String]("name") === "alice")

    // batch 2: dim update for the same pk → last write wins; new fact appends
    val batch2 = DbRouter.decodeEnvelope(mkEnvelopes(
      ("user_info", "update", """{"id":"10","name":"alice2","gender":"F","birthday":"1990-01-01"}"""),
      ("user_info", "insert", """{"id":"11","name":"bob","gender":"M","birthday":"1991-02-02"}"""),
      ("order_info", "insert",
        """{"id":"2","user_id":"11","province_id":"4","total_amount":"10.0","create_time":"2024-01-02 00:00:00"}""")))
    router.processBatch(batch2, 1L)

    val dim2 = spark.read.parquet(s"$root/dim/dim_user_info")
    assert(dim2.count() === 2)
    assert(dim2.filter(col("id") === "10").head.getAs[String]("name") === "alice2")
    assert(DbRouter.readTopic(spark, root, "dwd_order_info").count() === 2)

    // retrying a batch (same batchId) must NOT duplicate facts — the
    // per-batch overwrite makes foreachBatch idempotent
    router.processBatch(batch2, 1L)
    assert(DbRouter.readTopic(spark, root, "dwd_order_info").count() === 2)
    assert(spark.read.parquet(s"$root/dim/dim_user_info").count() === 2)
  }

  private def tsEnvelope(t: String, tp: String, after: String, ts: Long): String =
    s"""{"database":"g","tableName":"$t","before":null,"after":${jsonStr(after)},"type":"$tp","ts":$ts}"""

  test("dim upsert resolves same-pk updates by binlog seq, not partition order") {
    val root = tempDir("router-seq")
    val router = new DbRouter(RouterFixtures.referenceRules, root)
    // The NEWER update (ts=500) goes in partition 0, the OLDER (ts=300) in
    // partition 1: a union of single-row DFs keeps each row in its own
    // partition, so monotonically_increasing_id-desc ordering (the old bug)
    // would pick the partition-1 row — the stale one.
    val newer = Seq(tsEnvelope("user_info", "update",
      """{"id":"10","name":"NEW","gender":"F","birthday":"1990-01-01"}""", 500L)).toDF("value")
    val older = Seq(tsEnvelope("user_info", "update",
      """{"id":"10","name":"OLD","gender":"F","birthday":"1990-01-01"}""", 300L)).toDF("value")
    val batch = DbRouter.decodeEnvelope(newer.union(older))
    assert(batch.rdd.getNumPartitions === 2)
    router.processBatch(batch, 0L)
    val dim = DbRouter.readDim(spark, root, "dim_user_info")
    assert(dim.count() === 1)
    assert(dim.head.getAs[String]("name") === "NEW")
  }

  test("rules sharing a fact sink or a dim history all land in one batch") {
    val root = tempDir("router-shared")
    val cols = Seq("id", "user_id")
    val router = new DbRouter(Seq(
      RouteRule("order_info", "insert", "kafka", "dwd_order_info", cols, "id"),
      RouteRule("order_info", "update", "kafka", "dwd_order_info", cols, "id"),
      RouteRule("user_info", "insert", "hbase", "dim_user_info", Seq("id", "name"), "id",
        history = true),
      RouteRule("user_info", "update", "hbase", "dim_user_info", Seq("id", "name"), "id",
        history = true)), root)
    router.processBatch(DbRouter.decodeEnvelope(mkEnvelopes(
      ("order_info", "insert", """{"id":"1","user_id":"10"}"""),
      ("order_info", "update", """{"id":"2","user_id":"11"}"""),
      ("user_info", "insert", """{"id":"10","name":"a"}"""),
      ("user_info", "update", """{"id":"10","name":"b"}"""))), 0L)
    assert(DbRouter.readTopic(spark, root, "dwd_order_info")
      .select("id").as[String].collect().sorted.toSeq === Seq("1", "2"))
    assert(RouterFixtures.dimHistory(spark, root, "dim_user_info")
      .select("name").as[String].collect().sorted.toSeq === Seq("a", "b"))
  }

  test("rules sharing a dim resolve each pk by envelope seq, not rule order") {
    val root = tempDir("router-shared-dim")
    val cols = Seq("id", "name", "gender", "birthday")
    // the update rule is listed FIRST, the update envelope is the newer one
    val router = new DbRouter(Seq(
      RouteRule("user_info", "update", "hbase", "dim_user_info", cols, "id"),
      RouteRule("user_info", "insert", "hbase", "dim_user_info", cols, "id")), root)
    val batch = Seq(
      tsEnvelope("user_info", "insert",
        """{"id":"10","name":"a","gender":"F","birthday":"1990-01-01"}""", 1L),
      tsEnvelope("user_info", "update",
        """{"id":"10","name":"b","gender":"F","birthday":"1990-01-01"}""", 2L),
      tsEnvelope("order_info", "insert", """{"id":"1"}""", 3L),
      tsEnvelope("user_info", "insert",
        """{"id":"11","name":"c","gender":"M","birthday":"1991-02-02"}""", 4L))
      .toDF("value")
    router.processBatch(DbRouter.decodeEnvelope(batch), 0L)
    val dim = DbRouter.readDim(spark, root, "dim_user_info")
      .select("id", "name").as[(String, String)].collect().toMap
    assert(dim === Map("10" -> "b", "11" -> "c"))
  }

  test("dim snapshot survives a crash between retire and promote") {
    val root = tempDir("router-crash")
    val router = new DbRouter(RouterFixtures.referenceRules, root)
    router.processBatch(DbRouter.decodeEnvelope(mkEnvelopes(
      ("user_info", "insert", """{"id":"10","name":"alice","gender":"F","birthday":"1990-01-01"}"""))), 0L)

    // simulate a crash after `live` was retired but before staging promoted:
    // the live dir is gone, only ._old remains
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$root/dim/dim_user_info")
    fs.rename(live, new org.apache.hadoop.fs.Path(s"$root/dim/dim_user_info._old"))

    // reads recover from the retired copy...
    assert(DbRouter.readDim(spark, root, "dim_user_info").count() === 1)
    // ...and the next batch merges with it instead of starting empty
    router.processBatch(DbRouter.decodeEnvelope(mkEnvelopes(
      ("user_info", "insert", """{"id":"11","name":"bob","gender":"M","birthday":"1991-02-02"}"""))), 1L)
    val dim = DbRouter.readDim(spark, root, "dim_user_info")
    assert(dim.count() === 2)
    assert(dim.filter(col("id") === "10").head.getAs[String]("name") === "alice")
  }

  test("a failed staging promote throws and preserves the retired snapshot") {
    val root = tempDir("router-promote")
    val router = new DbRouter(RouterFixtures.referenceRules, root)
    router.processBatch(DbRouter.decodeEnvelope(mkEnvelopes(
      ("user_info", "insert", """{"id":"10","name":"alice","gender":"F","birthday":"1990-01-01"}"""))), 0L)

    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val path = s"$root/dim/dim_user_info"
    // promote with a vanished staging dir: rename(staging, live) returns
    // FALSE (local FS semantics) — the old unchecked code would swallow
    // that and the trailing gc delete would destroy the ONLY good snapshot
    intercept[java.io.IOException] {
      router.promoteStaging(fs,
        new org.apache.hadoop.fs.Path(s"$path._staging.missing"), path)
    }
    // the retired copy must have survived and reads must recover from it
    assert(DbRouter.readDim(spark, root, "dim_user_info").count() === 1)
  }

  test("decodeEnvelope survives a non-numeric ts from a foreign producer") {
    // a LongType ts in the envelope schema would null the WHOLE struct in
    // PERMISSIVE mode and silently drop the record at the isNotNull filter
    val raw = Seq(
      """{"database":"g","tableName":"t","before":null,"after":"{\"id\":\"1\"}","type":"insert","ts":"2024-01-01T00:00:00Z"}""",
      """{"database":"g","tableName":"t","before":null,"after":"{\"id\":\"2\"}","type":"insert","ts":77}""",
      """{"database":"g","tableName":"t","before":null,"after":"{\"id\":\"3\"}","type":"insert"}""")
      .toDF("value")
    val dec = DbRouter.decodeEnvelope(raw)
    assert(dec.count() === 3) // nothing dropped
    val seqs = dec.select(DbRouter.SeqCol).as[Long].collect().sorted
    assert(seqs.toSeq === Seq(0L, 0L, 77L)) // garbage→0, missing→0, numeric kept
  }

  test("a corrupt dim snapshot read fails loudly instead of dropping history") {
    val root = tempDir("router-corrupt")
    val router = new DbRouter(RouterFixtures.referenceRules, root)
    // a live path that exists but isn't parquet must throw, not be treated
    // as "no snapshot" (which would silently lose all prior dim rows)
    val dimDir = new java.io.File(s"$root/dim/dim_user_info")
    dimDir.mkdirs()
    Files.write(dimDir.toPath.resolve("part-00000.parquet"), "not parquet".getBytes)
    intercept[Exception] {
      router.processBatch(DbRouter.decodeEnvelope(mkEnvelopes(
        ("user_info", "insert", """{"id":"10","name":"alice","gender":"F","birthday":"1990-01-01"}"""))), 0L)
    }
  }
}
