package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class WindowVariantsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming IVF assignment: vectors get their nearest centroid cell, map-side") {
    implicit val sqlCtx = spark.sqlContext
    val cents = Array(
      (0, Seq.tabulate(3)(i => if (i == 0) 1.0 else 0.0)),
      (1, Seq.tabulate(3)(i => if (i == 1) 1.0 else 0.0)))
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.operators.AnnOps.assignCells(
        input.toDF().toDF("vec_id", "embedding"), cents, 1)
      .select("vec_id", "cell")
      .writeStream.format("memory").queryName("ivf_assign").outputMode("append").start()
    try {
      input.addData((1L, Array(0.9f, 0.1f, 0.0f)), (2L, Array(0.1f, 0.9f, 0.0f)))
      q.processAllAvailable()
      input.addData((3L, Array(0.6f, 0.5f, 0.0f))) // closer to centroid 0
      q.processAllAvailable()
      val got = spark.table("ivf_assign").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(got === Map(1L -> 0, 2L -> 1, 3L -> 0))
    } finally q.stop()
  }

  test("streaming embedding dedup collapses same-signature vectors, keeps distinct ones") {
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val (a, b) = (vec(), vec())
    // vector 3 repeats vector 1 in a later arrival: same SRP signature,
    // and d6's greedy keep-first drops the later id
    val rows = Seq((1L, a, 1000L), (2L, b, 2000L), (3L, a, 3000L))
      .toDF("vec_id", "embedding", "ts").withColumn("label", lit(0L))
    val dropped = graft.operators.AnnOps.embeddingNearDups(rows)
      .filter(col("is_dup") && col("vec_id") > col("nn_id"))
      .select("vec_id").as[Long].collect().toSet
    assert(Set(1L, 2L, 3L) -- dropped === Set(1L, 2L))
    val sig = rows.select(graft.operators.AnnOps.lshSignature(col("embedding")))
      .as[String].collect()
    assert(sig(0) === sig(2))
    assert(sig(0) !== sig(1))
  }

  test("streaming decontamination flags overlap against a static bench, stateless") {
    // the bench frame is built once, outside the batch function
    val bench = Seq((100L, "held out benchmark prompt text here")).toDF("doc_id", "text")
    val rows = liveRun(Seq(
        (1L, "contains the held out benchmark prompt inside"), // shares shingles
        (2L, "completely unrelated clean document text"),
        (3L, "too short")), // < 3 words of overlap structure, empty shingles
        "doc_id", "text")(graft.operators.CurationOps.decontaminate(_, bench))
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows(1L)._1 >= 1 && !rows(1L)._2, "overlapping doc must be flagged")
    assert(rows(2L) === ((0L, true)))
    assert(rows(3L) === ((0L, true)))
  }

  test("stateless text/curation operators run unchanged on streams, batch-identical") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{CurationOps, TextOps}
    val rows = (0L to 49L).map(i => (i, s"alpha beta gamma delta epsilon word$i text", 40L))
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      ("pii", TextOps.piiRedact _),
      ("norm", TextOps.normalizeText _),
      ("rep", TextOps.repetitionStats _),
      ("chunk", CurationOps.chunkDocuments(_: org.apache.spark.sql.DataFrame)))
    for ((name, op) <- ops) {
      val input = MemoryStream[(Long, String, Long)]
      val q = op(input.toDF().toDF("doc_id", "text", "n_chars"))
        .writeStream.format("memory").queryName(s"op_$name").outputMode("append").start()
      try {
        input.addData(rows: _*)
        q.processAllAvailable()
        val streamed = spark.table(s"op_$name").collect().map(_.toString).sorted.toSeq
        val batch = op(rows.toDF("doc_id", "text", "n_chars"))
          .collect().map(_.toString).sorted.toSeq
        assert(streamed === batch, s"operator $name diverged between stream and batch")
        assert(streamed.nonEmpty)
      } finally q.stop()
    }
  }

  test("stratified hash sampling runs unchanged on a stream (pure predicate)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    // the batch operator applied verbatim to a streaming frame: broadcast
    // rate join + per-row predicate are stateless, so no watermark needed
    val out = graft.operators.CurationOps.hashSample(
      input.toDF().toDF("doc_id", "source", "lang"))
    val q = out.writeStream.format("memory").queryName("sample_stream")
      .outputMode("append").start()
    try {
      input.addData((0L to 99L).map(i => (i, "s", "en")): _*)
      q.processAllAvailable()
      val streamed = spark.table("sample_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val batch = graft.operators.CurationOps.hashSample(
        (0L to 99L).map(i => (i, "s", "en")).toDF("doc_id", "source", "lang"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.size < 100) // en rate = 50%
    } finally q.stop()
  }

  test("streaming exact dedup keeps the first occurrence per fingerprint") {
    // duplicate content in a later arrival (higher id): d1 keeps the min id
    val ids = graft.operators.DedupOps.dedupExact(
        Seq((1L, "same text", 1000L), (2L, "other text", 2000L),
          (3L, "same text", 3000L)).toDF("doc_id", "text", "ts"))
      .select("keeper_id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L))
  }

}
