package graft

class GraftExtensionsSpec extends SparkSpec {

  test("dot_product_f callable from SQL after registration (extension surface)") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT dot_product_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head.getDouble(0)
    assert(r === 11.0)
  }

  test("dot_product_l / dot_product_fd callable from SQL after registration") {
    GraftExtensions.register(spark)
    assert(spark.sql(
      "SELECT dot_product_l(array(2L, 3L), array(5L, 7L)) AS d")
      .head.getLong(0) === 31L)
    val fd = spark.sql(
      "SELECT dot_product_fd(array(CAST(1.5 AS FLOAT)), array(CAST(2.0 AS DOUBLE))) AS d")
      .head.getDouble(0)
    assert(fd === 3.0)
  }

  test("minhash_sig and hll aggregators callable from SQL after registration") {
    GraftExtensions.register(spark)
    // native expression: same first family as md5("0:" ++ s) sliced to 8 hex
    val sig = spark.sql("SELECT minhash_sig(array('a b c', 'b c d')) AS s")
      .head.getSeq[String](0)
    assert(sig.length === 8)
    assert(sig.forall(_.matches("[0-9a-f]{8}")))

    spark.range(1000).selectExpr("id % 500 AS v")
      .createOrReplaceTempView("ids")
    val exact = spark.sql("SELECT exact_count_distinct(v) FROM ids").head.getLong(0)
    assert(exact === 500L)
    // bounded-state distinct counts are Spark's own HLL sketches
    val approx = spark.sql("SELECT hll_sketch_estimate(hll_sketch_agg(v, 12)) FROM ids")
      .head.getLong(0)
    assert(math.abs(approx - 500L) <= 25L)
    val rolled = spark.sql(
      "SELECT hll_sketch_estimate(hll_union_agg(s)) FROM " +
        "(SELECT v % 4 AS g, hll_sketch_agg(v, 12) AS s FROM ids GROUP BY 1)")
      .head.getLong(0)
    assert(math.abs(rolled - 500L) <= 25L)
  }

  test("winnow_mins callable from SQL; matches the Column-API face (D9 surface)") {
    GraftExtensions.register(spark)
    val words = (1 to 12).map(i => s"w$i")
    spark.sql(s"SELECT array(${words.map("'" + _ + "'").mkString(",")}) AS ws")
      .createOrReplaceTempView("ge_winnow")
    val sqlFps = spark.sql("SELECT winnow_mins(ws, 4) AS f FROM ge_winnow")
      .head.getSeq[String](0)
    val colFps = spark.table("ge_winnow")
      .select(graft.functions.WinnowMins(org.apache.spark.sql.functions.col("ws"), 4).as("f"))
      .head.getSeq[String](0)
    assert(sqlFps === colFps)
    assert(sqlFps.nonEmpty)
    spark.catalog.dropTempView("ge_winnow")
  }

  test("intersect_count and dup_spans callable from SQL; match the Column-API faces") {
    GraftExtensions.register(spark)
    spark.sql(
      "SELECT array('a','b','c') AS a, array('b','c','d') AS b, array('g1','g2') AS ref")
      .createOrReplaceTempView("ge_native")
    assert(spark.sql("SELECT intersect_count(a, b) FROM ge_native").head.getLong(0) === 2L)
    val sqlSpans = spark.sql("SELECT dup_spans(array('g1','x','g2'), ref, 3) FROM ge_native")
      .head.getSeq[Long](0)
    val colSpans = spark.table("ge_native")
      .select {
        import org.apache.spark.sql.functions.{array, col, lit}
        import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
        column(graft.functions.DupSpansExpr(
          expression(array(lit("g1"), lit("x"), lit("g2"))), expression(col("ref")), 3))
      }
      .head.getSeq[Long](0)
    assert(sqlSpans === colSpans)
    // seeds 0 and 2 with k=3 merge: one span [0,4] packed
    assert(sqlSpans === Seq((0L << 32) | 4L))
    // k must be a foldable integer literal, same contract as the others
    val nf = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT dup_spans(a, ref, intersect_count(a, b)) FROM ge_native"))
    assert(nf.getErrorClass === "NON_FOLDABLE_ARGUMENT", nf.getMessage)
    spark.catalog.dropTempView("ge_native")
  }

  test("simhash_bits/srp_sig raise targeted errors for bad literal parameters") {
    GraftExtensions.register(spark)
    spark.range(3).selectExpr("id", "array('a','b') AS words",
      "array(CAST(1.0 AS FLOAT)) AS emb").createOrReplaceTempView("ge_bad_args")
    // non-foldable second arg: must say "foldable", not a misleading
    // WRONG_NUM_ARGS(actual=2, expected=2)
    val nf = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT simhash_bits(words, CAST(id AS INT)) FROM ge_bad_args"))
    assert(nf.getErrorClass === "NON_FOLDABLE_ARGUMENT", nf.getMessage)
    // foldable but non-integral literal: analysis error, not ClassCastException
    val ni = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT srp_sig(emb, 'sixteen') FROM ge_bad_args"))
    assert(ni.getErrorClass === "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", ni.getMessage)
    // integral literals that do not fit INT, and fractional ones, are
    // rejected too: neither wraps nor truncates to a silent 16
    Seq("SELECT srp_sig(emb, 4294967312L) FROM ge_bad_args",
      "SELECT simhash_bits(words, 16.9D) FROM ge_bad_args").foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q))
      assert(e.getErrorClass === "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", q + ": " + e.getMessage)
    }
    spark.catalog.dropTempView("ge_bad_args")
  }

  test("ads catalog registration exposes stats tables to spark.sql (K6)") {
    import spark.implicits._
    val stats = Seq(("2024-01-01 00:00:00", 10.0), ("2024-01-01 10:00:00", 5.0))
      .toDF("stt", "order_amount")
    ads.Publisher.registerStats(spark, Map("product_stats" -> stats))
    val gmv = spark.sql(
      "SELECT sum(order_amount) FROM product_stats WHERE date_format(to_timestamp(stt), 'yyyyMMdd') = '20240101'")
      .head.getDouble(0)
    assert(gmv === 15.0)
  }
}
