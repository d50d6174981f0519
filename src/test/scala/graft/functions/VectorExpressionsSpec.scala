package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("dot_f matches the aggregate/zip_with fold bit-for-bit") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, -0.2f), Array(0.3f, 0.7f)),
      (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b")
    val got = df.select(
      VectorFunctions.dot_f(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("fold"))
    got.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(got.head.getDouble(0) === 32.0)
  }

  test("dot_f nulls propagate; wrong types rejected at analysis") {
    val df = Seq((Some(Array(1.0f)), None: Option[Array[Float]])).toDF("a", "b")
    val r = df.select(VectorFunctions.dot_f(col("a"), col("b"))).head
    assert(r.isNullAt(0))
    val bad = Seq((1, 2)).toDF("a", "b")
    intercept[Exception] {
      bad.select(VectorFunctions.dot_f(col("a"), col("b"))).collect()
    }
  }

  test("dot_l matches the integer zip_with fold exactly; codegen'd") {
    val df = Seq(
      (Array(1L, -2L, 3L), Array(4L, 5L, 127L)),
      (Array(127L, -127L), Array(127L, 127L)),
      (Array.empty[Long], Array.empty[Long]))
      .toDF("a", "b")
    val got = df.select(
      VectorFunctions.dot_l(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("fold"))
    got.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
    assert(got.head.getLong(0) === 4L - 10L + 381L)
    // codegen participation on a parquet-backed frame (a local relation
    // constant-folds to LocalTableScan and shows no codegen stage)
    val e = graft.Tables.table(spark, sf, "embeddings")
      .select(transform(col("embedding"), x => x.cast("long")).as("q"))
    val plan = e.select(VectorFunctions.dot_l(col("q"), col("q")))
      .queryExecution.executedPlan.toString
    // the input transform's higher-order lambda splits the stage, so the
    // dot lands in a later codegen'd span — any starred Project proves it
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined, plan)
    intercept[Exception] {
      Seq((Array(1.0f), Array(1L))).toDF("a", "b")
        .select(VectorFunctions.dot_l(col("a"), col("b"))).collect()
    }
  }

  test("dot_fd matches the float×double cast fold bit-for-bit; codegen'd") {
    val df = Seq(
      (Array(1.5f, -0.25f, 3.1f), Array(0.123456, 2.0, -7.5)),
      (Array(0.1f), Array(1.0 / 3.0)),
      (Array.empty[Float], Array.empty[Double]))
      .toDF("a", "b")
    val got = df.select(
      VectorFunctions.dot_fd(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v).as("fold"))
    got.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // codegen participation pinned structurally: the expression is not a
    // CodegenFallback (its kernel call generates code) — a same-stage
    // higher-order lambda (the transform building the double side) can
    // demote the WHOLE stage, which is the lambda's cost, not this
    // expression's
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val expr = ColumnBridge.expression(
      VectorFunctions.dot_fd(col("a"), col("b")))
    assert(!expr.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
  }

  test("expression participates in whole-stage codegen") {
    val e = graft.Tables.table(spark, sf, "embeddings")
    val plan = e.select(VectorFunctions.dot_f(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in simpleString form
    assert(plan.contains("*(1) Project"), plan)
  }

  test("cosine_sim matches the composed dot/norm form bit-for-bit") {
    val e = graft.Tables.table(spark, sf, "embeddings").limit(200)
    val pairs = e.select(col("vec_id"), col("embedding").as("a"))
      .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("b")), "vec_id")
    val got = pairs.select(
      VectorFunctions.cosine_sim(col("a"), col("b")).as("native"),
      (VectorFunctions.dot_f(col("a"), col("b")) /
        (sqrt(VectorFunctions.dot_f(col("a"), col("a"))) *
         sqrt(VectorFunctions.dot_f(col("b"), col("b"))))).as("composed"))
    got.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("cosine_sim: zero-norm totality and interp/codegen agreement") {
    val df = Seq(
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f)),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f)),
      (Array(3.0f, -4.0f), Array(4.0f, 3.0f)))
      .toDF("a", "b")
    val codegen = df.select(VectorFunctions.cosine_sim(col("a"), col("b"))).collect()
    assert(codegen(0).getDouble(0) === 0.0)
    assert(math.abs(codegen(1).getDouble(0) - 1.0) < 1e-12)
    val interp = try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      df.select(VectorFunctions.cosine_sim(col("a"), col("b"))).collect()
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    codegen.zip(interp).foreach { case (c, i) =>
      assert(java.lang.Double.doubleToLongBits(c.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(i.getDouble(0)))
    }
  }

  test("interpreted and codegen paths agree for all four, NULL rows included") {
    val rows = Seq[(Int, Option[Array[Float]], Option[Array[Float]], Option[Array[Double]],
        Option[Array[Long]], Option[Array[Long]])](
      (0, Some(Array(1.0f, 2.0f, 3.0f)), Some(Array(4.0f, 5.0f, 6.0f)),
        Some(Array(0.123456, 2.0, -7.5)), Some(Array(1L, -2L, 3L)), Some(Array(4L, 5L, 127L))),
      (1, Some(Array(0.1f, -0.2f)), Some(Array(0.3f, 0.7f)), Some(Array(1.0 / 3.0)),
        Some(Array(127L, -127L)), Some(Array(127L, 127L))),
      (2, Some(Array(0.0f, 0.0f)), Some(Array(1.0f, 2.0f)), Some(Array.empty[Double]),
        Some(Array.empty[Long]), Some(Array(1L))),
      (3, None, Some(Array(1.0f)), Some(Array(1.0)), None, Some(Array(1L))),
      (4, Some(Array(1.0f)), None, None, Some(Array(2L)), None))
    val (interp, codegen, plan) = interpretedAndCodegen(
      rows.toDF("id", "a", "b", "d", "l", "m").repartition(1).select(col("id"),
        VectorFunctions.dot_f(col("a"), col("b")),
        VectorFunctions.cosine_sim(col("a"), col("b")),
        VectorFunctions.dot_fd(col("a"), col("d")),
        VectorFunctions.dot_l(col("l"), col("m"))))
    // Row equality compares boxed doubles bit for bit
    assert(interp.sortBy(_.getInt(0)) === codegen.sortBy(_.getInt(0)))
    val byId = codegen.map(r => r.getInt(0) -> r).toMap
    assert(byId(2).getDouble(2) === 0.0) // zero norm
    assert((1 to 4).forall(byId(3).isNullAt))
    assert((1 to 4).forall(byId(4).isNullAt))
    assert((1 to 4).forall(i => !byId(0).isNullAt(i)))
    assert("\\*\\(\\d+\\) Project \\[id#\\d+, static_invoke".r.findFirstIn(plan).isDefined, plan)
  }

  test("cosine_sim registered on the SQL surface") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql("SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS s").head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
  }

  test("type check accepts float arrays, rejects others") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val farr = Literal.create(Seq(1.0f), ArrayType(FloatType))
    assert(DotProductF(farr, farr).checkInputDataTypes().isSuccess)
    val iarr = Literal.create(Seq(1), ArrayType(IntegerType))
    assert(!DotProductF(farr, iarr).checkInputDataTypes().isSuccess)
    assert(DotProductF(farr, farr).prettyName === "dot_product_f")
  }
}
