package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class PqEncodeSpec extends SparkSpec {
  import spark.implicits._

  private val M = 2
  private val Dims = 3
  private val K = 4

  // deterministic small codebook: centroid (s,j) = [j - s*0.5, j*0.25, -j]
  private def cbMap: Map[(Int, Int), (Array[Double], Double)] =
    (for (s <- 0 until M; j <- 0 until K) yield {
      val c = Array(j - s * 0.5, j * 0.25, -j.toDouble)
      ((s, j), (c, c.foldLeft(0.0)((a, x) => a + x * x)))
    }).toMap

  /** The composed form PqEncodeExpr replaces: per subspace an array_min
    * over (floor(((sx − 2·dot) + ‖c‖²)·1e4 + 0.5)/1e4, j) structs built
    * from interpreted aggregate/zip_with folds over literal entries.
    */
  private def composed(cb: Map[(Int, Int), (Array[Double], Double)]): Column = {
    val codes = (0 until M).map { s =>
      val xs = slice(col("res"), s * Dims + 1, Dims)
      val sx = aggregate(xs, lit(0.0), (acc, x) => acc + x * x)
      val entries = (0 until K).map { j =>
        val (c, n2) = cb((s, j)); (j, c.toSeq, n2)
      }
      array_min(transform(typedlit(entries), e =>
        struct(
          (floor((sx - lit(2.0) * aggregate(zip_with(xs, e.getField("_2"),
            (x, y) => x * y), lit(0.0), (a, b) => a + b) +
            e.getField("_3")) * 10000.0 + 0.5) / 10000.0).as("dq"),
          e.getField("_1").as("j")))).getField("j")
    }
    array(codes: _*)
  }

  private val vectors = Seq(
    Array(0.1, 0.2, -0.3, 2.9, 0.6, -2.1),
    Array(3.0, 0.75, -3.0, 0.0, 0.0, 0.0),
    Array(-1.0, 7.5, 0.01, 1.0, 0.125, -0.875),
    Array(2.49999, 0.5, -2.0, 0.5001, 0.0, -1.0))

  test("pq_encode matches the composed array_min-over-scored-structs form") {
    val df = vectors.toDF("res")
    val got = df.select(
      PqFunctions.pq_encode(col("res"), cbMap, M, Dims, K).as("native"),
      composed(cbMap).as("fold"))
    got.collect().foreach { r =>
      assert(r.getSeq[Int](0) === r.getSeq[Int](1))
    }
  }

  test("quantized-distance ties go to the LOWER code id") {
    // duplicate entry: codes 1 and 2 identical → equal dq, array_min picks
    // the lower j; the native loop's strict < must agree
    val cb = cbMap + (((0, 2), cbMap((0, 1)))) + (((1, 2), cbMap((1, 1))))
    val df = vectors.toDF("res")
    val got = df.select(
      PqFunctions.pq_encode(col("res"), cb, M, Dims, K).as("native"),
      composed(cb).as("fold"))
    got.collect().foreach { r =>
      assert(r.getSeq[Int](0) === r.getSeq[Int](1))
      assert(!r.getSeq[Int](0).contains(2),
        s"code 2 chosen over its identical lower twin: ${r.getSeq[Int](0)}")
    }
  }

  test("interp/codegen agreement and codegen participation") {
    val df = vectors.toDF("res")
    val q = df.select(PqFunctions.pq_encode(col("res"), cbMap, M, Dims, K))
    val codegen = q.collect()
    val interp = try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      q.collect()
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    codegen.zip(interp).foreach { case (c, i) =>
      assert(c.getSeq[Int](0) === i.getSeq[Int](0))
    }
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val expr = ColumnBridge.expression(
      PqFunctions.pq_encode(col("res"), cbMap, M, Dims, K))
    assert(!expr.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
  }

  test("interpreted and codegen encode agree on DOUBLE and FLOAT input, NULL row included") {
    val rows = vectors.zipWithIndex.map { case (v, i) =>
      (i, Option(v), Option(v.map(_.toFloat)))
    } :+ ((vectors.size, None, None))
    val (interp, codegen, plan) = interpretedAndCodegen(
      rows.toDF("id", "res", "resf").repartition(1).select(col("id"),
        PqFunctions.pq_encode(col("res"), cbMap, M, Dims, K),
        PqFunctions.pq_encode(col("resf"), cbMap, M, Dims, K)))
    assert(interp.sortBy(_.getInt(0)) === codegen.sortBy(_.getInt(0)))
    val byId = codegen.map(r => r.getInt(0) -> r).toMap
    assert(byId(vectors.size).isNullAt(1) && byId(vectors.size).isNullAt(2))
    vectors.indices.foreach { i =>
      assert(byId(i).getSeq[Int](1).length === M)
      assert(byId(i).getSeq[Int](1) === byId(i).getSeq[Int](2))
    }
    assert("\\*\\(\\d+\\) Project \\[id#\\d+, invoke".r.findFirstIn(plan).isDefined, plan)
  }

  test("float input matches encoding the double-cast array (the n6 face)") {
    val df = vectors.map(_.map(_.toFloat)).toDF("resf")
      .withColumn("res", transform(col("resf"), x => x.cast("double")))
    val got = df.select(
      PqFunctions.pq_encode(col("resf"), cbMap, M, Dims, K).as("f"),
      PqFunctions.pq_encode(col("res"), cbMap, M, Dims, K).as("d"),
      composed(cbMap).as("fold"))
    got.collect().foreach { r =>
      assert(r.getSeq[Int](0) === r.getSeq[Int](1))
      assert(r.getSeq[Int](0) === r.getSeq[Int](2))
    }
  }

  test("type check: ARRAY<DOUBLE|FLOAT> required; codebook shape guarded") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val cb = new PqCodebook(M, Dims, K,
      new Array[Double](M * K * Dims), new Array[Double](M * K))
    val darr = Literal.create(Seq(1.0), ArrayType(DoubleType))
    assert(PqEncodeExpr(darr, cb).checkInputDataTypes().isSuccess)
    val farr = Literal.create(Seq(1.0f), ArrayType(FloatType))
    assert(PqEncodeExpr(farr, cb).checkInputDataTypes().isSuccess)
    val iarr = Literal.create(Seq(1), ArrayType(IntegerType))
    assert(!PqEncodeExpr(iarr, cb).checkInputDataTypes().isSuccess)
    intercept[IllegalArgumentException] {
      new PqCodebook(M, Dims, K, new Array[Double](3), new Array[Double](M * K))
    }
  }
}
