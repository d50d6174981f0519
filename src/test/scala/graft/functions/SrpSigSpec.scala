package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SrpSigSpec extends SparkSpec {
  import spark.implicits._

  /** The composed formulation the native expression replaced — one
    * literal-plane dot product per bit, 4-dp-quantized sign test.
    */
  private def composedSig(emb: org.apache.spark.sql.Column, nPlanes: Int) = {
    val planes = graft.operators.AnnOps.hyperplanes(nPlanes)
    concat(planes.map { p =>
      when(floor(VectorFunctions.dot_f(emb, typedlit(p)) * 10000.0 + 0.5) > 0, "1")
        .otherwise("0")
    }: _*)
  }

  test("native signature is bit-identical to the composed formulation") {
    val e = graft.Tables.table(spark, sf, "embeddings")
    for (nPlanes <- Seq(8, 32)) {
      val mismatches = e
        .select(SrpSig(col("embedding"), nPlanes).as("native"),
          composedSig(col("embedding"), nPlanes).as("composed"))
        .filter(not(col("native") <=> col("composed")))
        .count()
      assert(mismatches === 0, s"nPlanes=$nPlanes")
    }
  }

  test("interpreted eval matches codegen output") {
    val rnd = new scala.util.Random(3)
    val df = Seq.fill(5)(Array.fill(64)(rnd.nextGaussian().toFloat)).toDF("embedding")
    val viaCodegen = df.select(SrpSig(col("embedding"), 32)).collect()
    val viaEval = {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try df.select(SrpSig(col("embedding"), 32)).collect()
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(viaCodegen.map(_.toString).toSeq === viaEval.map(_.toString).toSeq)
  }

  test("identical vectors get identical signatures; negation flips every decisive bit") {
    val rnd = new scala.util.Random(9)
    val v = Array.fill(64)(rnd.nextGaussian().toFloat)
    val df = Seq(v, v, v.map(x => -x)).toDF("embedding")
    val sigs = df.select(SrpSig(col("embedding"), 32)).collect().map(_.getString(0))
    assert(sigs(0) === sigs(1))
    // -v projects to -proj: a strictly positive projection becomes negative,
    // so bits set in sig(v) must be clear in sig(-v)
    sigs(0).zip(sigs(2)).foreach { case (a, b) => if (a == '1') assert(b == '0') }
  }

  test("SQL surface: srp_sig registered by GraftExtensions") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT srp_sig(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 16) AS s")
      .head.getString(0)
    assert(r.length === 16 && r.forall(c => c == '0' || c == '1'))
  }
}
