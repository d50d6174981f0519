package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class IntersectCountSpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g(Gen.Parameters.default, Seed(seed)).get

  test("matches size(array_intersect) on hand cases incl. dups and nulls") {
    val rows = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),               // plain overlap
      (Seq("a", "a", "b"), Seq("a", "b", "b")),               // dups: distinct count
      (Seq.empty[String], Seq("a")),                          // empty side
      (Seq("a"), Seq.empty[String]),                          // other empty side
      (Seq("x", "y"), Seq("z")),                              // disjoint
      (Seq("a", null, "b"), Seq(null, "b", null)),            // null in both → +1
      (Seq("a", null), Seq("a")),                             // null one side only
      (Seq("长", "短"), Seq("短")))                            // non-ascii
      .toDF("a", "b")
    val got = rows.select(
      IntersectCount(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("spark"))
    got.collect().foreach(r => assert(r.getLong(0) === r.getLong(1), r))
  }

  test("property: agrees with size(array_intersect) on random arrays, both eval paths") {
    val elem = Gen.oneOf(Gen.oneOf("a", "b", "c", "d", "e"), Gen.alphaStr.map(_.take(6)))
    val arr = Gen.listOfN(12, elem).map(_.toSeq)
    val pairsGen = Gen.listOfN(30, Gen.zip(arr, arr))
    // Exercise generated AND interpreted code paths: both call compute(), but
    // StaticInvoke's null short-circuit is generated separately.
    Seq("true", "false").foreach { codegen =>
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        (1L to 5L).foreach { s =>
          val pairs = sample(pairsGen, s)
          val got = pairs.toDF("a", "b").select(
            IntersectCount(col("a"), col("b")).as("native"),
            size(array_intersect(col("a"), col("b"))).cast("long").as("spark"))
          got.collect().foreach(r =>
            assert(r.getLong(0) === r.getLong(1), s"seed $s codegen=$codegen"))
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("null input arrays propagate null") {
    val df = Seq((Some(Seq("a")), None: Option[Seq[String]])).toDF("a", "b")
    assert(df.select(IntersectCount(col("a"), col("b"))).head.isNullAt(0))
  }

  test("wrong input types rejected at analysis") {
    val bad = Seq((1, 2)).toDF("a", "b")
    intercept[Exception] {
      bad.select(IntersectCount(col("a"), col("b"))).collect()
    }
  }

  test("expression participates in whole-stage codegen") {
    val d = graft.Tables.table(spark, sf, "documents").limit(50)
      .withColumn("w", split(col("text"), " "))
      .withColumn("sh", when(size(col("w")) >= 3, KGrams(col("w"), 3))
        .otherwise(array().cast("array<string>")))
    val plan = d.select(IntersectCount(col("sh"), col("sh")))
      .queryExecution.executedPlan.toString
    // the Project evaluating intersect_count (its kernel call, once the
    // optimizer has replaced the expression) must sit inside a *(N) codegen span
    assert("""\*\(\d+\) Project \[static_invoke\(graft\.functions\.IntersectCount\.compute\("""
      .r.findFirstIn(plan).isDefined, plan)
  }
}
