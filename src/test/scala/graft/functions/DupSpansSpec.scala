package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class DupSpansSpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g(Gen.Parameters.default, Seed(seed)).get

  private def unpack(l: Long): (Long, Long) = (l >> 32, l & 0xffffffffL)

  /** `dup_spans(grams, ref, k)` as a Column. */
  private def dupSpans(grams: Column, ref: Column, k: Int): Column =
    ColumnBridge.column(DupSpansExpr(
      ColumnBridge.expression(grams), ColumnBridge.expression(ref), k))

  /** Positional k-gram array of a text column, empty for sub-k-word docs. */
  private def kgramArray(text: Column, k: Int): Column = {
    val w = split(text, " ")
    when(size(w) >= k, KGrams(w, k)).otherwise(array().cast("array<string>"))
  }

  /** Independent reference model: seed positions whose gram ∈ ref, covered
    * ranges [i, i+k−1], islands merged on overlap-or-touch.
    */
  private def model(grams: Seq[String], ref: Set[String], k: Int): Seq[(Long, Long)] = {
    val seeds = grams.zipWithIndex.collect {
      case (g, i) if g != null && ref(g) => i.toLong
    }
    seeds.foldLeft(List.empty[(Long, Long)]) { case (acc, s) =>
      val e = s + k - 1
      acc match {
        case (cs, ce) :: tail if s <= ce + 1 => (cs, e) :: tail
        case _ => (s, e) :: acc
      }
    }.reverse
  }

  test("hand cases: seeds, merging, gaps, null grams, empty/null-only ref") {
    val rows = Seq(
      // one seed at 1 with k=3 → span [1,3]
      (Seq("aa", "XX", "bb", "cc"), Seq("XX"), Seq((1L, 3L))),
      // seeds 0 and 2 overlap (2 <= 0+3) → one span [0,4]
      (Seq("XX", "aa", "YY", "bb", "cc"), Seq("XX", "YY"), Seq((0L, 4L))),
      // seeds 0 and 5 with k=3: ranges [0,2] and [5,7] gap → two spans
      (Seq("XX", "a", "b", "c", "d", "YY"), Seq("XX", "YY"), Seq((0L, 2L), (5L, 7L))),
      // touching: seed 0 covers [0,2], seed 3 covers [3,5] → merge [0,5]
      (Seq("XX", "a", "b", "YY"), Seq("XX", "YY"), Seq((0L, 5L))),
      // no seeds
      (Seq("a", "b"), Seq("ZZ"), Seq.empty[(Long, Long)]),
      // null gram never matches
      (Seq(null, "XX"), Seq("XX"), Seq((1L, 3L))))
      .map { case (g, r, want) => (g, r, want.map { case (s, e) => (s << 32) | e }) }
      .toDF("grams", "ref", "want")
    val got = rows.select(dupSpans(col("grams"), col("ref"), 3).as("got"), col("want"))
    got.collect().foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), r)
    }
    // empty ref and null-only ref → no spans
    val edge = Seq((Seq("a"), Seq.empty[String]), (Seq("a"), Seq(null: String)))
      .toDF("grams", "ref")
    edge.select(dupSpans(col("grams"), col("ref"), 3)).collect()
      .foreach(r => assert(r.getSeq[Long](0).isEmpty, r))
  }

  test("property: agrees with the independent model on random inputs, both eval paths") {
    val gram = Gen.oneOf("g0", "g1", "g2", "g3", "g4", "g5", "g6", "g7")
    val gramsGen = Gen.chooseNum(0, 20).flatMap(Gen.listOfN(_, gram))
    val refGen = Gen.someOf(Seq("g0", "g1", "g2", "g3")).map(_.toList)
    val caseGen = Gen.listOfN(25, Gen.zip(gramsGen, refGen, Gen.chooseNum(1, 5)))
    Seq("true", "false").foreach { codegen =>
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        (1L to 4L).foreach { s =>
          val cases = sample(caseGen, s)
          cases.zipWithIndex.foreach { case ((grams, ref, k), idx) =>
            val got = Seq((grams, ref)).toDF("grams", "ref")
              .select(dupSpans(col("grams"), col("ref"), k))
              .head.getSeq[Long](0).map(unpack)
            assert(got === model(grams, ref.toSet, k),
              s"codegen=$codegen seed=$s case=$idx grams=$grams ref=$ref k=$k")
          }
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("per-doc spans equal the batch d13 operator when ref = duplicatedGrams") {
    import graft.operators.DedupOps
    val docs = Tables.docsFixture(spark)
    val k = 4
    val ref = DedupOps.duplicatedGrams(docs, k)
    val viaExpr = docs
      .withColumn("grams", kgramArray(col("text"), k))
      .crossJoin(broadcast(ref.agg(collect_set("gram").as("ref_set"))))
      .select(col("doc_id"),
        explode(dupSpans(col("grams"), col("ref_set"), k)).as("p"))
      .select(col("doc_id"), shiftright(col("p"), 32).as("span_start"),
        col("p").bitwiseAND(lit(0xffffffffL)).as("span_end"))
    val viaBatch = DedupOps.exactSubstringSpans(docs, k)
      .select("doc_id", "span_start", "span_end")
    assert(viaExpr.exceptAll(viaBatch).count() === 0)
    assert(viaBatch.exceptAll(viaExpr).count() === 0)
  }

  test("rejects non-string-array inputs and k < 1") {
    val df = Seq((Seq(1L, 2L), Seq("a"))).toDF("nums", "strs")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(dupSpans(col("nums"), col("strs"), 3)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(dupSpans(col("strs"), col("strs"), 0)).collect()
    }
  }

  private object Tables {
    /** Small corpus with cross-doc and within-doc duplicated runs. */
    def docsFixture(spark: org.apache.spark.sql.SparkSession) = {
      import spark.implicits._
      Seq(
        (0L, "alpha bravo charlie all rights reserved by the owner delta"),
        (1L, "foxtrot golf all rights reserved by the owner hotel india"),
        (2L, "red green blue white red green blue white"),
        (3L, "one lonely sentence with nothing repeated anywhere at all"))
        .toDF("doc_id", "text")
    }
  }
}
