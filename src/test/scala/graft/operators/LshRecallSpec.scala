package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Recall quality of the MinHash/LSH near-dup detector on planted
  * near-duplicates: pairs whose true Jaccard is high must be recovered by the
  * banded signature (4 bands × 2 hashes ⇒ P[detect] = 1-(1-j²)⁴ ≈ 98% at
  * j=0.8), and unrelated pairs must not be reported above threshold.
  */
class LshRecallSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
    "pi", "rho", "sigma", "tau", "upsilon")

  test("planted near-duplicates (1-word edit in 60) are recovered above 0.8 jaccard") {
    val rnd = new Random(7)
    // 40 base docs of 60 words; each gets a near-dup twin with ONE word changed
    val docs = (0 until 40).flatMap { i =>
      val base = Seq.fill(60)(vocab(rnd.nextInt(vocab.size)))
      val twinIdx = rnd.nextInt(60)
      val twin = base.updated(twinIdx, vocab((vocab.indexOf(base(twinIdx)) + 1) % vocab.size))
      Seq((i.toLong * 2, base.mkString(" ")), (i.toLong * 2 + 1, twin.mkString(" ")))
    }
    val df = docs.map { case (id, t) => (id, t, t.replace(" ", "").length.toLong) }
      .toDF("doc_id", "text", "n_chars")

    val pairs = DedupOps.minhashLshPairs(df)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 40).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    val recalled = planted.intersect(pairs)
    // a 1-word edit changes ≤3 of ~58 shingles → jaccard ≈ 0.9; expect ≥90% recall
    assert(recalled.size * 10 >= planted.size * 9,
      s"recall ${recalled.size}/${planted.size}")

    // greedy keep-first removal (the higher id of each pair goes) removes
    // exactly one of each recovered twin pair
    val losers = DedupOps.minhashLshPairs(df)
      .filter(col("jaccard") >= 0.8).select(col("doc_b").as("doc_id"))
    val kept = df.join(losers, Seq("doc_id"), "left_anti").count()
    assert(kept === docs.size - recalled.size)
  }
}
