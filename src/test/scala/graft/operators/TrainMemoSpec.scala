package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Pins the build-once/serve-many contract of [[SessionMemo]] for trained
  * index artifacts (in-memory centroids and codebooks, and the
  * materialized ANN index frames): a second structurally identical consumer
  * must NOT re-pay training, a memo hit must be result-identical to a cold
  * run, and new input files must miss.
  */
class TrainMemoSpec extends SparkSpec {

  test("kmeansTrain: a second structurally identical call is served from the memo") {
    SessionMemo.clear()
    val e = Tables.table(spark, sf, "embeddings")
    val cents = AnnOps.kmeansTrain(e, 4)
    val after1 = SessionMemo.computeCount
    // fresh frame, fresh exprIds, same files + params → same canonical key
    val again = AnnOps.kmeansTrain(Tables.table(spark, sf, "embeddings"), 4)
    assert(SessionMemo.computeCount === after1,
      "structurally identical training re-ran the Lloyd loop")
    // a hit serves the artifact itself — not a re-derivation that could
    // drift by float merge order
    assert(again.zip(cents).forall { case ((c1, v1), (c2, v2)) =>
      c1 == c2 && v1.sameElements(v2) })
    // different params are different keys: each must train
    AnnOps.kmeansTrain(e, 4, maxIter = 3, tol = 1e-4, trainFrac = 1.0)
    assert(SessionMemo.computeCount === after1 + 1)
    AnnOps.kmeansTrain(e, 5)
    assert(SessionMemo.computeCount === after1 + 2)
  }

  test("n10/c5 share one trained index: second search advances no memo counter") {
    SessionMemo.clear()
    val e = Tables.table(spark, sf, "embeddings")
    val cold = AnnOps.ivfQuantizedTopK(e).collect().toSet
    val trained = SessionMemo.computeCount
    // the serving shape: same corpus, new query execution — centroids AND
    // the materialized IVF×SQ8 index frame are both served from the memo
    val warm = AnnOps.ivfQuantizedTopK(Tables.table(spark, sf, "embeddings"))
    assert(warm.collect().toSet === cold, "memo hit changed search results")
    assert(SessionMemo.computeCount === trained,
      "second n10 search re-derived the centroids or re-quantized the corpus")
    // c5 rides the same index: the capstone must not train anything either
    graft.SparkEntry.queries("c5_retrieval_serve")(e.sparkSession, sf).count()
    assert(SessionMemo.computeCount === trained,
      "c5 re-trained the quantizer or re-built the index n10 already built")
  }

  test("n11 trains its residual codebook once; results identical on the hit") {
    SessionMemo.clear()
    val e = Tables.table(spark, sf, "embeddings")
    val cold = AnnOps.ivfPqTopK(e).collect().toSet
    val trained = SessionMemo.computeCount
    val warm = AnnOps.ivfPqTopK(Tables.table(spark, sf, "embeddings"))
    assert(warm.collect().toSet === cold, "memo hit changed IVFADC results")
    assert(SessionMemo.computeCount === trained,
      "second n11 search re-ran residual-PQ training")
  }

  test("a different corpus is a different key: no cross-corpus artifact leaks") {
    SessionMemo.clear()
    val e = Tables.table(spark, sf, "embeddings")
    AnnOps.kmeansTrain(e, 4)
    val after1 = SessionMemo.computeCount
    // same schema, different (in-memory) data — LocalRelation hashes its
    // rows, so this MUST miss; a false hit would serve foreign centroids
    import spark.implicits._
    val other = (0L until 64L)
      .map(i => (i, Array.fill(64)(i.toFloat / 64f + 1f), i % 4))
      .toDF("vec_id", "embedding", "label")
    val cents = AnnOps.kmeansTrain(other, 4)
    assert(SessionMemo.computeCount === after1 + 1,
      "different corpus was served another corpus's centroids")
    assert(cents.length === 4)
  }

  test("appending a file to the training input misses the memo") {
    SessionMemo.clear()
    val dir = tempDir("memo_growth")
    val src = Tables.table(spark, sf, "embeddings")
    src.limit(64).write.mode("overwrite").parquet(dir)
    AnnOps.kmeansTrain(spark.read.parquet(dir), 4)
    val after1 = SessionMemo.computeCount
    // unchanged directory, fresh read: same files, same key
    AnnOps.kmeansTrain(spark.read.parquet(dir), 4)
    assert(SessionMemo.computeCount === after1,
      "re-reading an unchanged table re-trained")
    // grown directory: the plan is identical but the file listing is not
    src.filter(col("vec_id") >= 64).limit(64).write.mode("append").parquet(dir)
    AnnOps.kmeansTrain(spark.read.parquet(dir), 4)
    assert(SessionMemo.computeCount === after1 + 1,
      "centroids trained on the old snapshot were served for the grown table")
  }
}
