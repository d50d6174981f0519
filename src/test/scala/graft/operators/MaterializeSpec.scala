package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.storage.StorageLevel

/** Block ownership: a [[Materialize.scope]] releases what its body
  * materialized, a [[SessionMemo]] entry keeps only the blocks its value
  * reads, and nothing else outlives its owner. Every check diffs
  * `getPersistentRDDs` before and after, so blocks other suites left in the
  * shared session cannot interfere.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def level(df: org.apache.spark.sql.DataFrame) =
    Materialize.rdds(df).map(_.getStorageLevel).toSet

  test("scope releases its blocks at close; unscoped blocks live until released") {
    val inScope = Materialize.scope {
      val m = Materialize((0L until 100L).toDF("x"))
      assert(level(m) !== Set(StorageLevel.NONE))
      m
    }
    assert(level(inScope) === Set(StorageLevel.NONE), "scope kept its block")

    val free = Materialize((0L until 100L).toDF("x"))
    assert(free.count() === 100)
    assert(level(free) !== Set(StorageLevel.NONE))
    Materialize.release(free)
    assert(level(free) === Set(StorageLevel.NONE), "release kept the block")
  }

  test("a memo entry owns the blocks its value reads; the rest of compute is released") {
    SessionMemo.clear()
    val before = persisted
    val (value, scratch) = Materialize.scope {
      var tmp: org.apache.spark.sql.DataFrame = null
      val v = SessionMemo.getOrCompute(s"materialize-spec:${System.nanoTime()}") {
        tmp = Materialize((0L until 10L).toDF("x"))
        Materialize(tmp.selectExpr("x * 2 AS y"))
      }
      (v, tmp)
    }
    assert(level(scratch) === Set(StorageLevel.NONE), "compute scratch outlived compute")
    assert(level(value) !== Set(StorageLevel.NONE), "the scope released a memo-owned block")
    assert(value.count() === 10)
    assert((persisted -- before) === SessionMemo.blockIds)
    SessionMemo.clear()
    assert(level(value) === Set(StorageLevel.NONE), "clear() kept the entry's block")
  }

  test("queries hold only blocks their result reads; scopes leave none behind (d3..t13)") {
    Seq("d3_minhash_lsh_pairs", "d5_ngram_jaccard", "d8_simhash64_pairs",
      "d15_winnow_pairs", "d18_containment_pairs", "d10_neardup_clusters",
      "g7_pagerank", "g8_triangles", "t13_lm_score").foreach { q =>
      val before = persisted
      Materialize.scope {
        val df = SparkEntry.queries(q)(spark, sf)
        df.count()
        // a block the result no longer reads is dead: its operator must
        // have released it, or an unscoped caller holds it for the session
        val dead = persisted -- before -- SessionMemo.blockIds --
          Materialize.rdds(df).map(_.id)
        assert(dead.isEmpty, s"$q holds dead blocks ${dead.mkString(",")}")
      }
      val left = persisted -- before -- SessionMemo.blockIds
      assert(left.isEmpty, s"$q left blocks ${left.mkString(",")}")
    }
  }
}
