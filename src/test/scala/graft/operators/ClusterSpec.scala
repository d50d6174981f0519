package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, t.replace(" ", "").length.toLong) }
      .toDF("doc_id", "text", "n_chars")

  test("nearDupClusters finds transitive components the greedy pass cannot") {
    // 60 distinct words → 58 distinct shingles. One interior edit flips 3
    // shingles: j(base, edit1) = 55/61 ≈ 0.90. Two edits apart: j ≈ 0.81.
    // At threshold 0.85 doc0~doc1 and doc1~doc2 but NOT doc0~doc2 — only the
    // transitive closure puts all three in one cluster. doc3 unrelated.
    val base = (0 until 60).map(i => s"w$i")
    val t0 = base.mkString(" ")
    val t1 = base.updated(10, "EDIT_A").mkString(" ")
    val t2 = base.updated(10, "EDIT_A").updated(40, "EDIT_B").mkString(" ")
    val t3 = (0 until 60).map(i => s"z$i").mkString(" ")
    val df = docsDf(Seq(t0, t1, t2, t3))

    val clusters = DedupOps.nearDupClusters(df, 0.85)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L),
      s"unexpected clustering: $clusters")
    // cluster-aware dedup keeps exactly one doc per component
    val kept = DedupOps.dedupByCluster(df, DedupOps.nearDupClusters(df, 0.85)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 3L))

    // sanity: the direct pair (0,2) is indeed below the threshold
    val direct = DedupOps.minhashLshPairs(docsDf(Seq(t0, t2)))
      .select("jaccard").collect().map(_.getDouble(0))
    assert(direct.forall(_ < 0.85), direct.mkString(","))
  }

  test("a 60-deep chain converges inside the default cap with constant plan size") {
    // worst-case topology for plain min-propagation (one hop per round =
    // 60 rounds); pointer jumping must close it in O(log D) <= 10 rounds
    val vertices = (0L to 60L).toDF("doc_id")
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = DedupOps.connectedComponents(vertices, chain) // the cap is 10 rounds
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet === Set(0L), s"chain did not converge: $labels")

    // per-round localCheckpoint keeps the result's lineage flat — the plan
    // is the checkpoint scan plus the CONSTANT singleton rejoin (one
    // anti-join + union), never 10 rounds of stacked propagation joins
    val plan = out.queryExecution.optimizedPlan.toString
    val planLines = plan.linesIterator.size
    assert(planLines <= 12, s"lineage not truncated: $planLines plan lines\n$plan")
    assert("(?i)join".r.findAllIn(plan).size <= 1,
      s"more than the one singleton anti-join in the final plan:\n$plan")
  }

  test("clusters partition all docs; cluster_id is the component minimum") {
    val df = graft.Tables.table(spark, sf, "documents")
    val c = DedupOps.nearDupClusters(df, 0.9)
    assert(c.count() === df.count())
    assert(c.filter(col("cluster_id") > col("doc_id")).count() === 0)
  }

  test("pointer jumping closes a 60-deep chain in <= 7 rounds (spec-pinned)") {
    SessionMemo.clear() // force a fresh converge so lastClosureRounds is ours
    val vertices = (0L to 60L).toDF("doc_id")
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    DedupOps.connectedComponents(vertices, chain).count()
    val rounds = DedupOps.lastClosureRounds
    assert(rounds >= 1 && rounds <= 7,
      s"path halving regressed: 60-chain took $rounds rounds (O(log D) ~ 7)")
  }

  test("session memo: a second structurally identical closure is NOT recomputed") {
    SessionMemo.clear()
    val df = graft.Tables.table(spark, sf, "documents")
    DedupOps.nearDupClusters(df, 0.9).count()
    val after1 = SessionMemo.computeCount
    // a second call building the SAME plan (fresh frame, fresh exprIds) must
    // hit the memo — this is the d10→d11→s11→c3 session-sharing contract
    val again = DedupOps.nearDupClusters(
      graft.Tables.table(spark, sf, "documents"), 0.9)
    assert(again.count() === df.count())
    assert(SessionMemo.computeCount === after1,
      "structurally identical closure re-ran the converge loop")
    // ...and a DIFFERENT threshold is a different key: it must recompute
    DedupOps.nearDupClusters(df, 0.95).count()
    assert(SessionMemo.computeCount === after1 + 1)
  }

  test("session memo: LRU eviction bounds entries and releases evicted blocks") {
    SessionMemo.clear()
    val vertices = (0L to 10L).toDF("doc_id")
    // 40 distinct keys (different pair frames) — a streaming session's shape
    (1 to 40).foreach { i =>
      // the second (out-of-vertex, inert) pair makes every plan distinct
      val pairs = Seq((0L, i.toLong % 10 + 1L),
        (1000L + i, 2000L + i)).toDF("doc_a", "doc_b")
      DedupOps.connectedComponents(vertices, pairs).count()
    }
    assert(SessionMemo.size <= 32, s"memo grew to ${SessionMemo.size}")
    // memo-owned ids track only LIVE entries — evicted blocks are
    // released, so the owned set stays bounded too
    assert(SessionMemo.blockIds.size <= 32 * 2)
    SessionMemo.clear()
    assert(SessionMemo.size === 0)
  }

  test("session memo: swept blocks are detected and the closure recomputed") {
    SessionMemo.clear()
    val df = graft.Tables.table(spark, sf, "documents")
    val first = DedupOps.nearDupClusters(df, 0.9).collect().toSet
    val after1 = SessionMemo.computeCount
    // simulate a hostile sweep of the MEMO'S blocks specifically — scoped
    // to the memo-owned ids so this cannot race other suites' blocks in the
    // shared session (an unscoped sweep flaked the d3 plan contract)
    val memoIds = SessionMemo.blockIds
    assert(memoIds.nonEmpty, "memo holds no live blocks to sweep")
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => memoIds.contains(r.id))
      .foreach(_.unpersist(blocking = true))
    val second = DedupOps.nearDupClusters(df, 0.9)
    assert(second.collect().toSet === first, "recompute changed the labels")
    assert(SessionMemo.computeCount === after1 + 1,
      "memo served a frame whose checkpoint blocks were unpersisted")
  }
}
