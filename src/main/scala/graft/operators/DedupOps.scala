package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard — all over the `documents` table.
  *
  * Scale notes (100 TB): every variant is candidate-bounded — no operator ever
  * forms the full n² pair space. Exact dedup is a single hash-groupBy on the
  * content hash; MinHash/LSH shuffles once on (band, band-key) so candidate
  * generation is linear in bucket sizes; nearby-pair Jaccard fans out by a
  * constant window via an equi-join (no nested-loop range join). Everything is
  * built from codegen'd `functions._` higher-order array ops — no UDFs.
  */
object DedupOps {
  private val ShingleN = 3
  private val NumHashes = 8
  private val NumBands = 4 // 2 hashes per band

  /** 3-word shingles of a pre-split word array (docs with < n words excluded
    * by the caller) — element i = `words[i] words[i+1] words[i+2]`.
    * The k-gram tables of d13/d14 call the same native
    * [[graft.functions.KGrams]] with their own k.
    */
  private[operators] def shingleExpr(words: Column): Column =
    // ONE native codegen'd call (graft.functions.KGrams): a zip_with fold
    // runs interpreted lambdas per element and re-allocates every
    // intermediate prefix (bit-parity with the fold pinned in KGramsSpec);
    // never `transform(sequence, i -> slice(words, i, k))`, whose
    // captured-array indexing re-evaluates the array per element (the
    // O(n²) interpreted-lambda trap measured in d9)
    graft.functions.KGrams(words, ShingleN)

  /** (doc_id, shingle) distinct pairs for docs with >= 3 words. Distinctness
    * is per doc, so it happens MAP-SIDE (array_distinct before the explode) —
    * a global `.distinct()` would shuffle the whole corpus's shingle stream
    * for a property each row already has locally.
    */
  def shingles(docs: DataFrame): DataFrame =
    docs.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= ShingleN)
      .select(col("doc_id"),
        explode(array_distinct(shingleExpr(col("words")))).as("shingle"))

  /** Per-doc shingle table computed entirely MAP-SIDE — one row per doc with
    * the shingle multiset, its distinct set, and the set size. No explode, no
    * distinct shuffle: at 100 TB, signature extraction is a pure scan.
    */
  private def docShingles(docs: DataFrame): DataFrame =
    docs.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= ShingleN)
      .withColumn("shingles", shingleExpr(col("words")))
      .withColumn("shset", array_distinct(col("shingles")))
      .withColumn("n", size(col("shset")).cast("long"))
      // the full 8-family signature in ONE native expression call
      // (graft.functions.MinHashSig): 2 md5 digests per shingle, mins
      // tracked as u32s off the digest bytes. Runtime subexpression
      // elimination shares this one call across the 8 mh columns.
      .withColumn("sig", graft.functions.MinHashSig(col("shingles")))
      .select("doc_id", "shingles", "shset", "n", "sig")

  /** Salted MinHash signature columns, sliced from the native [[graft.functions.MinHashSig]]
    * array: mh_{4a+b} = min over shingles of substr(md5("a:" ++ shingle), 1+8b, 8).
    * Min over the multiset equals min over the distinct set, so no dedup is
    * needed; string-min of md5 hex is engine-portable (byte-ordered, no
    * murmur seeds — the DuckDB oracle states the same arithmetic).
    */
  private def minhashCols: Seq[Column] =
    (0 until NumHashes).map(i => element_at(col("sig"), i + 1).as(s"mh$i"))

  /** D1 — exact dedup by content hash: one hash-groupBy, keeper = min id.
    * Generalizes the reference's keyed dedup A5 (app/dwm/UniqueVisitApp.java:54-102)
    * from keys to full content.
    */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("dup_ct"))

  /** D2 — per-document MinHash signature (8 hashes over 3-shingles), a pure
    * per-row projection (zero shuffles — see [[docShingles]]).
    */
  def minhashSignature(docs: DataFrame): DataFrame =
    docShingles(docs).select(col("doc_id") +: minhashCols: _*)

  /** D3 — MinHash LSH near-dup pairs: band the signature (4 bands × 2 hashes),
    * bucket-join on (band, key) for candidates, then verify with exact Jaccard
    * over the distinct shingle sets. Candidates, not n², hit the verify step.
    *
    * The per-doc signature+set table is MAP-computed (no shuffle) and
    * materialized once: the band self-join and both jaccard probe sides
    * read it through broadcast jobs that launch in parallel.
    */
  def minhashLshPairs(docs: DataFrame): DataFrame = {
    // spread: band self-join + per-pair set intersections below expand per
    // row, so the split count of this table caps their parallelism
    val docsig = Materialize(graft.Tables.spread(docShingles(docs)
        .select(Seq(col("doc_id"), col("shset"), col("n")) ++ minhashCols: _*)))
    val bandKeys = (0 until NumBands).map(b =>
      concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))
    val bands = docsig.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    jaccardOf(cand, docsig.select(col("doc_id"), col("shset"), col("n")))
  }

  /** D5 — n-gram Jaccard over a bounded candidate window (each doc vs the next
    * 10 ids): the window fan-out is an `explode` + equi-join, so Catalyst plans
    * a hash join instead of a nested-loop range join.
    */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    // materialized: the verify step broadcasts sets to BOTH pair sides, in
    // two jobs that launch in parallel
    val sets = Materialize(docShingles(docs).select("doc_id", "shset", "n"))
    val ids = docs.select(col("doc_id"))
    val cand = ids
      .select(col("doc_id").as("a"),
        explode(sequence(col("doc_id") + 1, col("doc_id") + 10)).as("b"))
      .join(ids.select(col("doc_id").as("b")), Seq("b"))
      .select("a", "b")
    // spread: the per-pair set intersections in the verify step are the
    // operator's real work; cand inherits the scan's split count otherwise
    jaccardOf(graft.Tables.spread(cand), sets)
  }

  /** Exact Jaccard for candidate pairs over the per-doc distinct-shingle-set
    * table (`sets`: doc_id, shset, n), through [[withIntersections]]. Versus
    * the explode-equi-join-regroup formulation this removes two wide
    * shuffles — the set table is one row per doc, so the pair side stays
    * map-side. Pairs with an empty intersection are dropped, matching an
    * inner shingle join (LSH candidates always intersect by construction).
    */
  private def jaccardOf(cand: DataFrame, sets: DataFrame): DataFrame = {
    // floor(x*10^4 + 0.5)/10^4 instead of round(): bit-identical across engines
    // (round() on doubles is shortest-decimal-string HALF_UP in Spark vs
    // value-based in DuckDB — they disagree near .xxxx5 boundaries).
    val uni = col("na") + col("nb") - col("inter_ct")
    withIntersections(cand, sets)
      .filter(col("inter_ct") > 0)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("inter_ct"),
        uni.as("union_ct"),
        (floor(col("inter_ct") * 10000.0 / uni + 0.5) / 10000.0).as("jaccard"))
  }

  /** The set join-back of the d3/d5/d18 verifies: each candidate pair
    * `(a, b)` joined to both sides' sets (`sa`, `na`, `sb`, `nb`), plus
    * `inter_ct` = |A∩B| from the native count-only
    * [[graft.functions.IntersectCount]] (the arithmetic of
    * `size(array_intersect)` — distinct common elements — without building
    * the intersection array: hash the smaller set once per pair, probe).
    *
    * Both join-backs broadcast EXPLICITLY: this map-side join-back is the
    * verifies' scale contract (pairs carry only ids; the arrays never ride
    * a shuffle). The materialized set table exposes its exact size, and
    * past the broadcast threshold AQE would flip both join-backs to SMJs
    * that shuffle a shingle array per pair side.
    *
    * The broadcast is bounded: a set table larger than [[broadcastBound]]
    * (read from its plan statistics, which launches no job) fails here,
    * before any broadcast, instead of failing inside one. At that size the
    * posting-list formulation ([[containmentPairs]]' shared-shingle posting
    * join, with |A∩B| counted from the postings) is the swap-in.
    */
  private def withIntersections(cand: DataFrame, sets: DataFrame): DataFrame = {
    val size = sets.queryExecution.optimizedPlan.stats.sizeInBytes
    val bound = broadcastBound
    require(size <= bound,
      s"the per-doc shingle-set table ($size bytes) exceeds the set join-back's " +
        s"broadcast bound ($bound bytes: the lesser of spark.sql.maxBroadcastTableSize " +
        s"and 1/$DriverHeapShare of the driver heap); a corpus this size needs d18's " +
        s"posting-list formulation (containmentPairs' shared-shingle posting join), " +
        s"which counts |A∩B| from postings instead of broadcasting the sets")
    cand
      .join(broadcast(sets.select(col("doc_id").as("a"), col("shset").as("sa"), col("n").as("na"))), Seq("a"))
      .join(broadcast(sets.select(col("doc_id").as("b"), col("shset").as("sb"), col("n").as("nb"))), Seq("b"))
      .withColumn("inter_ct", graft.functions.IntersectCount(col("sa"), col("sb")))
  }

  /** The driver collects a broadcast table and builds its hash relation,
    * once per join-back side: both sides of [[withIntersections]] together
    * must stay well inside its heap.
    */
  private val DriverHeapShare = 4

  /** The largest set table [[withIntersections]] broadcasts. */
  private def broadcastBound: Long =
    math.min(org.apache.spark.sql.internal.SQLConf.get.maxBroadcastTableSizeInBytes,
      Runtime.getRuntime.maxMemory / DriverHeapShare)

  /** D18 — asymmetric CONTAINMENT pairs: `|A∩B| / min(|A|, |B|)` over the
    * distinct shingle sets, the quote/inclusion case symmetric Jaccard
    * structurally misses — a short document wholly embedded in a long one
    * has containment 1.0 but Jaccard ≈ |A|/|B| ≈ 0, so it never collides in
    * d3's MinHash bands (which estimate Jaccard BY DESIGN). Candidates come
    * from a shared-rare-shingle posting join instead (the d15 recipe):
    * shingles with document frequency in [2, 50] vote pairs, which
    * bounds the self-join at Σdf² ≤ 50·Σdf — linear in corpus shingles,
    * never pairwise. A df-1 shingle can vote nothing; a stopword-like
    * shingle above the cap votes noise quadratically and is dropped, the
    * MOSS/winnow common-hash discipline. Candidates must share ≥ 2
    * rare shingles (the d15 rule) before the verify runs: a
    * true pair's shared run of text votes many shingles, an accidental
    * collision votes one, so the rule prunes the one-incidental-shingle
    * pairs without losing ≥0.8-containment pairs.
    * (Like the df cap itself, this is a candidate-recall trade: a pair
    * whose smaller side has a single rare shingle in common is not
    * generated — MOSS's published posting discipline, not exhaustive
    * search.)
    *
    * Verify is [[jaccardOf]]'s set join-back ([[withIntersections]]), with
    * 4-dp floor-quantized containment compared AFTER quantization so both
    * engines threshold the same number.
    *
    * Scale notes (100 TB): one shingle-keyed df count + one posting
    * self-join bounded by the df cap + map-side verify — the d15 shuffle
    * budget plus the set join-back; nothing quadratic in the corpus.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    // materialized: sets feeds the posting explode AND both join-back
    // sides, whose jobs launch in parallel
    val sets = Materialize(graft.Tables.spread(
        docShingles(docs).select(col("doc_id"), col("shset"), col("n"))))
    // the df-filtered POSTING LIST (MOSS's "write the index" step) is
    // materialized too: it feeds BOTH sides of the candidate self-join, and
    // a broadcast-converted join shares no subtree through exchange reuse.
    // Its size is the df-capped posting list, a bounded fraction of corpus
    // shingles.
    val post = sets.select(col("doc_id"), explode(col("shset")).as("sh"))
    val rare = post.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 50L)).select("sh")
    val kept = Materialize(post.join(rare, Seq("sh")))
    // spread the probe side: the materialized posting list keeps AQE's
    // coalesced layout, and the self-join expands per posting row
    val cand = graft.Tables.spread(kept).select(col("sh"), col("doc_id").as("a"))
      .join(kept.select(col("sh"), col("doc_id").as("b")), Seq("sh"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared_rare"))
      .filter(col("shared_rare") >= 2L)
      .select("a", "b")
    val contain =
      floor(col("inter_ct") * 10000.0 / least(col("na"), col("nb")) + 0.5) / 10000.0
    withIntersections(cand, sets)
      .withColumn("containment", contain)
      .filter(col("containment") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("inter_ct"), col("na"), col("nb"), col("containment"))
  }

  /** Transitive near-dup clusters: connected components over the LSH pair
    * graph (a~b, b~c ⇒ {a,b,c} one cluster even if a,c never pair).
    * Returns (doc_id, cluster_id); cluster_id = min doc_id in the component.
    */
  def nearDupClusters(docs: DataFrame, threshold: Double): DataFrame = {
    // keyed on the raw docs, and the LSH pairs are built inside the compute:
    // a hit (d11/s11/c2/c3/d20 after d10) runs no signature pass at all
    val vertices = docs.select(col("doc_id"))
    val labels = SessionMemo.getOrCompute(
        SessionMemo.key(s"neardup:$threshold", docs)) {
      val pairs = minhashLshPairs(docs)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"))
      ccConverge(vertices, pairs)
    }
    withSingletons(vertices, labels)
  }

  /** Min-label propagation + pointer jumping over an undirected pair graph.
    *
    * Each round does (1) neighbor-min propagation (one shuffle) and (2) a
    * label shortcut `label(x) := label(label(x))` (path halving), so a
    * component of diameter D converges in O(log D) rounds, not O(D) — a
    * 60-deep chain closes in ~7 rounds, safely inside the [[CcMaxIter]] cap.
    *
    * Iteration hygiene at scale: every round ends in a [[Materialize]], so
    * the plan each round starts from is a flat scan of materialized blocks — lineage (and job planning time) stays CONSTANT
    * per round instead of growing linearly. The convergence signal rides a
    * `LongAccumulator` out of the SAME job that materializes the checkpoint
    * — ONE action per round, not a checkpoint plus a count pass. (Task
    * retries can only over-count an accumulator; the loop reads it solely as
    * `changed == 0`, which retries cannot fake.)
    *
    * Block lifecycle: each round's snapshot is released as soon as the
    * next one materializes, and `edges` after convergence. The converged
    * labels are memoized per (vertices, pairs) in [[SessionMemo]],
    * which owns their blocks: d10/d11/s11/c2/c3 and e2's name graph pay the
    * closure once per session.
    *
    * Only TOUCHED vertices iterate: a vertex with no incident pair can never
    * change label, and in a deduplication graph singletons are the
    * overwhelming majority of the corpus — excluding them shrinks every
    * per-round join from |corpus| to |pair-graph vertices|. They rejoin as
    * their own cluster (one anti-join) after convergence.
    *
    * Contract: `pairs` endpoints are expected to be drawn from `vertices`
    * (every caller here derives them from the same frame). The label seed is
    * semi-joined against `vertices` regardless, so an out-of-contract pair id
    * can never surface in the output — it is simply inert (it propagates no
    * label and cannot bridge two real vertices).
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = SessionMemo.getOrCompute(SessionMemo.key("cc", vertices, pairs)) {
      ccConverge(vertices, pairs)
    }
    withSingletons(vertices, labels)
  }

  /** Pair-touched labels plus every untouched vertex as its own cluster.
    * The rejoin stays outside the memo so memoized blocks are
    * pair-graph-sized, not corpus-sized.
    */
  private def withSingletons(vertices: DataFrame, labels: DataFrame): DataFrame = {
    val singletons = vertices.select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    labels.unionByName(singletons)
  }

  /** Rounds the LAST [[ccConverge]] run took before the convergence
    * accumulator read zero — spec-pinned so a regression in the pointer
    * jumping (e.g. losing the path-halving step) surfaces as a round-count
    * jump, not a silent slowdown.
    */
  @volatile private[graft] var lastClosureRounds: Int = -1

  /** The closure's round cap: a component of diameter D converges in
    * O(log D) rounds (a 60-deep chain in ≤ 7, spec-pinned).
    */
  private val CcMaxIter = 10

  /** The min-label + pointer-jumping loop itself (memoized by the public
    * faces above): returns the converged (doc_id, cluster_id) frame over
    * pair-touched vertices only, materialized.
    */
  private def ccConverge(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    // undirected: propagate labels both ways
    val edges = Materialize(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    // seed semi-joined against `vertices`: labels are the only rows that can
    // reach the output, so this pins output ⊆ vertices even if a caller's
    // pair frame references ids outside the vertex set (a phantom endpoint
    // contributes nothing — unlabeled srcs propagate no minimum, unlabeled
    // dsts drop in the left join below). Pair-graph-sized, paid once.
    var labels = Materialize(edges.select(col("src").as("doc_id")).distinct()
      .join(vertices.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("doc_id").as("cluster_id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < CcMaxIter) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("cluster_id")).as("nb_min"))
      val prop = labels.join(viaNeighbor, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("_old"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id"))).as("cluster_id"))
      // pointer jumping: follow the label's own label (min labels only ever
      // decrease, so the parent's label is always <= ours)
      val parents = prop.select(col("doc_id").as("_p"), col("cluster_id").as("_pc"))
      val marked = prop.join(parents, prop("cluster_id") === parents("_p"), "left")
        .select(col("doc_id"),
          coalesce(col("_pc"), col("cluster_id")).as("cluster_id"),
          (coalesce(col("_pc"), col("cluster_id")) < col("_old")).as("_changed"))
      // fold the convergence signal into the checkpoint job: the row funnel
      // is a narrow 3-column frame, so the typed boundary costs nothing next
      // to the job it eliminates
      val acc = spark.sparkContext.longAccumulator(s"cc_changed_$iter")
      val next = Materialize(marked.mapPartitions { it =>
        it.map { r => if (r.getBoolean(2)) acc.add(1L); r }
      }(org.apache.spark.sql.Encoders.row(marked.schema)))
      changed = acc.value
      Materialize.release(labels)
      labels = next.drop("_changed")
      iter += 1
    }
    Materialize.release(edges)
    lastClosureRounds = iter
    labels
  }

  /** D20 — duplicate-cluster SIZE SPECTRUM, the dedup report every corpus
    * card carries (how much of the corpus is duplicated how many times):
    * per cluster size, the number of clusters of that size and the number
    * of documents they hold. A heavy tail here (a few thousand-wide
    * clusters) is boilerplate or a crawler trap; the singleton row is the
    * unique share. All-integer, so the oracle compares exactly.
    *
    * Scale notes (100 TB): runs on the (doc_id, cluster_id) label frame —
    * the expensive closure is [[nearDupClusters]]'s, paid once per session
    * (SessionMemo) and shared with d10/d11/s11/c2/c3; the spectrum itself
    * is two integer aggregations, the second over cluster-count-sized
    * rows. `n_docs = size × clusters` stays a projection, not a rescan.
    */
  def clusterSizeSpectrum(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** Cluster-aware corpus dedup against PRECOMPUTED clusters (the output of
    * [[nearDupClusters]]): keep exactly one document (the minimum id) per
    * transitive near-dup cluster. This is the form a real pipeline uses —
    * LSH pair generation and the component loop are paid ONCE and their
    * labels reused by every downstream consumer; at 100 TB pair generation
    * is the dominant cost, so recomputing it per consumer doubles the bill.
    */
  def dedupByCluster(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(clusters, Seq("doc_id"))
      .filter(col("doc_id") === col("cluster_id"))
      .drop("cluster_id")

  private val SimhashBits = 16
  private val SimhashBands = 4

  /** Corpus-size ceiling for the 16-bit demo fingerprint (see [[simhashPairs]]):
    * derived from the bucket math, not vibes — 4-bit band keys give 16
    * buckets per band, so at N docs each bucket holds ~N/16 and the
    * candidate count is ~4·16·C(N/16, 2) ≈ N²/8. At 1,000 docs that is
    * ~125k candidate pairs; at 5,000 it is ~3M, quadratic from there. The
    * ceiling sits where the pair count is still visibly bounded. The guard
    * probe is `limit(max+1).count()`, so it
    * costs O(maxDocs) rows even on a 100 TB input — never a full scan.
    */
  private val DemoWidthMaxDocs = 1000

  /** D7 — SimHash near-dup pairs: band the 16-bit fingerprint into 4 bands
    * of 4 bits; any pair with hamming distance <= 3 shares at least one
    * identical band (pigeonhole over 4 bands), so the band-bucket self-join
    * yields ALL such pairs as candidates — linear in bucket population like
    * d3's LSH bands, never n². Candidates verify by exact hamming over the
    * bit string (16 codegen'd char compares — portable to the SQL oracle,
    * no engine-specific popcount).
    *
    * 16 bits is the DEMO width and this operator is gated to demo-size
    * corpora (`maxDocs`, default [[DemoWidthMaxDocs]]): 4-bit band keys give
    * only 2⁴ buckets per band, so bucket population — and with it both the
    * candidate count and the TRUE hamming ≤ 3 pair count — converges toward
    * all-pairs as the corpus grows (500 docs already emit 17% of all
    * possible pairs). Calls beyond the ceiling fail loudly instead of
    * silently going quadratic; [[simhash64Pairs]] is the same operator at
    * the production width (2¹⁶ buckets per band) — use it beyond toy scale.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxDocs: Int = DemoWidthMaxDocs): DataFrame = {
    val probe = docs.select(col("doc_id")).limit(maxDocs + 1).count()
    require(probe <= maxDocs,
      s"simhashPairs is the 16-bit DEMO fingerprint, gated to <= $maxDocs docs " +
        s"(corpus has more): its 4-bit band keys degenerate toward all-pairs at " +
        s"scale — use simhash64Pairs (64-bit, 2^16 buckets per band) instead")
    bandedHammingPairs(simhash(docs), SimhashBits, SimhashBands, maxHamming)
  }

  /** D8 — 64-bit SimHash near-dup pairs, the SCALE form of d7 and the layout
    * of the published web-dedup systems (Manku/Jain/Sarma, WWW'07: 64-bit
    * fingerprints, hamming ≤ 3, table-per-band): 4 bands × 16 bits give
    * 2¹⁶ buckets per band, so at fixed near-dup density the bucket
    * population — and the candidate pair count — stays ~4000× smaller than
    * d7's 2⁴ buckets at any corpus size. Pigeonhole still guarantees every
    * hamming ≤ 3 pair shares a band, so candidates are complete, and the
    * verify step is 64 codegen'd char compares.
    */
  def simhash64Pairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(simhash64(docs), Simhash64Bits, Simhash64Bands, maxHamming)

  /** Shared d7/d8 machinery: bucket-join the banded fingerprint for
    * candidates (doc_a < doc_b), verify by exact hamming distance.
    *
    * The verify is bit-parallel: the bit string is packed into 32-bit words
    * ONCE per doc (map-side, on the cached fingerprint table), so each
    * candidate pair costs `bits/32` xor+bit_count integer ops instead of
    * `bits` substring compares. That is the step that dominates when the
    * corpus makes buckets hot — same-profile documents cluster on band keys,
    * and every bucket is quadratic in its own population — so the per-pair
    * constant is what decides whether millions of candidates are fine.
    */
  private[graft] def bandedHammingPairs(sh0: DataFrame, bits: Int, nBands: Int,
      maxHamming: Int): DataFrame = {
    // pigeonhole completeness needs maxHamming differing bits to leave at
    // least one band untouched; out-of-contract bounds would silently drop
    // true pairs (no identical band), so fail loudly instead
    require(maxHamming < nBands,
      s"banded candidate generation is complete only for maxHamming < nBands " +
        s"(pigeonhole): got maxHamming=$maxHamming, nBands=$nBands")
    val nWords = (bits + 31) / 32
    val packCols: Seq[Column] = (0 until nWords).map { i =>
      conv(substring(col("simhash"), 1 + 32 * i, math.min(32, bits - 32 * i)), 2, 10)
        .cast("long").as(s"w$i")
    }
    val width = bits / nBands
    val bandKeys = (0 until nBands).map(b =>
      substring(col("simhash"), 1 + width * b, width))
    // (doc_id, packed words, band, key) — 1 row per (doc, band), all map-side
    val bandsRaw = sh0.select(
      Seq(col("doc_id")) ++ packCols :+
        posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")): _*)
    // the self-join EXPANDS quadratically inside each bucket, so the probe
    // side's split count caps the whole operator (see Tables.spread)
    // materialized: both bucket-join sides read it in parallel jobs
    val bands = Materialize(graft.Tables.spread(bandsRaw))
    val hamming = (0 until nWords).map(i =>
      bit_count(col(s"aw$i").bitwiseXOR(col(s"bw$i"))))
      .reduce(_ + _)
    def side(tag: String) = bands.select(
      Seq(col("doc_id").as(s"doc_$tag"), col("band"), col("bkey")) ++
        (0 until nWords).map(i => col(s"w$i").as(s"$tag" + s"w$i")): _*)
    // verify INLINE on the bucket join output, before any shuffle: the
    // packed words ride along (nWords longs), so no join-back against the
    // fingerprint table is needed and only hamming-surviving pairs reach the
    // final distinct — for selective fingerprints (d8) the near-quadratic
    // hot-bucket candidate stream dies map-side.
    side("a").join(side("b"), Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), hamming.cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** D4 — SimHash: 16-bit fingerprint; bit j votes +1/−1 by the parity of the
    * j-th hex digit of md5(word), weighted by term frequency; bit set iff the
    * vote sum is positive. Computed map-side in ONE native expression call
    * per document ([[graft.functions.SimHashBits]] — bit-identical to the
    * explode + 16-conditional-sums groupBy it replaces, without the shuffle
    * or the wide-aggregate codegen): fingerprinting is a pure scan-project.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.SimHashBits(split(col("text"), " "), SimhashBits).as("simhash"))
      .filter(col("simhash").isNotNull) // docs with no words had no groupBy row

  private val Simhash64Bits = 64
  private val Simhash64Bands = 4 // 16-bit band keys → 2^16 buckets per band

  /** 64-bit SimHash fingerprint: bit source = the 32 hex digits of md5(word)
    * followed by the 32 of md5("x:" ++ word) — the same salted-digest family
    * trick as the MinHash signature (d2), giving 64 independent parity bits
    * per word with two digests. Map-side like [[simhash]]: the 64-sum
    * explode/groupBy form this replaces cost ~7s of janino compile alone.
    */
  def simhash64(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.SimHashBits(split(col("text"), " "), Simhash64Bits).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** D9 — winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * rolling-fingerprint selection): hash every shingle, slide a window of
    * [[WinnowW]] consecutive hashes over the document, keep each window's
    * minimum. Guarantees any shared run of WinnowW+ShingleN-1 tokens between
    * two documents shares at least one selected fingerprint, at a fraction
    * of the full shingle volume — the classic partial-overlap complement to
    * whole-doc MinHash (d2/d3).
    *
    * Scale notes: selection is entirely MAP-SIDE (hash array → window mins →
    * per-doc distinct, all higher-order array ops in one projection); the
    * only rows that leave the scan are the selected fingerprints, ~2/(W+1)
    * of the shingle stream in expectation. Docs shorter than one window
    * degrade gracefully to their global minimum (one fingerprint).
    */
  private val WinnowW = 4
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    // The whole shingle→hash→window-min selection is ONE native codegen'd
    // call (graft.functions.WinnowMins): a higher-order-function composition
    // here evaluates its lambdas interpreted and re-evaluates captured
    // arrays per element, a cost that grows with corpus size. spread FIRST
    // so a compacted corpus arriving as one parquet split still hashes on
    // every core (the shuffle moves only the narrow pre-hash rows).
    graft.Tables.spread(docs.withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= ShingleN))
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.WinnowMins(col("words"), WinnowW))).as("fp"))
  }

  /** D15 — MOSS-style near-dup PAIR MINING over [[winnowFingerprints]] (d9
    * produced the fingerprints; this is the report MOSS actually shows):
    * document pairs sharing ≥ 2 selected fingerprints, with the
    * shared count as the similarity evidence. Fingerprints appearing in more
    * than `maxDf` documents are dropped first — MOSS's common-hash ignore:
    * boilerplate shared by everyone identifies nobody, and the cap is what
    * keeps the posting-list self-join from going quadratic on a hot
    * fingerprint.
    *
    * Scale notes: the inverted index (fp → docs) shuffles once on the
    * high-cardinality fingerprint; the df filter caps every posting list at
    * `maxDf`, so candidate generation is Σ df² ≤ maxDf · Σ df — linear in
    * selected fingerprints, never corpus-pairwise. Both self-join sides are
    * the same `kept` subtree (one exchange, reused), and the final pair
    * count keys on (doc_a, doc_b) with map-side partials.
    */
  def winnowPairs(docs: DataFrame, maxDf: Long = 50): DataFrame = {
    // materialized: the df aggregation and the kept join both read fps,
    // and exchange reuse would share only the pre-hash rows (the hash pass
    // runs after spread's exchange)
    val fps = Materialize(winnowFingerprints(docs))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    // the posting list feeds both self-join sides (containmentPairs' reason);
    // once it is materialized, fps is dead
    val kept = Materialize(fps.join(rare, Seq("fp")))
    Materialize.release(fps)
    kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 2L)
  }

  private val SegmentWords = 10

  /** Positional segment explode shared by d12 ([[segmentDedup]]) and d17
    * ([[boilerplateStrip]]): one row per (doc, segment) with the doc's total
    * segment count riding along — ONE definition of the segmentation, so the
    * keep-first and the strip-frequent faces cannot drift on boundaries.
    */
  private def segmentRows(docs: DataFrame): DataFrame = {
    val sw = SegmentWords
    graft.Tables.spread(
        docs.select(col("doc_id"), split(col("text"), " ").as("words")))
      .filter(size(col("words")) > 0) // guards sequence(0, -1)'s descending default
      .withColumn("n_segs",
        ceil(size(col("words")) / lit(sw.toDouble)).cast("long"))
      .select(col("doc_id"), col("n_segs"),
        posexplode(transform(
          sequence(lit(0L), col("n_segs") - 1),
          i => array_join(slice(col("words"), (i * sw + 1).cast("int"), lit(sw)), " ")))
          .as(Seq("seg_idx", "seg")))
      .withColumn("seg_idx", col("seg_idx").cast("long"))
  }

  /** D12 — corpus-level segment (paragraph) dedup, the C4/RefinedWeb recipe:
    * split each document into non-overlapping [[SegmentWords]]-word segments
    * (the fixtures are single-line, so fixed word windows stand in for
    * newline-delimited paragraphs), keep only the FIRST corpus occurrence of
    * each distinct segment text (lowest (doc_id, seg_idx)), and reassemble
    * every document from its surviving segments in original order. Documents
    * whose segments are all claimed elsewhere drop out entirely.
    *
    * Scale notes (100 TB): segmenting is map-side (one `transform` over a
    * shuffle-materialized word array — the lambda indexes an attribute, not
    * an inlined `split`, so per-element cost is O(1); `spread` inserts that
    * materializing exchange and un-compacts single-split corpora). First-
    * occurrence election is ONE hash-partitioned window keyed on md5(seg) —
    * high-cardinality, skew-free, and compiled to a map-side
    * WindowGroupLimit (rank ≤ 1) like s6/g1; reassembly is one
    * groupBy(doc_id) whose state is bounded by the document's own segment
    * list. Nothing is quadratic and no stage is keyed on a low-cardinality
    * column.
    */
  def segmentDedup(docs: DataFrame): DataFrame =
    segmentRows(docs)
      .withColumn("_occ", row_number().over(Window.partitionBy(md5(col("seg")))
        .orderBy(col("doc_id"), col("seg_idx"))))
      .filter(col("_occ") === 1)
      .drop("_occ")
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_segs")).as("n_segs"),
        count(lit(1)).as("kept_segs"),
        sort_array(collect_list(struct(col("seg_idx"), col("seg")))).as("lst"))
      .select(col("doc_id"), col("n_segs"), col("kept_segs"),
        array_join(transform(col("lst"), s => s.getField("seg")), " ").as("clean_text"))

  /** Positional k-gram rows `(doc_id, pos, gram)` of every ≥ k-word doc —
    * the one gram table the seed count and the span cover both read.
    */
  private def gramRows(docs: DataFrame, k: Int): DataFrame =
    graft.Tables.spread(docs)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.KGrams(col("words"), k)).as(Seq("pos", "gram")))

  /** Every gram of `grams` occurring ≥ 2 times: one gram-keyed count with
    * map-side partials.
    */
  private def repeatedGrams(grams: DataFrame): DataFrame =
    grams.groupBy("gram").agg(count(lit(1)).as("ct"))
      .filter(col("ct") >= 2).select("gram")

  /** The corpus's duplicated-gram seed set (every k-gram occurring ≥ 2
    * times, within- and cross-document occurrences both counted) — d13's
    * stage-2 output as a standalone frame, the reference d14 strips against.
    */
  def duplicatedGrams(docs: DataFrame, k: Int = 8): DataFrame =
    repeatedGrams(gramRows(docs, k))

  /** D13 — EXACT duplicated-substring spans, the modality the published
    * exact-substring dedup recipe targets (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": remove any ≥N-token run
    * that repeats anywhere in the corpus — verbatim boilerplate, licenses,
    * templated headers — which near-dup document hashing can't see because
    * the HOST documents differ). Returns every maximal token span
    * `[span_start, span_end]` (0-based, inclusive) whose every position is
    * covered by a `k`-gram occurring ≥ 2 times corpus-wide (within- and
    * cross-document repeats both count, as in the paper); `span_tokens` ≥ k
    * by construction.
    *
    * Seed-and-extend, not suffix arrays: the paper's suffix array is the
    * right SINGLE-MACHINE structure, but it needs the whole corpus adjacent
    * in memory/disk — the distributed shape is duplicated-k-gram seeds
    * merged into maximal spans, which is embarrassingly shuffle-bounded:
    * (1) k-gram generation is map-side (shifted-zip fold above);
    * (2) ONE gram-keyed count with map-side partials finds duplicated seeds
    *     (linear in corpus tokens — the same shuffle class as the d9/t5
    *     shingle streams, never pairwise);
    * (3) seed positions explode to covered token positions (constant k
    *     fan-out), distinct per (doc, pos) — bounded by corpus token count;
    * (4) islands of consecutive covered positions merge per-doc via the
    *     row_number gaps-and-islands window (doc-keyed, reduce side bounded
    *     by the doc's own length).
    * Grams join/group as STRINGS so the oracle states identical arithmetic;
    * a production run at 100 TB swaps in a 128-bit gram hash (fixed-width
    * shuffle keys) with the same plan shape.
    */
  def exactSubstringSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val grams = gramRows(docs, k)
    spansOf(grams, repeatedGrams(grams), k)
  }

  /** The span core of d13, d14 and g5: every maximal token span of the
    * `grams` rows whose every position is covered by a gram in `ref`.
    */
  private def spansOf(grams: DataFrame, ref: DataFrame, k: Int): DataFrame = {
    val covered = grams.join(ref, "gram")
      .select(col("doc_id"),
        explode(sequence(col("pos").cast("long"),
          col("pos").cast("long") + (k - 1))).as("cov"))
      .distinct()
    covered
      .withColumn("isl",
        col("cov") - row_number().over(Window.partitionBy("doc_id").orderBy("cov")))
      .groupBy("doc_id", "isl")
      .agg(min("cov").as("span_start"), max("cov").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** D14 — the REMOVAL face of [[exactSubstringSpans]]: excise every span
    * covered by the reference grams `refGrams` (the roster passes the
    * corpus's own [[duplicatedGrams]]; a live stream runs it per
    * micro-batch against a gram set built once) from every document — the
    * conservative remove-all-occurrences policy, no global election of a
    * keeper occurrence, so the operator stays one pass — and return the
    * cleaned text plus removal accounting. Every input doc appears exactly
    * once; a doc whose whole text is duplicated comes back with
    * `clean_text = ''`.
    *
    * Scale notes: spans collapse to ONE small array row per affected doc
    * (docs-with-dups sized, broadcastable), then removal is a map-side
    * indexed `filter` over the split words against that array — order
    * preserved by construction, NO per-token explode, no sort, no window.
    * The spans array is a join-produced attribute, so the per-element
    * `exists` probe reads a materialized value (not the d9 inlined-
    * expression trap); cost is O(words × spans-per-doc), the latter small
    * by nature. The corpus-sized cost is d13's span core over the docs'
    * gram rows (with the roster's reference, d13's exact lineage).
    */
  def stripDuplicatedSpans(docs: DataFrame, refGrams: DataFrame, k: Int = 8): DataFrame = {
    val spanArrs = spansOf(gramRows(docs, k), refGrams, k).groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.join(spanArrs, Seq("doc_id"), "left")
      .withColumn("spans",
        coalesce(col("spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>")))
      .withColumn("words", split(col("text"), " "))
      .withColumn("kept", filter(col("words"), (_, i) =>
        !exists(col("spans"), s =>
          i.cast("long") >= s.getField("span_start") &&
          i.cast("long") <= s.getField("span_end"))))
      .select(col("doc_id"), size(col("words")).cast("long").as("n_words"),
        (size(col("words")) - size(col("kept"))).cast("long").as("removed_tokens"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** G5 — duplication accounting BY SOURCE: the corpus-health dashboard a
    * curation run reads before deciding which feeds to throttle. Per
    * source: docs, total tokens, tokens inside duplicated (d13, 8-gram)
    * spans, and
    * the 4-dp duplication rate. Spans are disjoint per doc by construction,
    * so their `span_tokens` SUM is exact coverage — no overlap correction.
    *
    * Scale notes: d13's linear lineage + one doc-keyed sum, a doc-level
    * left join (spans side is docs-with-dups sized), and a final
    * source-keyed agg with map-side partials — source cardinality is small
    * by nature, so the last exchange is trivially balanced.
    */
  def dupRateBySource(docs: DataFrame): DataFrame = {
    val perDoc = exactSubstringSpans(docs, 8).groupBy("doc_id")
      .agg(sum("span_tokens").as("dup_tokens"))
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("total_tokens"),
        sum("dup_tokens").as("dup_tokens"))
      .withColumn("dup_rate",
        floor(col("dup_tokens") * 10000.0 / col("total_tokens") + 0.5) / 10000.0)
  }

  /** The d17 document-frequency threshold: a segment present in three or
    * more DISTINCT documents is boilerplate. Published line-dedup rules put
    * the cut in single digits (RefinedWeb removes lines duplicated across
    * its shard at small absolute counts); 3 keeps legitimate two-doc
    * near-dup overlap (d3's territory) out of the boilerplate set.
    */
  private val BoilerplateMinDf = 3

  /** D17 — corpus-frequency boilerplate removal, the RefinedWeb/Dolma
    * line-dedup rule: every segment in the `boiler` set — the roster passes
    * [[boilerplateSegments]], the segments occurring in ≥ [[BoilerplateMinDf]] DISTINCT
    * documents (nav bars, cookie banners, license headers) — is excised
    * from EVERY document; a live stream runs it per micro-batch against a
    * set built once. The complement of d12, which keeps the first
    * occurrence of every duplicated segment. Documents reassemble from the
    * surviving segments in original order; a document whose every segment is
    * boilerplate stays in the output with `clean_text = ''` (the d14
    * contract: removal is accounting, not row loss).
    *
    * Scale notes (100 TB): the df count is ONE segment-keyed corpus-scale
    * shuffle (count_distinct(doc_id) partial-aggregates map-side);
    * `boiler` — its ≥ 3-doc survivors — is small BY CONSTRUCTION (only text
    * repeated across ≥ 3 documents) and broadcasts back as an anti-join
    * probe set, so the corpus is never shuffled for the join. Reassembly is
    * one doc_id-keyed groupBy whose state is bounded by the doc's own
    * segment list. The segment explode is evaluated for the df agg and for
    * the probe side (two scan-projections — the d13/d14 shape); nothing is
    * quadratic.
    */
  def boilerplateStrip(docs: DataFrame, boiler: DataFrame): DataFrame = {
    val kept = segmentRows(docs).join(broadcast(boiler), Seq("seg"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_ct"),
        sort_array(collect_list(struct(col("seg_idx"), col("seg")))).as("lst"))
    // base = every segmented doc, computed map-side from the corpus (no
    // explode): fully-boilerplate docs must surface with '' not vanish
    docs.select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) > 0)
      .select(col("doc_id"),
        ceil(size(col("words")) / lit(SegmentWords.toDouble)).cast("long").as("n_segs"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("kept_ct"), lit(0L)).as("kept_segs"),
        coalesce(
          array_join(transform(col("lst"), s => s.getField("seg")), " "),
          lit("")).as("clean_text"))
  }

  /** The corpus's boilerplate segment set — d17's reference, like
    * [[duplicatedGrams]] for d14. One segment-keyed count-distinct shuffle;
    * output small by construction.
    */
  def boilerplateSegments(docs: DataFrame): DataFrame =
    segmentRows(docs)
      .groupBy(col("seg")).agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerplateMinDf).select("seg")

  /** D19 — INCREMENTAL corpus dedup: triage an incoming batch against the
    * accumulated history corpus, the production shape of every crawl
    * pipeline (today's fetch vs the index — history is never re-paired with
    * itself). Each incoming document is classified:
    *   - `exact`: content-hash match in history (md5 over full text);
    *   - `near`:  shares an LSH band with a history doc AND Jaccard ≥ 1/2
    *              over distinct 3-shingles (the d3 verify, thresholded with
    *              the INTEGER compare `2·|∩| ≥ |∪|` — no float drift);
    *   - `novel`: neither. `match_id` is the smallest matching history doc
    * (exact match preferred), null for novel rows.
    *
    * The batch is split deterministically here (odd ids = incoming, even =
    * history) so the oracle can state the same split; `incrementalDedupOf`
    * is the real API taking the two frames.
    *
    * Scale notes (100 TB history, GB-scale batch): the batch side is
    * BROADCAST at every join — band probe, signature join-back, and final
    * assembly — so the history corpus is never shuffled: band matching runs
    * map-side over the history scan, exactly the semantic-decontamination
    * (b2) plan shape. History band keys + shingle sets ride inline on the
    * probe output (bandedHammingPairs' trick), so no join-back against
    * history is needed either. Candidate pairs hit the IntersectCount
    * verify WITHOUT a distinct — a pair colliding in k bands is verified k
    * ≤ 4 times rather than paying a pair-keyed shuffle, and the duplicate
    * verdicts collapse in the final batch-keyed min() agg (the only keyed
    * shuffle, over batch-sized data). In production the history signature
    * table is a persisted index, so the per-batch cost is one history scan
    * + batch-sized state.
    */
  def incrementalDedupOf(incoming: DataFrame, history: DataFrame): DataFrame = {
    val exact = broadcast(
        incoming.select(col("doc_id").as("in_id"), md5(col("text")).as("fp")))
      .join(history.select(md5(col("text")).as("fp"), col("doc_id").as("hid")),
        Seq("fp"))
      .groupBy(col("in_id")).agg(min(col("hid")).as("exact_id"))
    val bandKeys = (0 until NumBands).map(b =>
      concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))
    def sigOf(docs: DataFrame) = docShingles(docs)
      .select(Seq(col("doc_id"), col("shset"), col("n")) ++ minhashCols: _*)
    def bandsOf(sig: DataFrame) = sig.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
    val incSig = sigOf(incoming).select(
      col("doc_id").as("in_id"), col("shset").as("sa"), col("n").as("na"))
    // history sets ride INLINE on the banded rows (one select, no join-back
    // keyed on history ids — that join would shuffle the index)
    val histBands = sigOf(history).select(col("doc_id").as("hid"),
      col("shset").as("sb"), col("n").as("nb"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
    val near = broadcast(bandsOf(sigOf(incoming))
        .select(col("doc_id").as("in_id"), col("band"), col("bkey")))
      .join(histBands, Seq("band", "bkey"))
      .join(broadcast(incSig), Seq("in_id"))
      .withColumn("inter_ct", graft.functions.IntersectCount(col("sa"), col("sb")))
      .filter(col("inter_ct") * 2 >= col("na") + col("nb") - col("inter_ct"))
      .groupBy(col("in_id")).agg(min(col("hid")).as("near_id"))
    // the match maps are batch-keyed aggregates (≤ batch rows) — broadcast
    // them so the assembly never sort-merges over the batch either
    incoming.select(col("doc_id"))
      .join(broadcast(exact.withColumnRenamed("in_id", "doc_id")), Seq("doc_id"), "left")
      .join(broadcast(near.withColumnRenamed("in_id", "doc_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, lit("exact"))
          .when(col("near_id").isNotNull, lit("near"))
          .otherwise(lit("novel")).as("status"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"))
  }
  def incrementalDedup(docs: DataFrame): DataFrame =
    incrementalDedupOf(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0))
}
