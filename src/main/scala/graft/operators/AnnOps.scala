package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (Array[Float] column, 64-dim).
  *
  * Scale notes: brute force broadcasts the (small) query set so the corpus
  * side streams through map-side with zero shuffle — at 100 TB the cost is one
  * corpus scan per query batch. The IVF variant prunes the corpus by cluster
  * id (the `label` column models a coarse-quantizer assignment): the join key
  * turns top-k into per-cell work, the standard inverted-file layout. Dot
  * products are the native codegen'd [[graft.functions.DotProductF]] and
  * DotProductFD expressions: double precision, no UDF, deterministic
  * left-to-right summation.
  */
object AnnOps {
  /** The n10/n13/c5 serving constants, shared BY NAME with the DuckDB oracle
    * SQL (SparkEntry's `ivfSq8Rer`/`mmrGreedyTail`/`c5Sql` interpolate these
    * same constants) — a change here reaches operator and oracle
    * together instead of silently diverging until the next correctness run.
    * λ and μ are INDEPENDENT (μ ≠ 1−λ: binary 1−0.7 is 0.30000000000000004
    * and engines would quantize differently near ties).
    */
  val ServeK = 5
  val ServePool = 20
  val ServeNProbe = 3
  val MmrLambda = 0.7
  val MmrMu = 0.3
  /** Sequential left-to-right double dot product of two float arrays —
    * the native codegen'd expression [[graft.functions.DotProductF]] (bit-
    * identical to the `aggregate(zip_with(...))` fold it replaces, without
    * per-element lambda dispatch).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_f(a, b)

  private def norm(a: Column): Column =
    graft.functions.VectorFunctions.norm_f(a)

  /** Cosine similarity with PRE-COMPUTED norms, quantized to 4 dp via
    * floor(x*1e4 + 0.5)/1e4 — bit-deterministic in both engines (unlike
    * round(), whose HALF_UP on the shortest decimal string diverges from
    * value-based rounding) and absorbs sub-ulp summation-order jitter.
    *
    * Why the norms are arguments instead of `norm(a) * norm(b)` inline: the
    * inline form costs THREE 64-dim dot products per candidate pair; norms
    * are per-VECTOR quantities, so each join side computes its norm once in
    * a projection below the join and the per-pair cost drops to one dot.
    * Catalyst never merges a below-join Project into the pair-side
    * projection, so the caching survives optimization.
    */
  private def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    floor(dot(a, b) / (na * nb) * 10000.0 + 0.5) / 10000.0

  /** Two-phase top-k per query: per-partition local top-k, then merge the
    * bounded local lists. A `Window.partitionBy(query_id)` would pull EVERY
    * (query, candidate) similarity onto one task per query — a single-reducer
    * bottleneck at corpus scale; here the shuffle carries at most
    * k·numPartitions rows per query. Ordering: sim desc, neighbor_id asc
    * (ascending sort on struct(-sim, neighbor_id)).
    */
  private def topKPerQuery(sims: DataFrame, k: Int, keyCols: Seq[String]): DataFrame = {
    val key = keyCols.map(col)
    val item = struct((-col("sim")).as("negsim"), col("neighbor_id"), col("sim"))
    def localTopK(df: DataFrame, grp: Seq[Column]) =
      df.groupBy(grp: _*)
        .agg(slice(array_sort(collect_list(item)), 1, k).as("top"))
        .select(grp :+ explode(col("top")).as("it"): _*)
        .select(grp ++ Seq(col("it.neighbor_id"), col("it.sim"), col("it.negsim")): _*)
    val local = localTopK(sims.withColumn("_p", spark_partition_id()), key :+ col("_p"))
    localTopK(local, key)
      .groupBy(key: _*)
      .agg(posexplode(slice(array_sort(collect_list(item)), 1, k)).as(Seq("i", "it")))
      .select(key ++ Seq(col("it.neighbor_id").as("neighbor_id"),
        (col("i") + 1).cast("long").as("rnk"), col("it.sim").as("sim")): _*)
  }

  /** The n1 search over an ARBITRARY corpus/query split: each query
    * (`query_id`, `qe`) scored against every corpus vector except itself,
    * exact 4-dp-quantized cosine, two-phase top-k, ties by neighbor id.
    * Top-k merges: the top-k of a union is the top-k of the per-split
    * top-k results, so a corpus arriving in parts is searched part by part.
    *
    * Scale notes (100 TB): the query side BROADCASTS (standing queries are
    * report-sized); the corpus is scored map-side in one pass with no
    * corpus shuffle — the top-k merge moves ≤ k·partitions rows per query.
    */
  def searchTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("qe"), norm(col("qe")).as("nq"))
    val c = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nv")) // norm once per vector, below the join
    val sims = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("qe"), col("embedding"), col("nq"), col("nv")).as("sim"))
    topKPerQuery(sims, k, Seq("query_id"))
      .select("query_id", "neighbor_id", "rnk", "sim")
  }

  /** N1 — brute-force cosine top-k: the exact baseline. Queries = vec_id < 10,
    * k = 5, self-pairs excluded; ties broken by neighbor id.
    */
  def cosineTopK(e: DataFrame): DataFrame =
    searchTopK(e, e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe")), 5)

  /** N8 — FILTERED vector search: each query's top-5 cosine neighbors
    * restricted to corpus vectors sharing the query's label — the
    * metadata-filtered ANN shape every production vector store exposes
    * (tenant / language / source scoping). Same exact ordering contract as
    * n1 (4-dp-quantized sim DESC, neighbor_id).
    *
    * Scale notes (100 TB): the filter is applied BEFORE similarity — the
    * label equality turns n1's broadcast nested-loop into a label-KEYED
    * broadcast hash join, so each corpus vector is scored only against the
    * queries of its own label partition (filter-then-score, not
    * score-then-filter: candidates shrink by the label selectivity, here
    * 10×). Top-k is the same two-phase partial merge as n1; an IVF variant
    * composes by filtering within probed cells.
    */
  def filteredTopK(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("nq"), col("label").as("qlabel"))
    val corpus = e.select(col("vec_id"), col("embedding"), col("label"),
      norm(col("embedding")).as("nv"))
    val sims = corpus.join(broadcast(q),
        corpus("label") === q("qlabel") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("qe"), col("embedding"), col("nq"), col("nv")).as("sim"))
    topKPerQuery(sims, 5, Seq("query_id"))
      .select("query_id", "neighbor_id", "rnk", "sim")
  }

  /** N7 — k-NN weak labeling (auto-labeling / label propagation, the
    * nearest-neighbor classifier the data-curation literature uses to
    * extend a small labeled seed over an unlabeled corpus): each query
    * vector takes the majority label of its top-5 cosine neighbors.
    * Deterministic everywhere: neighbors tie-break (sim DESC, neighbor_id)
    * on the 4-dp-quantized similarity — n1's exact ordering — and the vote
    * tie-breaks (votes DESC, label). `agrees` compares the vote against
    * the vector's own stored label — the held-out-accuracy face.
    *
    * Scale notes (100 TB): the query batch broadcasts (n1's shape — the
    * corpus streams map-side, zero corpus shuffle), top-k is the two-phase
    * partial top-k, and the vote runs over queries×k rows — trivially
    * small; the label join-backs are broadcast. A production variant swaps
    * the brute-force candidate stage for IVF/PQ (n2/n6) with the same
    * vote.
    */
  def knnLabel(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("nq"))
    val corpus = e.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nv"))
    val sims = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("qe"), col("embedding"), col("nq"), col("nv")).as("sim"))
    val labels = e.select(col("vec_id"), col("label"))
    val votes = topKPerQuery(sims, 5, Seq("query_id"))
      .join(broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .join(broadcast(labels.select(col("vec_id").as("query_id"),
        col("label").as("true_label"))), Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("label").as("predicted_label"), col("votes"),
        (col("label") === col("true_label")).as("agrees"))
  }

  /** N2 — IVF-style ANN: probe only the query's cell (`label` = coarse
    * centroid assignment), top-3 per query. The scale path: corpus partitioned
    * by cell, per-cell scans instead of full scans.
    */
  def ivfTopK(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label"), norm(col("embedding")).as("nq"))
    val corpus = e.select(col("label"), col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nv"))
    val sims = corpus.join(broadcast(q), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("label").as("cell"), col("vec_id").as("neighbor_id"),
        cosinePre(col("qe"), col("embedding"), col("nq"), col("nv")).as("sim"))
    topKPerQuery(sims, 3, Seq("query_id", "cell"))
      .select("query_id", "cell", "neighbor_id", "rnk", "sim")
  }

  /** D6 — embedding-cosine near-dup detection, the vector-space member of the
    * dedup family (exact/MinHash/SimHash/n-gram live in [[DedupOps]]): every
    * vector gets its nearest neighbor WITHIN ITS IVF CELL (`label` = coarse
    * quantizer output, as in [[ivfTopK]]) and an `is_dup` flag at cosine
    * ≥ 0.95. Bucketing-by-cell is the standard scale path for embedding
    * dedup — candidate pairs are bounded by cell population, never the n²
    * corpus, exactly like d3's LSH band buckets; the top-1 reduction uses the
    * two-phase partial top-k, so no per-vector single-reducer window. Drop
    * rows where `is_dup && vec_id > nn_id` for greedy keep-first removal.
    *
    * Ordering note for a 100 TB pipeline: run EXACT dedup (d1) before this
    * stage. Heavy verbatim duplication inflates cells (identical vectors
    * co-assign), and the within-cell pair join grows with cell-population² —
    * the 3x-replica scaling check measures exactly that square (9x shuffle
    * at 3x data). With exact dups removed first, cell sizes track the
    * k-means balance and the join stays linear-ish, which is how c2 orders
    * its stages.
    */
  def embeddingNearDups(e: DataFrame): DataFrame = {
    val left = e.select(col("label"), col("vec_id"), col("embedding").as("ea"),
      norm(col("embedding")).as("na"))
    val right = e.select(col("label"), col("vec_id").as("neighbor_id"),
      col("embedding").as("eb"), norm(col("embedding")).as("nb"))
    val sims = left.join(right, Seq("label"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosinePre(col("ea"), col("eb"), col("na"), col("nb")).as("sim"))
    topKPerQuery(sims, 1, Seq("vec_id"))
      .select(col("vec_id"), col("neighbor_id").as("nn_id"), col("sim"),
        (col("sim") >= 0.95).as("is_dup"))
  }

  // ---- Random-hyperplane (SRP) LSH -----------------------------------------

  private val LshPlanes = 32
  private val LshBands = 4 // 8 bits per band → 256 buckets per band
  /** The plane width: every hyperplane has 64 lanes, and SRP signatures
    * ([[graft.functions.SrpSig]]) read at most that many embedding dims.
    */
  private[graft] val LshDims = 64

  /** Deterministic Rademacher hyperplanes for sign-random-projection LSH:
    * entry (p, d) = +1 if the first hex nibble of md5("p_d") < 8, else −1.
    * Charikar's SRP scheme (STOC'02) with ±1 entries — E[sign agreement] =
    * 1 − θ/π, same guarantee as Gaussian planes. Deriving the matrix from md5
    * makes it a reproducible constant everywhere (any executor, any engine:
    * the DuckDB oracle embeds the same values as literals), with no
    * driver-side RNG state to ship.
    */
  def hyperplanes(nPlanes: Int = LshPlanes): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(LshDims) { d =>
        md.reset()
        val h = md.digest(s"${p}_${d}".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xF) < 8) 1.0f else -1.0f
      }
    }
  }

  /** Bit p of the LSH signature = sign of the projection onto plane p,
    * as '1'/'0' chars concatenated into a bit string. The projection is
    * 4-dp-quantized before the sign test so the bit is stable against
    * sub-ulp cross-engine summation jitter (same trick as [[cosinePre]]).
    * Pure map-side, ONE native-expression call for all 32 bits
    * ([[graft.functions.SrpSig]] — the composed 32-literal-dot-product
    * projection pays a long janino compile cold).
    */
  private[graft] def lshSignature(emb: Column): Column =
    graft.functions.SrpSig(emb, LshPlanes)

  /** N3 — LSH-bucketed ANN (the data-INDEPENDENT scale path, complementing
    * IVF which needs a centroid training pass): queries = vec_id < 20, k = 5.
    *
    * Plan shape at 100 TB: signatures are map-side (32 dots/vector); the
    * exploded query bands are broadcast, so the corpus is NEVER shuffled —
    * candidates fall out of a map-side broadcast hash join on (band, key).
    * Similarity is computed right there (the norm is precomputed per vector
    * below the join), and only (query_id, neighbor_id, sim) triples — never
    * embeddings — reach the one narrow shuffle that dedups pairs matching in
    * multiple bands. Recall dials with planes/bands (32/4 → 8-bit bands);
    * a missed true neighbor is the accepted ANN trade, and the oracle mirrors
    * the same algorithm so the contract is exact.
    */
  def lshTopK(e: DataFrame): DataFrame =
    lshSearch(e, e.filter(col("vec_id") < 20), 5)

  /** Full SRP-LSH search over arbitrary corpus/query frames — the general
    * API behind [[lshTopK]], parallel to [[ivfSearchAssigned]]. Self-pairs (shared
    * `vec_id`) are excluded.
    */
  def lshSearch(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val width = LshPlanes / LshBands
    def withBands(df: DataFrame, keep: Seq[Column]): DataFrame = {
      val keys = (0 until LshBands).map(b => substring(col("_sig"), 1 + width * b, width))
      df.withColumn("_sig", lshSignature(col("embedding")))
        .select(keep :+ posexplode(array(keys: _*)).as(Seq("band", "bkey")): _*)
    }
    val q = withBands(queries,
      Seq(col("vec_id").as("query_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("nq")))
    val c = withBands(corpus,
      Seq(col("vec_id"), col("embedding"), norm(col("embedding")).as("nv")))
    val sims = c.join(broadcast(q), Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("qe"), col("embedding"), col("nq"), col("nv")).as("sim"))
      .groupBy("query_id", "neighbor_id") // a pair can match in up to 4 bands
      .agg(max(col("sim")).as("sim"))
    topKPerQuery(sims, k, Seq("query_id"))
      .select("query_id", "neighbor_id", "rnk", "sim")
  }

  /** N4 — int8 embedding quantization accounting, the storage-side member of
    * the embedding family: per vector, symmetric max-abs scaling to
    * [−127, 127] (`q_i = floor(x_i·127/‖x‖∞ + 0.5)`, the standard int8
    * PTQ scheme) with integer summaries — quantized sum, L1 mass, saturated
    * and zeroed lane counts — that pin the arithmetic bit-for-bit against
    * the oracle without hashing float arrays. Pure scan-project: higher-order
    * array ops per row, no shuffle, no UDF.
    */
  def quantizeStats(e: DataFrame): DataFrame = {
    val ee = transform(col("embedding"), x => x.cast("double"))
    e.select(col("vec_id"), ee.as("ee"))
      .withColumn("scale", array_max(transform(col("ee"), x => abs(x))))
      .withColumn("qv", transform(col("ee"), x =>
        when(col("scale") > 0, floor(x * 127.0 / col("scale") + 0.5))
          .otherwise(0L)))
      .select(col("vec_id"), col("scale"),
        aggregate(col("qv"), lit(0L), (a, x) => a + x).as("qsum"),
        aggregate(col("qv"), lit(0L), (a, x) => a + abs(x)).as("qabs"),
        size(filter(col("qv"), x => abs(x) === 127)).cast("long").as("n_sat"),
        size(filter(col("qv"), x => x === 0)).cast("long").as("n_zero"))
  }

  /** N9 — int8-QUANTIZED search with exact rerank, the SQ8 retrieval shape
    * (FAISS `SQ8`, the standard memory/recall trade): the corpus is scanned
    * as n4's symmetric int8 codes (4× smaller than float32 — at 100 TB of
    * embeddings, the difference between a scan that fits page cache and one
    * that doesn't), candidates are ranked by the cosine OF THE QUANTIZED
    * vectors — the per-vector scales cancel in cosine, so the score derives
    * ENTIRELY from integer dot products (exact below 2^53; one sqrt + one
    * divide, 4-dp-quantized → bit-identical in both engines, no float
    * vector math on the wide scan) — and only the top-20 survivors per
    * query touch float embeddings for the exact n1-contract rerank (k = 5).
    * Output carries both scores, so quantization error is visible inline.
    *
    * Scale notes (100 TB): the candidate pass is the n1 broadcast shape
    * over int8 codes (map-only, two-phase top-20 — never a per-query
    * single-reducer window); the rerank joins the CANDIDATE list
    * (queries × 20 rows, broadcast) back to the float column, so full-
    * precision vectors are read for ~20·|Q| rows only. A production
    * variant composes with IVF cells (n2) the same way.
    */
  def quantizedTopK(e: DataFrame): DataFrame = {
    val qz = sq8Encode(e.select(col("vec_id"), col("embedding")))
    val queries = qz.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"),
        col("qn").as("qqn"), col("embedding").as("qe"),
        norm(col("embedding")).as("nq"))
    val corpus = qz.select(col("vec_id"), col("qv"), col("qn"))
    val cands = corpus
      .crossJoin(broadcast(queries.select(col("query_id"), col("qq"), col("qqn"))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), sq8Cosine.as("sim"))
    // |Q|*20 rows, but the lineage is the whole candidate scan and `top`
    // feeds TWO broadcast branches (rerank probe + final score-join), which
    // share no subtree: materialized, the candidate pass runs once
    val top = Materialize(topKPerQuery(cands, 20, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("sim").as("approx_sim")))
    exactRerank(e, queries.select(col("query_id"), col("qe"), col("nq")), top, 5)
  }

  /** SQ8 codes for n9/n10: over a frame with `embedding`, adds the
    * symmetric max-abs int8 code vector `qv` (`floor(x·127/‖x‖∞ + 0.5)`,
    * n4's scheme) and its integer squared norm `qn`, keeping every input
    * column.
    */
  private def sq8Encode(df: DataFrame): DataFrame =
    df.withColumn("ee", transform(col("embedding"), x => x.cast("double")))
      .withColumn("scale", array_max(transform(col("ee"), x => abs(x))))
      .withColumn("qv", transform(col("ee"), x =>
        when(col("scale") > 0, floor(x * 127.0 / col("scale") + 0.5))
          .otherwise(lit(0L))).cast("array<bigint>"))
      .withColumn("qn",
        graft.functions.VectorFunctions.dot_l(col("qv"), col("qv")))

  /** The SQ8 candidate score: cosine of a query's codes (`qq`, `qqn`)
    * against a corpus vector's (`qv`, `qn`), 4-dp-quantized. The per-vector
    * scales cancel, so it is integer dot products (the native codegen'd
    * long dot, exact below 2^53) plus one sqrt and one divide.
    */
  private def sq8Cosine: Column =
    when(col("qqn") === 0 || col("qn") === 0, lit(0.0)).otherwise(
      floor(graft.functions.VectorFunctions.dot_l(col("qq"), col("qv")).cast("double") /
        sqrt((col("qqn") * col("qn")).cast("double")) * 10000.0 + 0.5) / 10000.0)

  /** The exact n1-contract rerank tail of n9/n10/n11: each query's `top`
    * candidates (`query_id`, `neighbor_id`, one approximate-score column)
    * are re-scored with the exact 4-dp float cosine against `queries`
    * (`query_id`, `qe`, `nq`), the best `k` per query kept (ties by
    * neighbor id) and the approximate score carried alongside. Float
    * embeddings are read for the ≤ cand·|Q| candidate rows only (both
    * probes broadcast).
    */
  private def exactRerank(e: DataFrame, queries: DataFrame, top: DataFrame,
      k: Int): DataFrame = {
    val rer = e.select(col("vec_id").as("neighbor_id"), col("embedding"),
        norm(col("embedding")).as("nv"))
      .join(broadcast(top.select("query_id", "neighbor_id")), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(col("qe"), col("embedding"), col("nq"), col("nv")).as("sim"))
    topKPerQuery(rer, k, Seq("query_id"))
      .join(broadcast(top), Seq("query_id", "neighbor_id"))
      .select("query_id", "neighbor_id", "rnk", "sim", top.columns(2))
  }

  /** N10 — PROBE-BOUNDED quantized search: IVF cell probing (n2's shape)
    * composed with the SQ8 int8 candidate scan + exact rerank (n9's shape).
    * n9 alone is honest but scans the WHOLE int8 corpus per query — correct,
    * linear, and still a full-corpus read at 100 TB. Here the int8 scan
    * touches only the members of each query's `nProbe` nearest cells, so the
    * candidate row count is bounded by the probed fraction of the corpus —
    * the standard IVF×SQ composition (FAISS `IVFx,SQ8`).
    *
    * Determinism across engines: cell centroids are SEEDED from the
    * fixture's `label` groups via the 6-dp exact-mean convention n6's
    * codebooks use (integer 1e6-scaled sums — order-free — then ONE
    * divide+floor); every vector is then geometrically REASSIGNED to its
    * nearest centroid (one deterministic Lloyd assignment half-step — the
    * labels alone are a weak quantizer, see below); assignment and
    * probe scores (argmin L2 ⇔ argmax 2·q·c − ‖c‖²) are 4-dp-quantized
    * BEFORE ranking so sub-ulp fold jitter can't flip a choice; candidate
    * scores are pure integer dot products (exact below 2^53); the rerank is
    * the n1 float contract. Every stage is therefore oracle-stateable —
    * unlike n2b, whose iterative Lloyd's TRAINING is not.
    *
    * Scale notes (100 TB): centroid derivation is one (cell, dim) shuffle of
    * the corpus — paid at INDEX time, amortized across queries (a real
    * deployment persists the codebook with the index; the one-lineage form
    * here is the self-contained oracle query). The codebook collects to the
    * driver (cells × dims doubles, the IVF/PQ codebook pattern), so cell
    * assignment is a LITERAL per-row argmax — no join, no corpus shuffle,
    * streaming-safe (the [[assignCells]] contract). The search: probes are
    * a literal per-query argsort; the candidate scan is an equi-join on
    * `cell` against broadcast probes — reading int8 codes only (4× less
    * I/O than float), never a corpus shuffle and never a full scan; the
    * rerank touches float vectors for ≤ [[ServePool]]·|Q| rows. The plan
    * contract (PlanContractSpec) pins the broadcast + no-cartesian shape.
    */
  def ivfQuantizedTopK(e: DataFrame, k: Int = ServeK,
      nProbe: Int = ServeNProbe): DataFrame = {
    val cents = seededCentroids(e)
    // GEOMETRIC cell membership: every vector reassigned to its nearest
    // seeded centroid (one deterministic Lloyd assignment half-step). The
    // fixture labels alone are a weak quantizer, whose probe recall is about
    // the probed fraction; reassignment aligns membership with the metric
    // (recall ≥ 0.5 is pinned in AnnOpsSpec and recall_ok in the bench
    // record).
    // the IVF×SQ8 INDEX: every vector's geometric cell + int8 codes + code
    // norm. Consumed three times per search (queries, probes, candidates)
    // and by every search over the same corpus, so it is materialized once
    // per (session, corpus) and memoized — the build-once/serve-many shape
    // (a deployment persists exactly this frame)
    val qz = SessionMemo.getOrCompute(SessionMemo.key("n10:qz", e)) {
      Materialize(sq8Encode(assignCells(e.select(col("vec_id"), col("embedding")), cents, 1))
        .select(col("vec_id"), col("embedding"), col("cell"), col("qv"),
          col("qn")))
    }
    val queries = qz.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"),
        col("qn").as("qqn"), col("embedding").as("qe"),
        norm(col("embedding")).as("nq"))
    // probe selection: the nProbe best cells by the same literal scores
    val probes = qz.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), nearestCells(cents, nProbe).as("cell"))
    // int8 candidate scan over probed cells only — integer dots, exact
    val qside = probes.join(
      broadcast(queries.select(col("query_id"), col("qq"), col("qqn"))),
      Seq("query_id"))
    val cands = qz.select(col("cell"), col("vec_id"), col("qv"), col("qn"))
      .join(broadcast(qside), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        sq8Cosine.as("sim"))
    val top = topKPerQuery(cands, ServePool, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("sim").as("approx_sim"))
    exactRerank(e, queries.select(col("query_id"), col("qe"), col("nq")), top, k)
  }

  /** The n10/n11 coarse ASSIGNMENT as a standalone face: every vector's
    * geometric cell under the memoized label-seeded centroids (the same
    * [[seededCentroids]] + [[assignCells]] n10's index uses, so its
    * consumers — s14's cluster-balanced sampler — ride the quantizer the
    * memo already holds). Map-only against driver-held literals, and
    * oracle-stateable end-to-end (the ivfSq8Rer prefix states it
    * verbatim), unlike [[kmeansTrain]]'s loop that stops at convergence.
    */
  def seededCellAssign(e: DataFrame): DataFrame =
    assignCells(e, seededCentroids(e), 1).select("vec_id", "cell")

  /** N14 — kNN-GRAPH construction: every corpus vector's top-[[ServeK]] cosine
    * neighbors, probe-bounded by the trained coarse quantizer. n1–n13
    * answer QUERY-side search (a handful of standing queries against the
    * corpus); the kNN JOIN is the INDEX-side primitive the LLM curation
    * stack builds on — SemDeDup clusters over it, label propagation and
    * graph dedup consume its edges, and dataset cartography reads its
    * neighborhood densities. Brute force is n²·dims (the one shape that
    * can never ship at 100 TB); here each vector is scored only against
    * the members of its `nProbe` nearest cells (NN-Descent/FAISS-style
    * blocked construction), so candidate pairs are Σ_cells |members_c| ×
    * |probers_c| — the probed fraction of n², never n².
    *
    * Determinism across engines (every stage oracle-stateable): cells and
    * probes are n10's contract verbatim — the memoized [[seededCentroids]]
    * quantizer, 4-dp-quantized integer cell scores, min-cell tie-breaks —
    * and the pair score is n1's exact 4-dp float cosine with ties to the
    * lower neighbor id. Probe 1 is the vector's own cell (assignment and
    * probe ranking share one score array), so the classic same-cell kNN
    * graph is the nProbe=1 special case.
    *
    * Scale notes (100 TB): the quantizer is SessionMemo-held (train once,
    * build many); cell assignment and probe selection are literal per-row
    * argmax/argsort — no join, no corpus shuffle. The single shuffle is the
    * equi-join on `cell`: the member side moves each vector once, the
    * probe side `nProbe` times — (1+nProbe)× the corpus, linear with a
    * small constant, and cell count grows with the corpus (k ∝ √n keeps
    * per-cell blocks bounded, AQE rebalances stragglers). Top-k is the
    * two-phase partial merge (≤ k·partitions rows per vector through the
    * final exchange — never the full candidate list).
    */
  def knnJoin(e: DataFrame, nProbe: Int = ServeNProbe): DataFrame =
    // the GRAPH is an index artifact: built once per (session, corpus,
    // nProbe) and served to every consumer — the n14 gate, dq9's density
    // outliers; a 100 TB deployment persists it next to the index
    SessionMemo.getOrCompute(SessionMemo.key(s"n14:knn:p=$nProbe", e)) {
      Materialize(knnJoinStage(e, ServeK, nProbe))
    }

  /** The n14 construction PLAN itself (uncheckpointed) — what
    * PlanContractSpec pins; [[knnJoin]] wraps it in the session memo.
    */
  private[graft] def knnJoinStage(e: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cents = seededCentroids(e)
    // probe side: every vector × its nProbe best cells; norm computed ONCE
    // below the join (the cosinePre contract). SPREAD before the pair join: the
    // join's output expands by |cell| per probe row, so the probe side's
    // split count caps the whole construction — a compacted corpus arriving
    // as one parquet split would otherwise crunch every candidate pair in a
    // single task
    val probes = graft.Tables.spread(
      e.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nq"),
        nearestCells(cents, nProbe).as("cell")))
    // member side: every vector filed under its ONE geometric cell, so each
    // (vector, neighbor) candidate pair arises at most once — no dedup stage
    val members = e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ne"), norm(col("embedding")).as("nn"),
        nearestCells(cents, 1).as("cell"))
    val cands = probes.join(members, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosinePre(col("embedding"), col("ne"), col("nq"), col("nn")).as("sim"))
    // top-k via rank window, NOT topKPerQuery's collect_list merge: with
    // |cell|-sized candidate lists per vector the object aggregate falls
    // back to sort-based mode and copies every pair row into per-group
    // buffers. The row_number ≤ k filter compiles to a partial
    // WindowGroupLimit (the g1/s6/d12 contract): each map split forwards
    // ≤ k binary rows per vector — bounded shuffle, zero object churn —
    // and the selection/order contract (sim DESC, neighbor_id) is
    // identical to topKPerQuery's
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("vec_id", "neighbor_id", "rnk", "sim")
  }

  /** DQ9 — kNN-DENSITY outliers: the embedding-space data-quality signal
    * (dataset cartography / mislabel-and-junk pruning). A vector whose 5
    * nearest neighbors are all far away sits in a sparse region — OCR
    * garbage, wrong-language shards, adversarial spam — exactly what an
    * embedding-quality gate drops before training. Density = the DECIMAL
    * sum of the vector's [[knnJoin]] edge similarities (5 exact 4-dp
    * values, decimal-summed so no engine sees float accumulation order);
    * the outlier flag is the bottom 1/20 of each CELL by (density,
    * vec_id) — s13's exact integer quota (`rnk·20 ≤ n_c + 19`), per
    * cell rather than corpus-wide so a naturally diffuse topic is judged
    * against its own neighborhood, not a dense one's.
    *
    * Scale notes (100 TB): rides the memoized kNN graph (built once per
    * corpus, shared with n14) — the graph is n·k rows, so everything here
    * is post-index bookkeeping: one vec_id-keyed agg over n·k, one
    * broadcast-sized join to the literal cell assignment, one cell-keyed
    * exchange shared by the rank and count windows (the s14 contract
    * shape).
    */
  def knnDensityOutliers(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cell").orderBy(col("density"), col("vec_id"))
    val cw = Window.partitionBy("cell")
    knnJoin(e)
      .groupBy("vec_id")
      .agg(graft.Tables.dsum(col("sim")).as("density"))
      .join(seededCellAssign(e), Seq("vec_id"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_c", count(lit(1)).over(cw))
      .withColumn("outlier", col("rnk") * 20 <= col("n_c") + 19)
      .select(col("vec_id"), col("cell"), col("density"), col("outlier"))
  }

  // ---- The coarse quantizer ------------------------------------------------
  //
  // Every IVF query rides one mechanism per step. Centroids are driver-held
  // `(cell, centroid)` pairs in ascending cell order, built by [[cellMeans]];
  // a vector's cells are ranked by [[cellScores]] and picked by
  // [[nearestCells]], for assignment, the spilled index and probing alike.

  /** The 6-dp integer-exact mean of every cell, over `(cell, dim, v)` rows:
    * each value is scaled by 10⁶ and floored to a BIGINT, summed
    * exactly, then divided by the member count once and re-floored, so no
    * partition layout or merge order can move a centroid, and the DuckDB
    * oracles state the same recipe. Returns each cell's means in ascending
    * `dim` order, the cells ascending. One (cell, dim)-keyed aggregation
    * with map-side partials; the collect is cells × dims doubles.
    */
  private[graft] def cellMeans(rows: DataFrame): Array[(Int, Seq[Double])] =
    rows.withColumn("iv", floor(col("v").cast("double") * 1e6 + 0.5).cast("long"))
      .groupBy("cell", "dim")
      .agg(sum(col("iv")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", floor(col("s").cast("double") / col("n") + 0.5) / 1e6)
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("cell").cast("int"), transform(col("dm"), x => x.getField("m")))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)

  /** The `(cell, dim, v)` rows of a frame's `cell` and `embedding` columns. */
  private def vectorRows(df: DataFrame): DataFrame =
    df.select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))

  /** The label-seeded quantizer: the [[cellMeans]] of the fixture's label
    * cells. Trained once per (session, corpus): the coarse quantizer belongs
    * to the INDEX, not the query, so n10, n11, n14, c5, s14 and d16 share
    * one derivation.
    */
  private def seededCentroids(e: DataFrame): Array[(Int, Seq[Double])] =
    SessionMemo.getOrCompute(SessionMemo.key("seededCentroids", e)) {
      cellMeans(vectorRows(e.select(col("label").as("cell"), col("embedding"))))
    }

  /** The 4-dp-quantized literal cell-score array of the row's `embedding`:
    * floor((2·v·c − ‖c‖²)·1e4 + 0.5) per cell — argmin L2 as an integer
    * score, so sub-ulp fold jitter cannot flip an assignment or a probe
    * choice — as (sc, negcell, cell) structs, so the max struct is the
    * nearest cell with ties to the min cell. The float×double dot is the
    * native codegen'd DotProductFD (centroids are DOUBLE — 6-dp means are
    * not float-representable — so dot_f cannot apply).
    */
  private def cellScores(cents: Array[(Int, Seq[Double])]): Column =
    array(cents.map { case (cell, c) =>
      val cnorm2 = c.foldLeft(0.0)((a, x) => a + x * x)
      struct(
        floor((graft.functions.VectorFunctions.dot_fd(col("embedding"), typedlit(c)) * 2.0
          - lit(cnorm2)) * 10000.0 + 0.5).as("sc"),
        lit(-cell).as("negcell"), lit(cell).as("cell"))
    }.toIndexedSeq: _*)

  /** The row's `m` best cells by [[cellScores]], one output row per (row,
    * cell): for m = 1 a plain `array_max` column (one row per input row),
    * otherwise a generator over the descending-sorted m-best slice, whose
    * first cell is the m = 1 cell. The one pick behind assignment (m = 1),
    * the spilled index (m = 2) and probe selection (m = nProbe).
    */
  private def nearestCells(cents: Array[(Int, Seq[Double])], m: Int): Column = {
    require(cents.nonEmpty, "a quantizer needs at least one cell")
    require(m >= 1, s"m must be at least 1, got $m")
    val scores = cellScores(cents)
    if (m == 1) array_max(scores).getField("cell")
    else explode(slice(reverse(array_sort(scores)), 1, m).getField("cell"))
  }

  /** IVF cell assignment: `vectors` with a `cell` column, one row per
    * (vector, cell) for each vector's `m` nearest cells under the
    * DRIVER-HELD centroids `cents` ([[nearestCells]]). The argmax happens
    * inside the row projection with NO join and NO aggregation, so the same
    * call works on a `readStream` frame (continuous IVF indexing of an
    * embedding stream) and on a batch frame, and at 100 TB the corpus is
    * never shuffled. The centroid table is small and slow-changing by
    * construction (the analog of the reference's driver-held router config,
    * app/dwd/BaseDBApp.java:100-118), so holding it as literals is the same
    * contract as broadcasting it.
    *
    * m > 1 is the SPILLED index, the replicated-IVF recall dial: boundary
    * vectors whose true neighbors straddle a cell edge become findable from
    * either side without probing more cells (multi-assignment, cf. spill
    * trees and ScaNN's SOAR). Index rows grow ×m; probe I/O is unchanged.
    */
  def assignCells(vectors: DataFrame, cents: Array[(Int, Seq[Double])], m: Int): DataFrame =
    vectors.withColumn("cell", nearestCells(cents, m))

  /** N11 — IVFADC (Jégou, Douze, Schmid, TPAMI 2011 §V; FAISS `IVFx,PQy`):
    * the inverted-file coarse quantizer composed with RESIDUAL product
    * quantization. n6's ADC is exhaustive (every code scanned per query);
    * n10 probe-bounds an SQ8 scan but keeps whole-vector int8 codes
    * (64 bytes/vector). Here each vector's RESIDUAL from its coarse
    * centroid is PQ-encoded to `PqM` 4-bit codes (8 ints/vector — the 64×
    * compression), and per query only the 4 nearest cells' postings
    * are ADC-scored with a per-(query, cell) residual distance table —
    * the composition that makes billion-scale search tractable: I/O follows
    * the probed fraction AND each candidate costs 8 table lookups, no
    * vector math.
    *
    * Determinism across engines (every stage oracle-stateable): coarse
    * centroids/assignment/probes are n10's 4-dp integer-score contract;
    * residuals are exact IEEE double subtractions (double-cast floats minus
    * 6-dp means); the residual codebook is point-seeded and refined by two
    * unrolled Lloyd rounds (see [[pqLloydCodebook]] — deterministic assign
    * + 6-dp integer-mean update); encode/dtable distances are 4-dp sq-L2
    * with ties to the lower code; ADC sums ride DECIMAL(18,4); the final
    * rerank is the n1 float contract.
    *
    * Scale notes (100 TB): centroid + codebook derivation are two keyed
    * aggregations of the corpus with map-side partials — INDEX-time costs,
    * amortized across queries (a deployment persists cells + codes).
    * Assignment, residuals, and encoding are map-only against driver-held
    * literals (no join, no corpus shuffle, streaming-safe). The search:
    * probes and distance tables are literal per-query work (≤ |Q|·4
    * rows, broadcast); the candidate scan is an equi-join on `cell` against
    * the broadcast probe side reading the 8-int codes column only; the
    * rerank touches float vectors for ≤ cand·|Q| rows and keeps the top 5.
    * PlanContractSpec pins the broadcast + no-cartesian shape.
    */
  def ivfPqTopK(e: DataFrame, cand: Int = 150): DataFrame = {
    val cents = seededCentroids(e)
    val centMap = typedlit(cents.toMap)
    val ee = transform(col("embedding"), x => x.cast("double"))
    // geometric cell membership (n10's reassignment half-step) + exact
    // double residual from the assigned centroid — one map-only projection.
    // This (vec_id, cell, res) frame IS the n11 index, consumed three times
    // (two Lloyd rounds + the encode): materialized once per (session,
    // corpus) and memoized
    val asg = SessionMemo.getOrCompute(SessionMemo.key("n11:asg", e)) {
      Materialize(e.select(col("vec_id"), col("embedding"), ee.as("ee"),
          nearestCells(cents, 1).as("cell"))
        .withColumn("res",
          zip_with(col("ee"), element_at(centMap, col("cell")), (x, c) => x - c))
        .select(col("vec_id"), col("cell"), col("res")))
    }
    // residual PQ codebook: POINT-seeded (vec_id 0..15's residual
    // subvectors — k-means' "first k points" seeding, genuinely spread
    // unlike n6's seed-partition means, which collapse toward the global
    // residual mean and leave ADC unable to rank) + two unrolled Lloyd
    // rounds, each a deterministic assign (4-dp sq-L2, ties to lower j)
    // and 6-dp integer-mean update — the g7/g13 fixed-round convention,
    // so the oracle states the identical training prefix. Keyed on the RAW
    // corpus, not the materialized asg: asg is a pure function of `e`.
    val cb = SessionMemo.getOrCompute(SessionMemo.key("n11:pqLloyd:2", e)) {
      pqLloydCodebook(asg.select(col("vec_id"), col("res")), rounds = 2)
    }
    // encode: nearest code per subspace by 4-dp sq-L2, ties to lower j —
    // the native one-pass PqEncodeExpr (bit-identical to the composed
    // array_min-over-scored-structs form, spec-pinned)
    val enc = asg.select(col("cell"), col("vec_id").as("neighbor_id"),
      graft.functions.PqFunctions.pq_encode(col("res"), cb, PqM, PqDims, PqK)
        .as("codes"))
    // probes: the 4 best cells per query by the same literal 4-dp scores;
    // the residual distance TABLE is per (query, probed cell) — the IVFADC
    // detail that distinguishes residual PQ from n6's global tables
    val dt = (0 until PqM).map { s =>
      val xs = slice(col("qres"), s * PqDims + 1, PqDims)
      transform(pqScoredCodes(xs, pqEntries(cb, s)), en => en.getField("dq"))
    }
    val qside = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), ee.as("qee"),
        nearestCells(cents, 4).as("cell"))
      .withColumn("qres",
        zip_with(col("qee"), element_at(centMap, col("cell")), (x, c) => x - c))
      .select(col("query_id"), col("cell"), array(dt: _*).as("dt"))
    // ADC over probed cells only: 8 lookups + 8 decimal adds per candidate
    val adc = enc.join(broadcast(qside), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", (0 until PqM).map(s =>
          element_at(element_at(col("dt"), s + 1), col("codes")(s) + 1)
            .cast("decimal(18,4)"))
        .reduce(_ + _).cast("double"))
      .select(col("query_id"), col("neighbor_id"), (-col("adist")).as("sim"))
    val top = topKPerQuery(adc, cand, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), (-col("sim")).as("adist"))
    exactRerank(e, e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("nq")), top, 5)
  }

  /** N13 — MMR: maximal-marginal-relevance DIVERSIFIED top-k (Carbonell &
    * Goldstein, SIGIR 1998) — the reranker between vector search and a RAG
    * context window: greedily pick the candidate maximizing
    * λ·sim(q, d) − μ·max_{s∈picked} sim(d, s), so near-duplicate passages
    * stop crowding out coverage. Candidate pool = n1's exact contract
    * (4-dp cosine, ties by neighbor id) at `pool` per query; `k` greedy
    * rounds UNROLLED with the argmax on the 4-dp-quantized MMR score
    * (ties → smaller neighbor id), the fixed-round convention that lets
    * the oracle state the identical greedy prefix as chained CTEs, with
    * λ = [[MmrLambda]] and μ = [[MmrMu]].
    *
    * Scale notes (100 TB): the only corpus-scale work is the candidate
    * search itself (n1's broadcast-queries/no-corpus-shuffle shape, or any
    * ANN face upstream); everything after is pool-bounded by construction
    * — the pair matrix is |Q|·pool² rows (report-sized), each greedy round
    * joins frames of ≤ |Q|·pool rows, and the greedy rounds run in-task
    * per query ([[mmrOver]]), so the plan never compounds across rounds.
    */
  def mmrTopK(e: DataFrame, k: Int = ServeK, pool: Int = ServePool): DataFrame = {
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    mmrOver(e, searchTopK(e, queries, pool)
      .select(col("query_id"), col("neighbor_id"), col("sim")), k)
  }

  /** The MMR greedy core over an ARBITRARY candidate pool `(query_id,
    * neighbor_id, sim)` — n13 feeds it the brute n1 pool; the c5 serving
    * capstone feeds it n10's probe-bounded reranked pool. Pool-bounded by
    * construction regardless of the upstream search.
    *
    * Shape (round 14): ONE query-keyed exchange, then the k greedy rounds
    * run INSIDE each query's group as a deterministic in-task fold
    * (`flatMapGroups` over ≤ pool + pool² rows per query — genuinely
    * imperative sequential logic over a bounded group, the sanctioned
    * mapGroups case). The previous form unrolled the rounds as k
    * cluster-wide supersteps (per-round joins + eager checkpoints): correct
    * and pool-bounded, but each of |Q| independent greedy selections was
    * synchronized at every round — k global barriers and ~4k tiny jobs for
    * work with zero cross-query dependency. Here queries parallelize
    * embarrassingly and the job count is constant in k. Arithmetic is
    * bit-identical: sims/psims arrive 4-dp quantized, λ·sim − μ·red and the
    * floor-quantization run the same IEEE double ops Catalyst generated,
    * and both tie-breaks (round 1: sim desc then id asc; rounds 2+: mmr
    * desc then id asc) are explicit — the DuckDB oracle's unrolled CTE
    * chain hash-matches unchanged.
    *
    * Scale notes (100 TB): the pair matrix is |Q|·pool² rows (the only
    * corpus-touching work is the broadcast vector pull); the exchange moves
    * those rows once, keyed by query; per-group state is pool² doubles.
    * Nothing is driver-side and nothing is corpus-scale.
    */
  def mmrOver(e: DataFrame, candIn: DataFrame, k: Int): DataFrame = {
    val cand = Materialize(candIn)
    // pairwise 4-dp cosine within each query's pool: the candidate list
    // broadcasts into the corpus scan to pull vectors, then the pool
    // self-joins per query — |Q|·pool² rows, never corpus-squared
    val cv = e.select(col("vec_id").as("neighbor_id"), col("embedding"),
        norm(col("embedding")).as("nv"))
      .join(broadcast(cand.select("query_id", "neighbor_id")), Seq("neighbor_id"))
    val pa = cv.select(col("query_id"), col("neighbor_id").as("a"),
      col("embedding").as("ea"), col("nv").as("na"))
    val pb = cv.select(col("query_id"), col("neighbor_id").as("b"),
      col("embedding").as("eb"), col("nv").as("nb"))
    val pairs = pa.join(broadcast(pb), Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        cosinePre(col("ea"), col("eb"), col("na"), col("nb")).as("psim"))
    // candidate rows (b null) and pair rows union into ONE query-keyed
    // group; the greedy fold below consumes both
    val rows = cand
      .select(col("query_id"), col("neighbor_id").as("a"),
        lit(null).cast("bigint").as("b"), col("sim"),
        lit(null).cast("double").as("psim"))
      .unionByName(pairs.select(col("query_id"), col("a"), col("b"),
        lit(null).cast("double").as("sim"), col("psim")))
    val spark = e.sparkSession
    import spark.implicits._
    rows.as[(Long, Long, Option[Long], Option[Double], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        mmrGreedy(qid, it, k)
      }
      .toDF("query_id", "neighbor_id", "pick", "sim", "mmr")
  }

  /** The per-query greedy selection [[mmrOver]] distributes: `rows` carries
    * the query's candidates (b empty: (id, sim)) and pool pairs (b set:
    * (a, b, psim)). Exactly the unrolled-round contract: pick 1 = the
    * pool's rank-1 row (sim desc, id asc) with mmr = q4(λ·sim); picks 2..k
    * maximize q4(λ·sim − μ·max_{s∈picked} psim) with ties to the smaller
    * id, where a remaining candidate is eligible only once it has a pair
    * row against a picked item (the full pool pair matrix makes that
    * always true beyond degenerate single-member pools). All inputs are
    * 4-dp quantized upstream, so every compare here is on exact doubles.
    */
  private def mmrGreedy(qid: Long,
      rows: Iterator[(Long, Long, Option[Long], Option[Double], Option[Double])],
      k: Int): Iterator[(Long, Long, Long, Double, Double)] = {
    val q4 = (x: Double) => math.floor(x * 10000.0 + 0.5) / 10000.0
    val cands = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val psim = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    rows.foreach {
      case (_, a, None, Some(sim), _) => cands += ((a, sim))
      case (_, a, Some(b), _, Some(p)) => psim((a, b)) = p
      case _ => ()
    }
    if (cands.isEmpty) return Iterator.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    // pick 1: rank-1 of the pool — max sim, ties to the smaller id
    val (id1, sim1) = cands.minBy { case (id, sim) => (-sim, id) }
    out += ((qid, id1, 1L, sim1, q4(MmrLambda * sim1)))
    picked += id1
    for (r <- 2 to k) {
      val best = cands.iterator
        .filter { case (id, _) => !picked.contains(id) }
        .flatMap { case (id, sim) =>
          val reds = picked.flatMap(p => psim.get((id, p)))
          // eligibility mirrors the unrolled form's inner join on `red`
          if (reds.isEmpty) None
          else Some((id, sim, q4(MmrLambda * sim - MmrMu * reds.max)))
        }
        .reduceOption[(Long, Double, Double)] { case (x, y) =>
          // max by (mmr, then min id)
          if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x
        }
      best.foreach { case (id, sim, mmr) =>
        out += ((qid, id, r.toLong, sim, mmr))
        picked += id
      }
    }
    out.iterator
  }

  /** C5 — RAG retrieval serving, the capstone a search user hits first:
    * n10's probe-bounded IVF×SQ8 candidate scan, exact float rerank to a
    * [[ServePool]]-sized list, then n13's MMR greedy diversification — the
    * query-time half of the retrieval stack the offline capstones (c1-c4)
    * curate corpora for. Output is exactly [[ServeK]] rows per query,
    * (query_id, neighbor_id, pick, sim, mmr), each stage keeping its own gate's
    * semantics (n10's 4-dp quantized probe selection and integer-dot scan,
    * n1's exact rerank, n13's fixed-round greedy with independent λ/μ).
    *
    * Scale notes (100 TB): candidate I/O follows the probed fraction
    * ([[ServeNProbe]]/cells of the corpus — n10's contract), the rerank touches only
    * |Q|·pool rows, and everything after is pool-bounded (|Q|·pool² pair
    * matrix, k tiny greedy rounds) — no stage re-scans the corpus.
    */
  def retrievalServe(e: DataFrame): DataFrame =
    mmrOver(e, ivfQuantizedTopK(e, k = ServePool)
      .select(col("query_id"), col("neighbor_id"), col("sim")), ServeK)

  /** Lloyd's k-means training for the IVF coarse quantizer: iterate
    * assign → average until the largest centroid movement drops under `tol`
    * (euclidean) or `maxIter` rounds pass. Returns the trained centroids in
    * [[assignCells]]'s driver-held form, in ascending cell order.
    *
    * Deterministic end to end (auditable at 100 TB like the hash
    * samplers): seeding partitions the corpus by `vec_id % k` — no RNG —
    * every round assigns by the 4-dp integer [[cellScores]] (ties to the min
    * cell) and averages by the 6-dp integer-exact [[cellMeans]], so the
    * trained centroids do not depend on the partition layout or the
    * shuffle merge order. Only the round count is data-dependent: the loop
    * stops at convergence, which is why no single SQL query states it.
    *
    * Scale notes: each round is ONE corpus aggregation — assignment is a
    * map-side projection against the k driver-held centroids (no join, no
    * corpus shuffle), and the mean reduces on (cell, dim) with map-side
    * partial agg, k·dims rows total. Empty cells keep their previous
    * centroid (the standard Lloyd fallback), so the cell count never
    * silently shrinks. Convergence is measured on the driver from the
    * just-collected centroids: no extra job, no growing lineage (each
    * round's frame is built fresh from the raw corpus and k literals).
    *
    * `trainFrac` < 1 trains on a deterministic hash SAMPLE of the corpus —
    * the production shape at 100 TB: a coarse quantizer needs only enough
    * vectors to place k centroids (k ≪ corpus), so every Lloyd round
    * scanning the full corpus is waste — train on `trainFrac`, then assign
    * EVERYTHING once with [[assignCells]] (assignment is the map-only pass;
    * training is the iterated one). Sampling is a per-row `xxhash64(vec_id)`
    * predicate — deterministic, seedless, pushdown-friendly, the s1 recipe —
    * so re-training on the same corpus sees the same sample regardless of
    * layout.
    */
  def kmeansTrain(e: DataFrame, k: Int, maxIter: Int = 10, tol: Double = 1e-4,
      trainFrac: Double = 1.0): Array[(Int, Seq[Double])] =
    // converged centroids memoized per (session, corpus, params): the Lloyd
    // loop is an INDEX-time cost, not a per-search one.
    // SessionMemo.clear() forces a genuine re-train where a spec needs one.
    SessionMemo.getOrCompute(
      SessionMemo.key(s"kmeans:$k:$maxIter:$tol:$trainFrac", e)) {
      kmeansTrainCompute(e, k, maxIter, tol, trainFrac)
    }

  private def kmeansTrainCompute(e: DataFrame, k: Int, maxIter: Int,
      tol: Double, trainFrac: Double): Array[(Int, Seq[Double])] = {
    require(k > 0, "k-means needs k > 0")
    require(trainFrac > 0.0 && trainFrac <= 1.0,
      s"trainFrac must be in (0, 1], got $trainFrac")
    val train =
      if (trainFrac >= 1.0) e
      else e.filter(pmod(xxhash64(col("vec_id")), lit(10000L)) <
        lit((trainFrac * 10000).toLong))
    var cents = cellMeans(vectorRows(
      train.withColumn("cell", (col("vec_id") % k).cast("int"))))
    var moved = Double.MaxValue
    var iter = 0
    while (iter < maxIter && moved > tol) {
      val next = cellMeans(vectorRows(assignCells(train, cents, 1))).toMap
      moved = cents.map { case (cell, c) =>
        next.get(cell).fold(0.0) { n =>
          math.sqrt(c.zip(n).foldLeft(0.0) { case (a, (x, y)) => a + (x - y) * (x - y) })
        }
      }.foldLeft(0.0)(math.max)
      cents = cents.map { case (cell, c) => (cell, next.getOrElse(cell, c)) }
      iter += 1
    }
    cents
  }

  /** Full IVF search over a corpus whose `cell` column already exists:
    * each query probes its `nProbe` nearest cells under the driver-held
    * centroids `cents` ([[nearestCells]], the pick that assigned the
    * corpus) and ranks candidates by exact cosine — the standard
    * recall/throughput dial (nProbe = all cells ⇒ exact brute force).
    * Assignment is paid once at indexing time, map-side via
    * [[assignCells]]; search never re-quantizes the corpus, and the corpus
    * side touches only the probed cells via the equi-join on cell.
    *
    * A spilled index (m > 1) files a vector under several cells, so one
    * probed twice surfaces as identical candidate rows that would occupy
    * two top-k slots: the candidates are made distinct before ranking. The
    * distinct keys on (query, neighbor, sim) — candidate volume (queries ×
    * probed fraction), not corpus volume, so it stays query-sized.
    */
  def ivfSearchAssigned(assigned: DataFrame, cents: Array[(Int, Seq[Double])],
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      norm(col("embedding")).as("nq"), nearestCells(cents, nProbe).as("cell"))
    val sims = assigned
      .withColumn("nv", norm(col("embedding")))
      .join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("qe"), col("embedding"), col("nq"), col("nv")).as("sim"))
    topKPerQuery(sims.distinct(), k, Seq("query_id"))
  }

  /** n2b's index: k-means cells, top-k per query, probed cells per query. */
  private val TrainedCells = 8
  private val TrainedTopK = 5
  private val TrainedNProbe = 3
  /** n2b files each vector under its 2 nearest cells: at the same 3/8 probe
    * fraction the spilled index buys recall with 2× index rows and zero
    * extra probe I/O.
    */
  private val TrainedSpill = 2

  /** N2b — the TRAINED IVF pipeline end-to-end: [[kmeansTrain]] learns the
    * coarse quantizer, [[assignCells]] files every corpus vector under its
    * `TrainedSpill` nearest cells map-side against the driver-held
    * centroids (no join, no corpus shuffle), and [[ivfSearchAssigned]]
    * probes each query's `TrainedNProbe` nearest trained cells. n2's face
    * consumes the fixture's pre-assigned `label` column; this face is what
    * a deployment with no precomputed labels runs. Not oracle-stateable in
    * one SQL query (Lloyd's loop stops at convergence), so the gate is
    * behavioral: `AnnOpsSpec` pins the recall bound at sf0.1 and the bench
    * records its wall time.
    */
  def ivfTrainedTopK(e: DataFrame): DataFrame = {
    val cents = kmeansTrain(e, TrainedCells)
    ivfSearchAssigned(assignCells(e, cents, TrainedSpill), cents,
      e.filter(col("vec_id") < 10), TrainedTopK, TrainedNProbe)
      .select("query_id", "neighbor_id", "rnk", "sim")
  }

  // ---- Product quantization (PQ/ADC) ---------------------------------------

  /** PQ geometry: 64-dim vectors split into `PqM` subspaces of `PqDims`
    * dims, `PqK` codes per subspace — 8 bytes/vector, the classic
    * IVFADC-compatible layout (Jégou, Douze, Schmid, TPAMI 2011).
    */
  private val PqM = 8
  private val PqK = 16
  private val PqDims = 8

  /** PQ codebook from SEED-PARTITION MEANS: code (s, j) = subvector s of
    * the [[cellMeans]] of the vectors with `vec_id % PqK == j` — Lloyd's
    * SEEDING step stated as one aggregation, which keeps the whole PQ
    * pipeline oracle-stateable in a single SQL query (a Lloyd refinement
    * that stops at convergence is n2b's no-oracle territory, so the gated
    * face stays with seed means). Trained once per (session, corpus).
    *
    * Returns ((s, j) → (centroid, ‖centroid‖²)); `PqM·PqK` entries — tiny,
    * driver-held by construction like [[assignCells]]'s centroids.
    * Scale: ONE (j, dim)-keyed aggregation of the corpus with map-side
    * partials.
    */
  def pqCodebook(e: DataFrame): Map[(Int, Int), (Array[Double], Double)] =
    SessionMemo.getOrCompute(SessionMemo.key("pqCodebook", e)) {
      cellMeans(vectorRows(e.withColumn("cell", (col("vec_id") % PqK).cast("int"))))
        .flatMap { case (j, c) =>
          (0 until PqM).map(s => (s, j) -> pqCode(c.slice(s * PqDims, (s + 1) * PqDims)))
        }.toMap
    }

  /** A PQ code with its squared norm, the codebook entry form. */
  private def pqCode(c: Seq[Double]): (Array[Double], Double) =
    (c.toArray, c.foldLeft(0.0)((a, x) => a + x * x))

  /** n11's residual codebook: POINT seeds (the residual subvectors of
    * vec_id 0..PqK-1 — Lloyd's "first k points" seeding, deterministic and
    * collected in one tiny filter) refined by `rounds` unrolled Lloyd
    * steps. Each step assigns every subvector to its nearest code by the
    * SAME 4-dp-quantized sq-L2 the encoder uses (ties to the lower code
    * id) and recomputes each code as the [[cellMeans]] of its members, the
    * code (s, j) as cell `s·PqK + j`; a code that attracts no members keeps
    * its previous centroid (the standard empty-cell rule, stated as a
    * left-join coalesce in the oracle). A fixed round count — not
    * convergence — keeps the whole training prefix oracle-stateable, the
    * g7/g13 convention for iterative work.
    *
    * Scale notes (100 TB): each round is ONE (cell, dim)-keyed aggregation
    * of the corpus with map-side partials (assignment is a literal
    * projection against the driver-held codebook, the [[assignCells]]
    * contract); PqM·PqK·PqDims output doubles collect per round. This is
    * index-time cost, amortized across queries.
    */
  private def pqLloydCodebook(df: DataFrame,
      rounds: Int): Map[(Int, Int), (Array[Double], Double)] = {
    val seeds = df.filter(col("vec_id") < PqK)
      .select(col("vec_id").cast("int").as("j"), col("res"))
      .collect().flatMap { r =>
        val v = r.getSeq[Double](1)
        (0 until PqM).map(s => (s, r.getInt(0)) -> pqCode(v.slice(s * PqDims, (s + 1) * PqDims)))
      }.toMap
    // downstream encode does cb((s, j)) for EVERY j < PqK — a corpus
    // missing any vec_id in 0..PqK-1 would otherwise surface as an opaque
    // NoSuchElementException deep inside the codegen'd encode
    require((0 until PqM).forall(s => (0 until PqK).forall(j => seeds.contains((s, j)))),
      s"point seeding needs vec_ids 0..${PqK - 1} present in the corpus")
    var cb = seeds
    for (_ <- 1 to rounds) {
      // assignment via the native one-pass PqEncodeExpr — bit-identical to
      // the composed array_min(pqScoredCodes(...)) form (spec-pinned) but
      // codegen'd. Computed BEFORE the generator select: an aliased
      // generator in the same projection re-resolves lambda structs
      // (analyzer CleanupAliases quirk)
      val upd = cellMeans(df.withColumn("codes",
          graft.functions.PqFunctions.pq_encode(col("res"), cb, PqM, PqDims, PqK))
        .select(col("codes"), posexplode(col("res")).as(Seq("dim", "v")))
        .withColumn("s", expr(s"dim div $PqDims").cast("int"))
        .select((col("s") * PqK + element_at(col("codes"), col("s") + 1)).as("cell"),
          (col("dim") % PqDims).as("dim"), col("v")))
      cb = cb ++ upd.map { case (cell, c) => (cell / PqK, cell % PqK) -> pqCode(c) }
      // codes with no members keep their previous centroid
    }
    cb
  }

  /** Per-subspace scored codes: array<struct(dq, j)> of the 4-dp-quantized
    * squared L2 between subvector `xs` and EVERY code of one subspace's
    * codebook — ‖x‖² − 2·x·c + ‖c‖², every fold sequential left-to-right
    * double (the exact arithmetic DuckDB's double-list `list_dot_product`
    * runs, so encode/ADC hash-match).
    *
    * The codebook rides as ONE array-of-structs literal and the scoring is
    * one `transform` loop over it — data, not unrolled expressions. The
    * first cut unrolled 8×16 separate zip_with folds and spent its wall
    * time in janino compiling the megabyte of generated code (the SrpSig
    * lesson); this shape keeps codegen at one inner loop.
    */
  private def pqScoredCodes(xs: Column,
      entries: Seq[(Int, Seq[Double], Double)]): Column = {
    val sx = aggregate(xs, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))
    transform(typedlit(entries), e =>
      struct(
        (floor((sx - lit(2.0) * aggregate(zip_with(xs, e.getField("_2"),
          (x, y) => x.cast("double") * y), lit(0.0), (a, b) => a + b) +
          e.getField("_3")) * 10000.0 + 0.5) / 10000.0).as("dq"),
        e.getField("_1").as("j")))
  }

  /** The (j, centroid, ‖c‖²) entries of subspace `s`, ascending code id —
    * the literal [[pqScoredCodes]] consumes.
    */
  private def pqEntries(cb: Map[(Int, Int), (Array[Double], Double)],
      s: Int): Seq[(Int, Seq[Double], Double)] =
    (0 until PqK).map { j => val (c, sc) = cb((s, j)); (j, c.toSeq, sc) }

  /** PQ ENCODE: per vector, per subspace, the nearest code by quantized
    * squared L2 (ties to the lower code id) — adds a `codes` byte-array
    * column (`PqM` ints). Map-only against the driver-held codebook: the
    * [[assignCells]] contract — no join, no shuffle, streaming-capable,
    * and at 100 TB the corpus is encoded in one scan and stored as 8
    * ints/vector (the 64× compression that makes exhaustive ADC scans
    * feasible at all).
    */
  def pqEncode(vectors: DataFrame,
      cb: Map[(Int, Int), (Array[Double], Double)]): DataFrame =
    // the native one-pass PqEncodeExpr — bit-identical to the composed
    // array_min(pqScoredCodes(...)) per-subspace form it replaced
    // (PqEncodeSpec pins parity on BOTH float and double inputs)
    vectors.withColumn("codes",
      graft.functions.PqFunctions.pq_encode(col("embedding"), cb, PqM, PqDims, PqK))

  /** N6 — PQ/ADC search: queries (vec_id < 10) build a per-subspace
    * distance table against the codebook; every corpus vector's
    * approximate distance is the sum of `PqM` table lookups at its stored
    * codes (asymmetric distance computation — the query stays exact, only
    * the corpus is quantized). Top-5 per query, ascending distance, ties
    * to the lower neighbor id.
    *
    * Determinism: each dtable entry is the same 4-dp-quantized sq-L2 the
    * encoder minimizes, and the 8-term ADC sum rides DECIMAL(18,4) — so
    * shuffle merge order cannot move the hash and the DuckDB oracle
    * replays the whole pipeline (codebook → codes → dtable → sum) exactly.
    *
    * Scale notes (100 TB): encode is map-only (see [[pqEncode]]); the
    * query side broadcasts dtables (queries × 8×16 doubles), so the scan
    * side streams through a broadcast nested loop with NO corpus shuffle —
    * per candidate the work is 8 array lookups + 8 decimal adds, no
    * float vector math at all (the ADC win) — and the top-k reduction is
    * the two-phase partial [[topKPerQuery]], never a single reducer.
    */
  def pqAdcTopK(e: DataFrame): DataFrame = {
    val cb = pqCodebook(e)
    val enc = pqEncode(e, cb).select(col("vec_id").as("neighbor_id"), col("codes"))
    val dt = (0 until PqM).map { s =>
      val xs = slice(col("embedding"), s * PqDims + 1, PqDims)
      transform(pqScoredCodes(xs, pqEntries(cb, s)), e => e.getField("dq"))
    }
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), array(dt: _*).as("dt"))
    val sims = enc.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", (0 until PqM).map(s =>
          element_at(element_at(col("dt"), s + 1), col("codes")(s) + 1)
            .cast("decimal(18,4)"))
        .reduce(_ + _).cast("double"))
      .select(col("query_id"), col("neighbor_id"), (-col("adist")).as("sim"))
    topKPerQuery(sims, 5, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        (-col("sim")).as("adist"))
  }

  /** D16 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering then within-cluster cosine pruning — the
    * published recipe behind LAION/web-scale curation runs. The corpus is
    * k-means-clustered (here the fixture's `label` coarse assignment, the
    * same convention as n2/d6 — a trained quantizer plugs in via
    * [[kmeansTrain]] + [[assignCells]]); within each cluster, any pair
    * with cosine ≥ `threshold` is a semantic-duplicate edge, and the member
    * KEPT is the one with the LOWEST cosine to its cluster centroid — the
    * paper's "keep cluster outliers" rule (§4.3: low-centroid-similarity
    * examples preserved diversity best in their CLIP/LM ablations).
    *
    * Determinism contract (oracle-hash-exact): the centroid is the label
    * cell's 6-dp integer-exact mean ([[cellMeans]]) — the memoized seeded
    * quantizer n10/n11 share — so no engine-specific decimal rounding mode
    * or float summation order can touch it; cosines are 4-dp
    * floor-quantized like every vector op here, and the drop rule
    * tie-breaks (cent_sim, vec_id) lexicographically.
    *
    * Scale notes (100 TB): centroid training is ONE (label, dim)-keyed
    * aggregation of the corpus with map-side partials, held driver-side as
    * a k-entry literal; the pair join is within-cluster only — candidate
    * volume is bounded by cell population like d6/d3, never n² — and the
    * drop set reduces per vec_id with partial agg. Run exact dedup (d1)
    * first on duplication-heavy corpora for the same cell-inflation reason
    * documented on [[embeddingNearDups]].
    */
  def semDedup(e: DataFrame, threshold: Double): DataFrame = {
    // label → (centroid, ‖centroid‖): the float·double dot is the native
    // DotProductFD, and the centroid norm folds driver-side in the same
    // left-to-right double order
    val cents = typedlit(seededCentroids(e).map { case (cell, c) =>
      cell -> (c, math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
    }.toMap)
    val cent = element_at(cents, col("label").cast("int"))
    val scored = e.select(col("label"), col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nv"), cent.as("cent"))
      .withColumn("cent_sim", floor(graft.functions.VectorFunctions.dot_fd(
          col("embedding"), col("cent._1")) / (col("nv") * col("cent._2"))
        * 10000.0 + 0.5) / 10000.0)
    val a = scored.select(col("label"), col("vec_id"), col("embedding").as("ea"),
      col("nv").as("na"), col("cent_sim").as("ca"))
    val b = scored.select(col("label"), col("vec_id").as("other_id"),
      col("embedding").as("eb"), col("nv").as("nb"), col("cent_sim").as("cb"))
    val dropped = a.join(b, Seq("label"))
      .filter(col("other_id") =!= col("vec_id"))
      .filter(cosinePre(col("ea"), col("eb"), col("na"), col("nb")) >= threshold)
      .filter(col("cb") < col("ca") ||
        (col("cb") === col("ca") && col("other_id") < col("vec_id")))
      .select(col("vec_id")).distinct()
      .withColumn("_drop", lit(true))
    scored.select(col("vec_id"), col("label"), col("cent_sim"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("cent_sim"),
        col("_drop").isNull.as("keep"))
  }

  /** B2 — semantic benchmark decontamination: the embedding-space complement
    * of t5's n-gram recipe. Every 97th vector stands in for the held-out
    * benchmark embedding set (mirroring t5's convention); a corpus vector is
    * contaminated when its best cosine against ANY benchmark vector reaches
    * 0.95. Reports the max similarity so the threshold can be re-swept
    * without recomputing.
    *
    * Scale notes (100 TB): the benchmark set is small by construction (eval
    * suites are thousands of rows, the corpus is billions), so it BROADCASTS
    * and the whole operator is a map-side scan — corpus norms computed once
    * below the join, one fused dot per (vector, benchmark) pair, then a
    * doc-keyed max with map-side partial agg. No corpus shuffle of
    * embeddings, nothing quadratic in the corpus.
    */
  def semanticDecontaminate(e: DataFrame): DataFrame = {
    val bench = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("bench_id"), col("embedding").as("be"),
        norm(col("embedding")).as("nb"))
    e.filter(col("vec_id") % 97 =!= 0)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nv"))
      .crossJoin(broadcast(bench))
      .select(col("vec_id"),
        cosinePre(col("embedding"), col("be"), col("nv"), col("nb")).as("sim"))
      .groupBy("vec_id")
      .agg(max(col("sim")).as("max_sim"))
      .withColumn("is_contaminated", col("max_sim") >= 0.95)
  }
}
