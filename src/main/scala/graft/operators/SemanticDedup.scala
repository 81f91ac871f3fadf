package graft.operators

import graft.functions.VectorFunctions
import graft.util.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space with k-means, then
  * search for near-duplicate pairs ONLY within each cluster — the
  * cluster assignment bounds the quadratic pair search the way LSH
  * bands bound [[TextDedup.minhashCandidatePairs]]. No counterpart in
  * the reference (kafka2delta has no embedding surface); this is the
  * LLM-pipeline extension tier next to
  * [[SimilaritySearch.embeddingNearDupPairs]] (signature-bucketed) —
  * SemDeDup trades the signature's exact-collision recall for
  * semantic buckets a trained quantizer already provides, and reuses
  * the [[KMeansTrain]] / [[IvfAnn]] centroid artifacts.
  *
  * Determinism contract: assignment is [[KMeansTrain.assignedQ]]'s
  * exact integer argmin on the µ-grid (ties to the lower cluster id)
  * and the verify cosine is caller-injectable — the gated query
  * passes the decimal-accumulated round-3 form, so every stage
  * (training via unrolled Lloyd CTEs, assignment, the in-cluster
  * pair set, the cosine threshold) replays bit-for-bit in SQL.
  *
  * Scale shape (the 100 TB story): one stateless assignment scan
  * (closure-shipped k·d centroid matrix — no join), one shuffle of
  * (cluster, id) pairs keyed by cluster, a size-guarded in-cluster
  * id-only self-join (clusters above `maxClusterSize` are dropped:
  * with k sized ~N/1000 a compliant cluster is bounded work, and an
  * oversized one means the quantizer needs more centroids, not that
  * the pair join should melt), and the full vectors ride the join
  * back exactly once per surviving candidate pair — never through
  * the cluster shuffle. SemDeDup's own recall caveat applies: pairs
  * straddling a cluster boundary are unseen by construction.
  */
object SemanticDedup {

  /** k sized to the corpus: one cluster per `targetMeanClusterSize`
    * vectors, clamped to [8, 65536]. SemDeDup's pair search is
    * quadratic WITHIN a cluster, so the mean cluster size — not k
    * itself — is the cost knob; the sf1 rehearsal measured the knee
    * at ~300 vectors/cluster (k=64 over 20k vectors: 8.8 s, vs
    * 42.6 s at k=8 — NOTES.md round 8). Callers that pick k by hand
    * below `sizedK(n)` get the [[nearDupPairs]] oversize warning.
    */
  def sizedK(n: Long, targetMeanClusterSize: Int = 300): Int = {
    require(targetMeanClusterSize > 0, "targetMeanClusterSize must be positive")
    math.max(8L, math.min(65536L, n / targetMeanClusterSize)).toInt
  }

  /** Within-cluster near-duplicate candidate pairs:
    * (cluster, id_a, id_b, cos) with id_a < id_b and
    * `cos >= minCosine`. Eagerly materialized (the
    * [[graft.util.Staged.materialized]] lifecycle).
    */
  /** Broadcast the vector join-backs only while `rows * dim * 8`
    * bytes (8 = float payload + array/row overhead, measured ~2x
    * slack on 64-dim float rows) fits the budget: the former ROW
    * limit (400k) was "~100 MB" only at the fixture's 64 dims — at
    * production embedding widths (768–4096) the same row count is
    * 1.2–13 GiB, an executor-OOM broadcast the limit would have
    * approved (r17 review #5). Pure driver arithmetic, spec-gated by
    * [[SemanticDedupSpec]]'s wide-vector case.
    */
  private[graft] def shouldBroadcastVectors(
      rows: Long, dim: Int, byteBudget: Long): Boolean =
    dim >= 0 && rows * math.max(dim, 1).toLong * 8L <= byteBudget

  def nearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Long])],
      minCosine: Double = 0.98,
      maxClusterSize: Int = 10000,
      cosineFn: (Column, Column) => Column = VectorFunctions.cosine,
      prefilterMin: Option[Double] = None,
      broadcastVectorBytes: Long = 256L << 20): DataFrame = {
    // persist: the assignment scan feeds the id-only pair join AND the
    // two vector join-backs; without it the corpus re-assigns 3x
    val assigned = TextDedup.spreadToCores(corpus)
      .select(
        col(idCol).as("id"),
        col(vecCol).as("vec"),
        KMeansTrain.assignedQ(TopicAssign.quantize(col(vecCol)), centroids).as("cluster"))
      .persist()
    val ids = assigned.select(col("cluster"), col("id"))
    // One k-row aggregation feeds the size guard AND the oversize
    // check: if vectors-per-cluster averages above maxClusterSize/2
    // the quantizer is undersized for this corpus (k should be
    // ~sizedK(n)) and the quadratic in-cluster search is about to do
    // avoidable work — warn loudly rather than melt silently.
    val sizes = ids.groupBy(col("cluster")).agg(count(lit(1)).as("__n")).persist()
    val stats = sizes.agg(sum(col("__n")).as("t"), count(lit(1)).as("k")).head()
    val (total, k) = (stats.getAs[Long]("t"), stats.getAs[Long]("k"))
    if (k > 0 && total / k > maxClusterSize / 2)
      Console.err.println(
        s"[graft] SemanticDedup: mean cluster size ${total / k} exceeds " +
          s"maxClusterSize/2 (${maxClusterSize / 2}) — k=$k is undersized for " +
          s"$total vectors; size it ~SemanticDedup.sizedK(n)=${sizedK(total)} " +
          "or oversized clusters will be dropped by the guard")
    val boundedClusters = sizes
      .filter(col("__n") <= maxClusterSize)
      .drop("__n")
    val bounded = ids.join(boundedClusters, Seq("cluster"))
    val pairs = bounded.select(col("cluster"), col("id").as("id_a"))
      .join(bounded.select(col("cluster"), col("id").as("id_b")), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
    // Join-back strategy is STAT-DRIVEN with a count this plan already
    // paid for: while the vector table's estimated BYTES (rows x dim,
    // dim read from one row of the persisted assignment — a bounded
    // probe) fit `broadcastVectorBytes`, it broadcasts, so the
    // O(pairs) side streams map-side — measured 4.9x CPU on the sf4
    // rehearsal, where Catalyst's static 10 MB estimate fell off the
    // broadcast cliff into a spilling shuffle join (r17 probe). Above
    // the budget the shuffle join is the RIGHT plan (a corpus-sized
    // broadcast would OOM the executors at 100 TB) and costs
    // O(pairs + corpus), linear.
    val dim =
      if (total == 0) 0
      else assigned.select(size(col("vec"))).head().getInt(0)
    val hint: DataFrame => DataFrame =
      if (shouldBroadcastVectors(total, dim, broadcastVectorBytes)) broadcast(_)
      else identity
    val carried = pairs
      .join(hint(assigned.select(col("id").as("id_a"), col("vec").as("vec_a"))), "id_a")
      .join(hint(assigned.select(col("id").as("id_b"), col("vec").as("vec_b"))), "id_b")
    // Two-stage scoring (the ann_quantized_rerank pattern): when
    // cosineFn is an expensive exact kernel (the interpreted decimal
    // grid), `prefilterMin` gates pairs with the NATIVE double cosine
    // first, so the exact kernel scores only near-threshold pairs
    // instead of every in-cluster pair (quadratic in cluster size —
    // the sf1 rehearsal's 577 s cold was ~25M decimal cosines; the
    // prefilter leaves the planted dups). The caller owns the slack:
    // pass the exact gate's EFFECTIVE lower bound minus a margin that
    // dwarfs double-vs-decimal divergence (~1e-15 on 64-term sums) —
    // e.g. a round-to-3dp exact gate at 0.98 passes cos >= 0.9795, so
    // prefilterMin = 0.9794 is 1e-4 of slack, six orders beyond IEEE.
    val prefiltered = prefilterMin match {
      case Some(m) =>
        carried.filter(VectorFunctions.cosine(col("vec_a"), col("vec_b")) >= lit(m))
      case None => carried
    }
    val scored = prefiltered
      .select(col("cluster"), col("id_a"), col("id_b"),
        cosineFn(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= minCosine)
    Staged.materialized(scored, Seq(assigned, sizes))
  }

  /** SemDeDup removal list: one row per document that has at least one
    * same-cluster near-duplicate with a LOWER id — the kept
    * representative of every duplicate set is its minimum id, the
    * same survivor rule as [[TextDedup.exactClusters]]. Returns
    * (id, cluster, dup_of, n_dups, cos_max) where `dup_of` is the
    * smallest lower-id duplicate and `n_dups` counts them.
    */
  def removalList(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Long])],
      minCosine: Double = 0.98,
      maxClusterSize: Int = 10000,
      cosineFn: (Column, Column) => Column = VectorFunctions.cosine,
      prefilterMin: Option[Double] = None,
      broadcastVectorBytes: Long = 256L << 20): DataFrame =
    nearDupPairs(corpus, idCol, vecCol, centroids, minCosine, maxClusterSize, cosineFn,
      prefilterMin, broadcastVectorBytes)
      .groupBy(col("id_b"))
      .agg(
        // id_b lives in exactly one cluster; min() only fixes the shape
        min(col("cluster")).as("cluster"),
        min(col("id_a")).as("dup_of"),
        count(lit(1)).as("n_dups"),
        max(col("cos")).as("cos_max"))
      .select(col("id_b").as("id"), col("cluster"), col("dup_of"),
        col("n_dups"), col("cos_max"))
}
