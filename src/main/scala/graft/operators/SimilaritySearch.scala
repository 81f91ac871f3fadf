package graft.operators

import graft.functions.VectorFunctions
import graft.util.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * - [[bruteForceTopK]]: the exact baseline — broadcast the query
  *   vector, one codegen'd scan computing cosine, `ORDER BY ... LIMIT k`
  *   (Spark's TakeOrderedAndProject: no global sort, per-partition
  *   top-k + driver merge).
  * - [[lshTopK]]: the scale path — random-hyperplane signatures prune
  *   the scan to vectors within `maxHamming` bits of the query's
  *   signature before exact cosine. Signatures are per-row arithmetic;
  *   at 100 TB the win comes from skipping the dot product (64 mults)
  *   for the ~(1 - recall-band) of rows that fail the cheap popcount
  *   test, and from persisting signatures as a table column so repeated
  *   queries never rescan raw vectors.
  * - [[embeddingNearDupPairs]]: near-duplicate detection — bucket by
  *   full signature, verify candidates with exact cosine.
  */
object SimilaritySearch {

  /** Exact cosine top-k of `embeddings` vs the single row in `query`
    * (both with `idCol` + `vecCol`). Returns (id, cos) descending.
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = query.select(col(vecCol).as("__qv"))
    embeddings
      .crossJoin(broadcast(q))
      .select(col(idCol), VectorFunctions.cosine(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** LSH-pruned cosine top-k: only vectors whose hyperplane signature is
    * within `maxHamming` bits of the query's signature get an exact
    * cosine. Recall < 1 by construction; raise `maxHamming` or `bits`
    * to trade cost for recall.
    */
  def lshTopK(
      embeddings: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 32,
      maxHamming: Int = 8,
      seed: Int = 41): DataFrame = {
    val q = query.select(
      col(vecCol).as("__qv"),
      VectorFunctions.hyperplaneSignature(col(vecCol), bits, seed).as("__qsig"))
    // spread-to-cores is CONDITIONAL (TextDedup.spreadToCores): a
    // many-partition corpus flows through with no exchange — the
    // signature filter runs directly over the scan
    TextDedup.spreadToCores(embeddings)
      .withColumn("__sig", VectorFunctions.hyperplaneSignature(col(vecCol), bits, seed))
      .crossJoin(broadcast(q))
      .filter(VectorFunctions.hammingDistance(col("__sig"), col("__qsig")) <= maxHamming)
      .select(col(idCol), VectorFunctions.cosine(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Hard-negative mining for contrastive training: for EACH query
    * vector, the top-k most-similar corpus vectors whose label
    * DIFFERS from the query's — the "looks alike, isn't" examples a
    * triplet/InfoNCE trainer wants, mined corpus-wide instead of
    * sampled in-batch.
    *
    * Scale shape: the query set broadcasts (it is the bounded side by
    * construction — a training batch, not the corpus), ONE corpus
    * scan scores every (query, candidate) pair with the codegen'd
    * cosine, and the per-query top-k runs as a window partitioned by
    * query id — nq · corpus scored rows shuffle on query id, the
    * brute-force-per-query baseline exactly like [[bruteForceTopK]]
    * repeated, amortized into one scan. For corpus-scale query sets,
    * mine through the IVF/PQ index instead.
    *
    * @return (query_id, neg_id, neg_label, cos, rank), rank 1..k by
    *         descending cosine (ties by candidate id)
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      cosineFn: (Column, Column) => Column = VectorFunctions.cosine): DataFrame = {
    require(k > 0, "k must be positive")
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qv"),
      col(labelCol).as("__qlabel"))
    val scored = TextDedup.spreadToCores(corpus)
      .crossJoin(broadcast(q))
      .filter(col(labelCol) =!= col("__qlabel") && col(idCol) =!= col("query_id"))
      .select(
        col("query_id"),
        col(idCol).as("neg_id"),
        col(labelCol).as("neg_label"),
        cosineFn(col(vecCol), col("__qv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neg_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-source top-k from a directed scored candidate edge table
    * (src, dst, sim): rank 1..k by sim descending, ties by dst — the
    * ranking half of [[mutualKnnGraph]], factored out so bucketed
    * candidate generators (LSH bands, IVF lists, [[IvfAnn]] probes)
    * can feed it at corpus scale instead of the exact all-pairs table.
    */
  def knnFromCandidates(candidates: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst"))
    candidates
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("src"), col("dst"), col("sim"))
  }

  /** Mutual k-nearest-neighbor graph: the edge (a, b) survives iff b
    * is in a's top-k AND a is in b's top-k — the standard
    * noise-robust neighborhood graph (one-directional nearness is
    * usually a hub artifact; mutuality kills hub edges), the input
    * representation for graph-based dedup clustering and diversity
    * analysis.
    *
    * This form scores the exact all-pairs table with ONE corpus scan
    * against a broadcast of the node set, so it is for BOUNDED node
    * sets (a selection batch, a cluster's members — the `nodes` side
    * must fit in a broadcast). At corpus scale generate candidate
    * edges from LSH/IVF buckets and feed [[knnFromCandidates]] +
    * [[mutualEdges]] directly — same semantics, bucketed cost.
    *
    * @return (id_a, id_b, sim), id_a < id_b, one row per mutual pair
    */
  def mutualKnnGraph(
      nodes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      simFn: (Column, Column) => Column = VectorFunctions.cosine,
      maxBroadcastNodes: Int = 1 << 20,
      knownNodeCount: Option[Long] = None): DataFrame = {
    // guard the silent failure mode: this path BROADCASTS the node set,
    // so past executor-broadcast size it dies mid-job with an opaque
    // OOM. The limit-bounded count costs one cheap CollectLimit job and
    // turns that into an actionable error BEFORE the n² scan starts.
    // Callers that already hold the size (composed pipelines invoking
    // this repeatedly on a counted frame) pass it via `knownNodeCount`
    // and skip the job entirely.
    val n = knownNodeCount.getOrElse(nodes.limit(maxBroadcastNodes + 1).count())
    require(n <= maxBroadcastNodes,
      s"mutualKnnGraph broadcasts the node set, but it exceeds " +
        s"$maxBroadcastNodes rows — build an IVF index and call " +
        "mutualKnnGraphAnn (same semantics, list-bucketed candidates, " +
        "nothing broadcast)")
    val a = nodes.select(col(idCol).as("src"), col(vecCol).as("__vs"))
    val b = nodes.select(col(idCol).as("dst"), col(vecCol).as("__vd"))
    val cand = TextDedup.spreadToCores(a)
      .crossJoin(broadcast(b))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), simFn(col("__vs"), col("__vd")).as("sim"))
    mutualEdges(knnFromCandidates(cand, k))
  }

  /** ANN-backed mutual k-NN graph: candidates come from a trained IVF
    * index's inverted lists instead of the all-pairs broadcast. Each
    * node probes its `nprobe` nearest lists per-row inside codegen
    * ([[IvfAnn.probeListsCol]] — no driver round-trip) and meets only
    * the nodes ASSIGNED to those lists, so candidate generation is a
    * join keyed by list id — a co-partitioned shuffle of
    * ~`nprobe/nlist` of the all-pairs volume, with NOTHING broadcast
    * and no side that must fit anywhere. This is the corpus-scale
    * composition [[mutualKnnGraph]]'s scaladoc promises: the same
    * [[knnFromCandidates]] + [[mutualEdges]] semantics over a bucketed
    * candidate set. Recall < 1 by construction (a true neighbor
    * assigned to an unprobed list is missed); raise `nprobe` to trade
    * cost for recall — with every list probed the result equals the
    * brute-force graph exactly (spec-gated).
    *
    * @return (id_a, id_b, sim), id_a < id_b, one row per mutual pair
    */
  def mutualKnnGraphAnn(
      index: IvfAnn.Index,
      k: Int,
      nprobe: Int,
      simFn: (Column, Column) => Column = VectorFunctions.cosine): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    val probing = index.assigned.select(
      col("__id").as("src"), col("__vec").as("__vs"),
      explode(IvfAnn.probeListsCol(col("__vec"), index.centroids, nprobe))
        .as("__pl"))
    val members = index.assigned.select(
      col("__id").as("dst"), col("__vec").as("__vd"), col("__list").as("__pl"))
    val cand = probing.join(members, Seq("__pl"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), simFn(col("__vs"), col("__vd")).as("sim"))
    mutualEdges(knnFromCandidates(cand, k))
  }

  /** Undirected mutual edges of a directed (src, dst, sim) edge set:
    * (a, b) with a < b survives iff both directions are present. One
    * self-join keyed by the (reversed) pair — the directed edge table
    * is k·|nodes| rows, never corpus-sized.
    */
  private def mutualEdges(directed: DataFrame): DataFrame = {
    val e = directed.select(col("src"), col("dst"), col("sim"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    e.join(rev, Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("sim"))
  }

  /** Greedy Maximal Marginal Relevance selection (Carbonell &
    * Goldstein 1998) on an exact integer grid: pick `k` vectors
    * maximizing `num·rel − (den−num)·maxSimToSelected` — the
    * diversity-aware data-selection step (take the most
    * query-relevant examples WITHOUT taking five copies of the same
    * one). λ = num/den as an exact rational keeps every score an
    * integer, so the argmax replays across engines.
    *
    * Scale shape: relevance is ONE corpus scan against the broadcast
    * query vector, persisted; the max-similarity-to-selected column is
    * maintained INCREMENTALLY (each round folds exactly one new cosine
    * — the newest pick's — into a running `greatest`, so total work is
    * k · |candidates| cosines, not the k²/2 of recomputing the max
    * against every selected vector every round); each round's collect
    * is exactly ONE row. `k` is a selection-batch size by
    * construction, not corpus-scaled; for corpus-scale selection use
    * [[mmrSelectSharded]], which runs this greedy independently per
    * deterministic shard with zero driver loops over the total.
    *
    * @return (rank, id, rel_micro, score_micro) — rank 1..k in
    *         selection order
    */
  def mmrSelect(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      lambdaNum: Long = 1L,
      lambdaDen: Long = 2L): DataFrame = {
    require(k > 0, "k must be positive")
    require(lambdaNum > 0 && lambdaDen >= lambdaNum,
      "lambda must be a rational in (0, 1]")
    val spark = corpus.sparkSession
    val simMicro: (Column, Column) => Column = (a, b) =>
      floor(VectorFunctions.cosineDecimal(a, b) * lit(1e6)).cast("long")
    val penalty = lambdaDen - lambdaNum
    // __ms seeds BELOW the µ-grid floor (cosines live in
    // [-1000000, 1000000]) so the first fold leaves the RAW maximum —
    // the paper's max over the selected set, which is negative for a
    // candidate anti-similar to everything picked (a diversity BONUS a
    // zero seed would clamp away); round 1 never reads it (pure
    // relevance by construction, no penalty term exists yet)
    var cur = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"),
        simMicro(col(vecCol), typedLit(query)).as("rel_micro"),
        lit(-1000001L).as("__ms"))
      .persist()
    var selected = Vector.empty[(Long, Seq[Float], Long, Long)]
    // each round's frame stays cached until the end: the chain is k
    // tiny candidate projections, and dropping a parent mid-loop would
    // force an extra materialization job per round just to protect the
    // child's lineage — ONE job per round (the argmax collect) is the
    // floor, and this hits it
    var cached = Vector(cur)
    for (r <- 1 to k) {
      val scoreCol =
        if (r == 1) col("rel_micro") * lit(lambdaNum)
        else col("rel_micro") * lit(lambdaNum) - col("__ms") * lit(penalty)
      val best = cur
        .select(col("id"), col("__v"), col("rel_micro"), scoreCol.as("__score"))
        .orderBy(col("__score").desc, col("id").asc)
        .limit(1)
        .collect()(0)
      selected :+= ((best.getLong(0), best.getSeq[Float](1).toSeq,
        best.getLong(2), best.getLong(3)))
      if (r < k) {
        val pickedVec = selected.last._2
        cur = cur
          .filter(col("id") =!= selected.last._1)
          .withColumn("__ms",
            greatest(col("__ms"), simMicro(col("__v"), typedLit(pickedVec))))
          .persist()
        cached :+= cur
      }
    }
    cached.foreach(_.unpersist(blocking = false))
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, _, rel, score), i) => (i + 1, id, rel, score) }
      .toDF("rank", "id", "rel_micro", "score_micro")
  }

  /** Corpus-scale sharded greedy MMR — the bucketed form [[mmrSelect]]'s
    * contract points large selections at: candidates are assigned to
    * `numShards` deterministic shards and the SAME µ-grid greedy
    * (score = num·rel − (den−num)·maxSimToSelected, ties by id) runs
    * independently within every shard, so selecting n-of-N means
    * n = numShards · kPerShard with per-shard batches bounded.
    *
    * Scale shape — the loop is over `kPerShard` (a per-shard batch
    * size, a CONSTANT), never over the corpus-scaled total selection:
    * every round picks ALL shards' next exemplars at once with one
    * row_number window per round over the shard partitioning (paid as
    * ONE up-front repartition the persisted rounds then reuse), and
    * folds exactly one new cosine per surviving candidate — the own
    * shard's newest pick — into the running max via a join on shard
    * (the pick table is one row per shard; AQE broadcasts it while it
    * fits and shuffles only that side when it does not). There are
    * ZERO collects and zero driver loops whose trip count grows with
    * the corpus or with `numShards` — MmrShardedSpec asserts the job
    * count is flat as shards scale.
    *
    * Shard assignment defaults to `xxhash64(id) mod numShards`;
    * `shardBy` overrides it (the oracle-gated row passes the portable
    * md5 grid so DuckDB replays the assignment).
    *
    * @return (shard, rank, id, rel_micro, score_micro) — rank
    *         1..kPerShard in selection order within each shard; shards
    *         with fewer candidates than `kPerShard` yield fewer rows
    */
  def mmrSelectSharded(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      kPerShard: Int,
      numShards: Int,
      lambdaNum: Long = 1L,
      lambdaDen: Long = 2L,
      shardBy: Option[Column] = None): DataFrame = {
    require(kPerShard > 0 && numShards > 0, "kPerShard and numShards must be positive")
    require(lambdaNum > 0 && lambdaDen >= lambdaNum,
      "lambda must be a rational in (0, 1]")
    val simMicro: (Column, Column) => Column = (a, b) =>
      floor(VectorFunctions.cosineDecimal(a, b) * lit(1e6)).cast("long")
    val penalty = lambdaDen - lambdaNum
    val shard = shardBy.getOrElse(pmod(xxhash64(col(idCol)), lit(numShards.toLong)))
    // __ms seeded below the µ-grid floor — the raw-max seed, see
    // [[mmrSelect]]
    var cur = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"),
        shard.cast("long").as("shard"),
        simMicro(col(vecCol), typedLit(query)).as("rel_micro"),
        lit(-1000001L).as("__ms"))
      .repartition(col("shard"))
      .persist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__score").desc, col("id").asc)
    var picks = Vector.empty[DataFrame]
    var cached = Vector(cur)
    for (r <- 1 to kPerShard) {
      val scoreCol =
        if (r == 1) col("rel_micro") * lit(lambdaNum)
        else col("rel_micro") * lit(lambdaNum) - col("__ms") * lit(penalty)
      val picked = cur
        .withColumn("__score", scoreCol)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("shard"), lit(r).as("rank"), col("id"), col("__v"),
          col("rel_micro"), col("__score").as("score_micro"))
        .persist()
      picks :+= picked
      if (r < kPerShard) {
        cur = cur
          .join(picked.select(col("shard"), col("id").as("__pid"), col("__v").as("__pv")),
            Seq("shard"))
          .filter(col("id") =!= col("__pid"))
          .withColumn("__ms", greatest(col("__ms"), simMicro(col("__v"), col("__pv"))))
          .select(col("id"), col("__v"), col("shard"), col("rel_micro"), col("__ms"))
          .persist()
        cached :+= cur
      }
    }
    val out = picks.map(_.drop("__v")).reduce(_ unionByName _)
    val result = Staged.materialized(out, Nil)
    (cached ++ picks).foreach(_.unpersist(blocking = false))
    result
  }

  /** k-NN label classification: predict each query vector's label by
    * majority vote of its k nearest corpus neighbors (ties by label
    * ascending — fully deterministic) — the cheap labeler/auditor for
    * embedding spaces (held-out accuracy doubles as an
    * embedding-quality metric).
    *
    * Scale shape: the query set broadcasts (a labeling batch, bounded
    * by construction), ONE corpus scan scores all (query, candidate)
    * pairs, per-query ranks and votes are windows/aggregations keyed
    * by query id. For corpus-sized query sets route candidates
    * through the IVF/LSH index into [[knnFromCandidates]].
    *
    * @return (query_id, predicted_label, n_votes)
    */
  def knnClassify(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      simFn: (Column, Column) => Column = VectorFunctions.cosine,
      prefilterPool: Int = 0,
      prefilterMargin: Double = 0.0): DataFrame = {
    require(k > 0, "k must be positive")
    require(prefilterPool == 0 || prefilterPool >= k,
      "prefilterPool must be 0 (off) or >= k")
    require(prefilterMargin >= 0.0, "prefilterMargin must be >= 0")
    require(prefilterMargin == 0.0 || prefilterPool > 0,
      "prefilterMargin needs the prefilter enabled (prefilterPool > 0)")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val joined = TextDedup.spreadToCores(corpus)
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
    // Two-stage gate (the ann_quantized_rerank / knn_graph_ann
    // pattern): when simFn is an expensive exact kernel (the decimal
    // µ-grid), rank candidates per query with the NATIVE double cosine
    // first and keep a pool; the exact kernel then scores only
    // pool-sized rows.
    //
    // EXACTNESS CONTRACT. The POSITIONAL form (margin 0) bounds
    // exactness by depth: a decimal-vs-double rank inversion deeper
    // than `prefilterPool − k` positions would change the gated top-k
    // — a heuristic (pool >= 10·k holds on non-degenerate data; the
    // oracle gates hash-verify the composition per fixture). The
    // MARGIN form (`prefilterMargin = ε > 0`) makes the bound
    // EXPLICIT instead of positional: every candidate whose double
    // cosine is within ε of the k-th best double cosine survives, so
    // the exact kernel sees every candidate that could rank top-k
    // unless the two kernels disagree by more than ε on some pair —
    // choose ε >= 2·(double-vs-decimal per-pair divergence bound,
    // i.e. the µ-grid quantization step plus IEEE rounding) and the
    // top-k set is provably exact, at the cost of an unbounded (data-
    // dependent, near-tie-shaped) candidate pool.
    val candidates =
      if (prefilterPool <= 0) joined
      else {
        val dcos = VectorFunctions.cosine(col(vecCol), col("__qv"))
        val wp = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(dcos.desc, col(idCol).asc)
        val ranked = joined
          .withColumn("__dcos", dcos)
          .withColumn("__prk", row_number().over(wp))
        if (prefilterMargin > 0.0) {
          // the k-th best double cosine per query (null when a query
          // has fewer than k candidates — then everything is kept)
          val wq = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          ranked
            .withColumn("__kth",
              max(when(col("__prk") === k, col("__dcos"))).over(wq))
            .filter(col("__kth").isNull ||
              col("__dcos") >= col("__kth") - lit(prefilterMargin))
            .drop("__prk", "__dcos", "__kth")
        } else {
          ranked.filter(col("__prk") <= prefilterPool).drop("__prk", "__dcos")
        }
      }
    val scored = candidates
      .select(col("query_id"), col(idCol).as("__cand"),
        col(labelCol).as("__lbl"), simFn(col(vecCol), col("__qv")).as("__sim"))
    majorityVoteTopK(scored, k)
  }

  /** Shared vote tail of the k-NN classifiers: rank scored candidates
    * per query, keep the top k, majority-vote their labels. Vote ties
    * break on the label's NATURAL ascending order (works for string
    * labels too — no numeric cast): minimize the lexicographic
    * (-votes, label) pair. Input: (query_id, __cand, __lbl, __sim).
    */
  private def majorityVoteTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("__cand"))
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .groupBy(col("query_id"), col("__lbl"))
      .agg(count(lit(1)).as("__votes"))
      .groupBy(col("query_id"))
      .agg(
        min_by(col("__lbl"), struct((-col("__votes")).as("__nv"), col("__lbl")))
          .as("predicted_label"),
        max(col("__votes")).cast("long").as("n_votes"))
  }

  /** ANN-backed k-NN classification — the corpus-scale route
    * [[knnClassify]]'s scaladoc promises for corpus-sized query sets:
    * each query probes its `nprobe` nearest IVF lists per-row inside
    * codegen ([[IvfAnn.probeListsCol]] — no driver round-trip) and
    * meets only the corpus vectors ASSIGNED to those lists, so
    * candidate generation is a join keyed by list id (~`nprobe/nlist`
    * of the brute-force volume, nothing broadcast, no side that must
    * fit anywhere); the same majority-vote tail runs over the bucketed
    * candidates. Recall < 1 by construction — a true neighbor in an
    * unprobed list is missed; raise `nprobe` to trade cost for recall.
    *
    * @param labels (labelIdCol, labelCol) for the INDEXED corpus —
    *               joined onto candidates after the top-k cut, so the
    *               label table is touched k-per-query rows, not
    *               candidate-volume rows
    * @return (query_id, predicted_label, n_votes)
    */
  def knnClassifyAnn(
      index: IvfAnn.Index,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labels: DataFrame,
      labelIdCol: String,
      labelCol: String,
      k: Int,
      nprobe: Int,
      simFn: (Column, Column) => Column = VectorFunctions.cosine): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    val probing = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      explode(IvfAnn.probeListsCol(col(vecCol), index.centroids, nprobe)).as("__pl"))
    val members = index.assigned.select(
      col("__id").as("__cand"), col("__vec").as("__vd"), col("__list").as("__pl"))
    val cand = probing.join(members, Seq("__pl"))
      .filter(col("__cand") =!= col("query_id"))
      .select(col("query_id").as("src"), col("__cand").as("dst"),
        simFn(col("__qv"), col("__vd")).as("sim"))
    val topk = knnFromCandidates(cand, k)
    val scored = topk
      .join(labels.select(col(labelIdCol).as("dst"), col(labelCol).as("__lbl")), "dst")
      .select(col("src").as("query_id"), col("dst").as("__cand"),
        col("__lbl"), col("sim").as("__sim"))
    majorityVoteTopK(scored, k)
  }

  /** Label-noise detector: vectors whose squared distance to their
    * OWN label's centroid exceeds `factor`x the label's mean squared
    * distance — the mislabeled-or-outlier audit beside
    * [[groupScatter]]. Entirely exact: coordinates ride the µ-grid,
    * the centroid never materializes (the comparison uses
    * `Σ_d (n·q_d − S_d)²`, the n²-scaled distance, so no division
    * anywhere), and the flag is the cross-multiplied integer
    * inequality `n·D_i > factor·ΣD`.
    *
    * Scale shape: one posexplode + (label, dim) sum aggregation (tiny
    * output), joined back broadcast-or-hash on the label; the per-row
    * distance is one fold over the vector; the mean side is one more
    * label-sized aggregation. Two scans of the vector column total.
    *
    * @return (id, label, dist_sq) for flagged rows — dist_sq in
    *         original units, rounded to 4
    */
  def labelOutliers(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      factor: Int = 4): DataFrame = {
    require(factor > 0, "factor must be positive")
    val g = TopicAssign.GridScale
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val quant = df.select(col(idCol).as("__id"), col(labelCol).as("__lbl"),
      transform(col(vecCol), x => floor(x.cast("double") * g).cast("long")).as("__q"))
      .persist()
    val sums = quant
      .select(col("__lbl"), posexplode(col("__q")).as(Seq("__d", "__qv")))
      .groupBy(col("__lbl"), col("__d"))
      .agg(count(lit(1)).as("__n"), sum(col("__qv")).as("__s"))
    val centroids = sums.groupBy(col("__lbl"))
      .agg(max(col("__n")).as("__n"),
        // dim-aligned sum vector: sort the (dim, sum) pairs, project
        transform(array_sort(collect_list(struct(col("__d"), col("__s")))),
          e => e.getField("__s")).as("__sv"))
    val dists = quant.join(centroids, "__lbl")
      .select(col("__id"), col("__lbl"), col("__n"),
        aggregate(
          zip_with(col("__q"), col("__sv"),
            (qd, sd) => dec(col("__n") * qd - sd) * dec(col("__n") * qd - sd)),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"),
          (acc, x) => acc + x).as("__d2"))
      .persist()
    val means = dists.groupBy(col("__lbl"))
      .agg(sum(col("__d2")).as("__sum_d2"), count(lit(1)).as("__cnt"))
    val out = dists.join(means, "__lbl")
      .filter(dec(col("__cnt")) * col("__d2") > lit(factor) * col("__sum_d2"))
      .select(col("__id").as(idCol), col("__lbl").as(labelCol),
        round(col("__d2").cast("double") /
          (col("__n") * col("__n")).cast("double") / lit(g.toDouble * g.toDouble), 4)
          .as("dist_sq"))
    Staged.materialized(out, Seq(quant, dists))
  }

  /** Per-group within-class scatter of an embedding column: the trace
    * of the biased covariance, `(1/n)·Σ‖x‖² − ‖mean‖²` — the
    * label-cohesion scalar an embedding-quality audit reads next to
    * [[groupCentroidSimilarity]] (tight labels separate; a scatter
    * spike flags label noise or collapsed embeddings).
    *
    * Exactness: coordinates quantize to the µ-grid
    * ([[TopicAssign.GridScale]] — the kmeans/topic-assign convention),
    * so per-(group, dim) sums and squared sums are exact longs, the
    * per-dim `n·Σq² − (Σq)²` terms are exact decimals (cast BEFORE the
    * 38-digit products), and their dim-sum is exact in any order; ONE
    * double division at the edge.
    *
    * Scale shape: one posexplode + a map-combinable (group, dim)
    * aggregation (output groups × dims — tiny) + a groups-sized
    * reduce. One corpus scan.
    *
    * @return (group, n_vectors, scatter) — scatter rounded to 6
    */
  def groupScatter(
      df: DataFrame,
      groupCol: String,
      vecCol: String): DataFrame = {
    val g = TopicAssign.GridScale
    val dims = df
      .select(col(groupCol).as("group"),
        posexplode(transform(col(vecCol),
          x => floor(x.cast("double") * g).cast("long"))).as(Seq("__d", "__q")))
      .groupBy(col("group"), col("__d"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__q")).as("__sq"),
        sum(col("__q") * col("__q")).as("__sqq"))
    val dec = (c: Column) => c.cast("decimal(19,0)")
    dims
      .groupBy(col("group"))
      .agg(max(col("__n")).as("__n"),
        sum(dec(col("__n")) * dec(col("__sqq")) - dec(col("__sq")) * dec(col("__sq")))
          .as("__scatter"))
      .select(col("group"), col("__n").cast("long").as("n_vectors"),
        round(col("__scatter").cast("double") /
          (col("__n") * col("__n")).cast("double") / lit(g.toDouble * g.toDouble), 6)
          .as("scatter"))
  }

  /** Group-centroid similarity map: the pairwise cosine between the
    * MEAN embedding of every group (label, source, domain…) — the
    * corpus-analysis table mixture design reads ("which domains are
    * semantically close?"). Uses the identity cos(mean_a, mean_b) =
    * cos(sum_a, sum_b) (the 1/n factors cancel), so only exact
    * decimal coordinate SUMS are ever computed — no division until
    * the final cosine, which keeps the whole thing SQL-replayable.
    *
    * Scale shape: one posexplode + map-combinable decimal sum whose
    * output is (groups × dims) — tiny; the pairwise stage joins the
    * centroid table to itself on position (groups², still tiny). The
    * corpus is scanned exactly once.
    *
    * @return (group_a, group_b, cos), group_a < group_b, cosine of
    *         the two group centroids (raw double; round at the edge)
    */
  def groupCentroidSimilarity(
      df: DataFrame,
      groupCol: String,
      vecCol: String): DataFrame = {
    val sums = df
      .select(col(groupCol).as("__g"), posexplode(col(vecCol)).as(Seq("__p", "__x")))
      .groupBy(col("__g"), col("__p"))
      .agg(sum(col("__x").cast("double").cast("decimal(28,14)")).as("__sx"))
      .select(col("__g"), col("__p"), col("__sx").cast("double").as("__sx"))
    val a = sums.select(col("__g").as("group_a"), col("__p"), col("__sx").as("__xa"))
    val b = sums.select(col("__g").as("group_b"), col("__p"), col("__sx").as("__xb"))
    a.join(b, Seq("__p"))
      .filter(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(
        sum((col("__xa") * col("__xb")).cast("decimal(30,14)")).as("__dot"),
        sum((col("__xa") * col("__xa")).cast("decimal(30,14)")).as("__na"),
        sum((col("__xb") * col("__xb")).cast("decimal(30,14)")).as("__nb"))
      .select(col("group_a"), col("group_b"),
        (col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double")))).as("cos"))
  }

  /** Embedding near-duplicate pairs: vectors sharing the full `bits`-bit
    * hyperplane signature are candidates; exact cosine must clear
    * `minCosine`. Returns (id_a, id_b, cos), id_a < id_b.
    *
    * Scale guards (same pattern as [[graft.operators.TextDedup
    * .minhashCandidatePairs]]): signature buckets over the
    * `maxBucketPairs` pair budget are dropped — a popular signature (a
    * near-dup cluster, zero vectors, low-entropy embeddings) is
    * m(m−1)/2 pairs and is a duplicate *group*, not a pair problem —
    * and the bucket self-join carries ids only; the full vectors join
    * back exactly once per surviving distinct pair instead of riding
    * both sides of the bucket shuffle.
    *
    * Eagerly materialized; the returned DataFrame is persisted and the
    * intermediate cache released.
    */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int = 16,
      minCosine: Double = 0.95,
      seed: Int = 41,
      maxBucketPairs: Long = TextDedup.defaultBucketPairBudget,
      cosineFn: (Column, Column) => Column = VectorFunctions.cosine): DataFrame = {
    // persist: signatures would otherwise be recomputed on both join sides
    val sigs = TextDedup.spreadToCores(embeddings)
      .select(
        col(idCol).as("id"),
        col(vecCol).as("vec"),
        VectorFunctions.hyperplaneSignature(col(vecCol), bits, seed).as("sig"))
      .persist()
    val idsig = sigs.select(col("sig"), col("id"))
    val bucketSizes = idsig.groupBy(col("sig"))
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(TextDedup.withinPairBudget(col("__bucket_n"), maxBucketPairs))
      .drop("__bucket_n")
    val bounded = idsig.join(bucketSizes, Seq("sig"))
    val a = bounded.select(col("sig"), col("id").as("id_a"))
    val b = bounded.select(col("sig"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val result = candidates
      .join(sigs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosineFn(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= minCosine)
    Staged.materialized(result, Seq(sigs))
  }
}
