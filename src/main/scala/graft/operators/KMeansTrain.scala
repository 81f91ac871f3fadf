package graft.operators

import graft.sources.Store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over embedding columns — the
  * UNSUPERVISED twin of [[TopicAssign]] (which buckets against given
  * labels) and the native trainer for coarse quantizers like
  * [[IvfAnn]]'s centroid table: semantic clustering / topic discovery
  * over a corpus with no labels (reference capability: clustering a
  * seed corpus before routing, cf. kafka2delta's grouping surfaces —
  * no direct counterpart; this is the LLM-pipeline extension tier).
  *
  * Every number lives on [[TopicAssign.GridScale]]'s integer µ-grid:
  * seeds are chosen by a portable md5 order (no RNG), assignment is
  * the exact integer argmin ([[graft.functions.NearestCentroidL2]],
  * codegen'd, ties to the lower cluster id), and centroid updates are
  * `floor(sum/n)` on exact 64-bit cell sums. A fixed iteration count
  * therefore replays BIT-IDENTICALLY in any engine — the DuckDB
  * oracle unrolls the same iterations as CTEs and hash-matches the
  * final assignment (the same determinism contract as
  * `simsearch_quantized` / `topic_assign`).
  *
  * Scale shape (the 100 TB story): one iteration = one stateless
  * codegen'd per-row fold against the k·d closure-shipped matrix (no
  * join, no shuffle of the corpus) + one map-combinable (cluster,dim)
  * aggregation producing k·d cells + one BOUNDED k·d driver collect;
  * the next iteration broadcasts the refreshed matrix in the task
  * closure. The corpus is scanned `iters+1` times — `train` caches
  * the quantized projection for session-scale runs; a petabyte run
  * would persist it columnar once and reuse it (IvfAnn.save is the
  * in-repo pattern). Cell-sum bound: grid·rows per cell must stay
  * inside 2^53 for the floor division (10^6-grid × 10^9 rows ≈ 10^15
  * — inside; same documented bound as [[TopicAssign.labelCentroids]]).
  */
object KMeansTrain {

  /** Deterministic seed centroids: the `k` vectors with the smallest
    * `md5(cast(id as string))` (ties by id — impossible for distinct
    * ids, kept for contract clarity), assigned cluster ids 0..k-1 in
    * that order. Portable: any engine replays the same seeds.
    */
  def seedCentroids(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): Seq[(Int, Seq[Long])] = {
    require(k > 0, "k must be positive")
    vecs
      .select(col(idCol), TopicAssign.quantize(col(vecCol)).as("q"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](1)) }
      .toSeq
  }

  /** One Lloyd update: assign every quantized vector to its nearest
    * centroid, recompute each cluster's centroid as the per-dimension
    * `floor(mean)` on the grid. Clusters that captured no vectors keep
    * their previous centroid (the standard empty-cluster fallback,
    * and what makes the unrolled oracle total). `quantized` must have
    * an `array<long>` column named `q`.
    */
  def lloydStep(
      quantized: DataFrame,
      centroids: Seq[(Int, Seq[Long])]): Seq[(Int, Seq[Long])] = {
    val updated = quantized
      .select(assignedQ(col("q"), centroids).as("cl"),
        posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("cl"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("cl"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          floor(col("s").cast("double") / col("n")).cast("long").as("c")))),
        st => st.getField("c")).as("centroid"))
      .collect() // bounded: k rows of d longs
      .map(r => r.getInt(0) -> r.getSeq[Long](1))
      .toMap
    centroids.map { case (cl, old) => (cl, updated.getOrElse(cl, old)) }
  }

  /** Nearest-cluster id for an ALREADY-QUANTIZED `array<long>` column
    * — exact integer argmin, ties to the lower cluster id.
    */
  def assignedQ(q: Column, centroids: Seq[(Int, Seq[Long])]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val sorted = centroids.sortBy(_._1)
    val idx = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.NearestCentroidL2(
        org.apache.spark.sql.GraftColumnShim.expression(q),
        sorted.map(_._2)))
    // index -> cluster-id mapping. With k sized to the corpus
    // (SemanticDedup.sizedK, k ~ n/300) the former
    // `array(lit(id0), lit(id1), …)` built a k-element array PER ROW —
    // an O(n·k) allocation term independent of the argmin itself. The
    // trained id space is contiguous 0..k−1 (seedCentroids numbers
    // seeds that way and lloydStep preserves ids), so the mapping is
    // the identity and the index column is returned as-is; arbitrary
    // caller-provided id sets index ONE shared array literal
    // (typedlit — a single foldable object, not k expressions).
    val ids = sorted.map(_._1)
    if (ids == ids.indices) idx
    else element_at(typedlit(ids), idx + 1)
  }

  /** Exact integer squared distance from a quantized vector to a
    * FIXED centroid (the training-loss projection for the emitted
    * assignment — replayable, order-free).
    */
  private def distToQ(q: Column, centroid: Seq[Long]): Column =
    aggregate(
      zip_with(q, typedLit(centroid), (a, b) => (a - b) * (a - b)),
      lit(0L),
      (acc, x) => acc + x)

  /** Train `iters` Lloyd iterations from md5 seeds and return the
    * final centroids, cluster-id ascending.
    *
    * TRAINING INPUT IS SAMPLED above a floor (r16 review #3 — the
    * superlinear term in semantic_dedup's scale ladder): exact flat
    * Lloyd costs O(rows·k·d) per iteration, and with k sized to the
    * corpus (`SemanticDedup.sizedK`, k ∝ n) training on every row is
    * O(n²·d). Centroid QUALITY needs only a bounded number of rows
    * per centroid, so when the corpus exceeds
    * `max(sampleFloor, samplePerCentroid·k)` the Lloyd iterations run
    * on a deterministic hash-sample of that size (xxhash64 rate
    * filter — no RNG, any engine replays it) and the iteration cost
    * becomes O(k·d) per centroid — linear in n while k tracks n, and
    * bounded once k hits its cap. Corpora AT OR BELOW the threshold
    * train on every row, bit-identical to the pre-sampling contract —
    * the oracle-gated SFs (≤ ~2.2k vectors) sit far under the 32k
    * floor, so their unrolled Lloyd CTE replay is unchanged by
    * construction. Serving (assignment) always scans the full corpus
    * exactly once; only the training input is sampled.
    */
  def train(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      sampleFloor: Long = 32768,
      samplePerCentroid: Int = 16): Seq[(Int, Seq[Long])] = {
    require(iters >= 0, "iters must be non-negative")
    require(sampleFloor > 0 && samplePerCentroid > 0,
      "sample bounds must be positive")
    val targetRows = math.max(sampleFloor, samplePerCentroid.toLong * k)
    val n = vecs.count()
    val trainSet =
      if (n <= targetRows) vecs
      else {
        // expected-size hash sample on the id: deterministic, scan-local
        val permille = math.max(1L, 1000000L * targetRows / n)
        vecs.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) < lit(permille))
      }
    val quantized = trainSet
      .select(col(idCol), TopicAssign.quantize(col(vecCol)).as("q"))
      .persist()
    try {
      var cents = seedCentroids(trainSet, idCol, vecCol, k)
      var i = 0
      while (i < iters) { cents = lloydStep(quantized, cents); i += 1 }
      cents.sortBy(_._1)
    } finally quantized.unpersist()
  }

  /** Persist a trained centroid table (k rows of d longs) — the
    * train-once/assign-forever artifact [[assign]] and
    * [[SemanticDedup]] consume; a few KB, one parquet.
    */
  def saveCentroids(
      centroids: Seq[(Int, Seq[Long])],
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import spark.implicits._
    Store.write(spark, path)(Store.Put("", centroids.toDF("cl", "c").repartition(1)))
  }

  /** Load a persisted centroid table, cluster-id ascending.
    * Assignment with it is bit-identical to the live [[train]] result
    * (exact integer argmin either way).
    */
  def loadCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Long])] =
    Store(spark, path).read("")
      .collect() // bounded: k rows
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1)
      .toSeq

  /** Final clustering projection: (id, cluster, dist) — each row's
    * trained cluster and its exact integer squared grid-distance to
    * that centroid. One stateless pass; `dist` doubles as the
    * per-row loss a quality gate would threshold on.
    */
  def assign(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Long])]): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    val q = TopicAssign.quantize(col(vecCol))
    // dist to the assigned (= nearest) centroid is just the min distance
    vecs.select(
      col(idCol).as("id"),
      assignedQ(q, sorted).as("cluster"),
      array_min(array(sorted.map(c => distToQ(q, c._2)): _*)).as("dist"))
  }
}
