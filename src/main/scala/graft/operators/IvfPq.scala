package graft.operators

import graft.sources.Store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ: the faiss-style composition of the engine's ANN triad —
  * [[IvfAnn]]'s coarse quantizer prunes WHICH vectors are scanned
  * (probe `nprobe` of `nlist` inverted lists; directory-level pruning
  * when the encoded table is stored partitioned by list), and
  * [[ProductQuantizer]] compresses WHAT is scanned (each vector is
  * `m` small codes, scored by ADC table lookups — no float vector is
  * ever read at query time). Cost per query is
  * `~(nprobe/nlist) * corpus * m` integer lookups against a scan of
  * m-byte rows: both the byte volume and the row count shrink, which
  * is exactly the regime a 100 TB embedding corpus needs.
  *
  * The composition reuses the triad's trained artifacts as-is (the
  * coarse centroid matrix and the PQ codebooks train independently,
  * each once), so an IVF-Flat deployment upgrades to IVF-PQ by
  * encoding its assigned table — one stateless projection, no
  * retraining. Same determinism story as the parts: list assignment
  * and codes are exact argmins, ADC sums are exact 64-bit integers,
  * ties break to the lower id.
  */
object IvfPq {

  /** An IVF-PQ index: the coarse centroids (probe selection), the PQ
    * codebooks (ADC tables), and the encoded corpus
    * (__id, __list, codes) — note NO vector column: the compression
    * is the point. `encoded` is persisted; release with
    * `encoded.unpersist()`.
    */
  final case class Index(
      centroids: Array[Array[Double]],
      cb: ProductQuantizer.Codebooks,
      encoded: DataFrame,
      idCol: String)

  /** Compose a trained IVF index and trained PQ codebooks: one
    * stateless projection PQ-encodes the assigned table and drops the
    * raw vectors.
    */
  def fromParts(ivf: IvfAnn.Index, cb: ProductQuantizer.Codebooks): Index = {
    val encoded = ProductQuantizer
      .encode(ivf.assigned, "__id", "__vec", cb, keep = Seq("__list"))
      .persist()
    encoded.count()
    Index(ivf.centroids, cb, encoded, ivf.idCol)
  }

  /** ADC top-k over the probed lists: probe selection is driver-side
    * arithmetic on the centroid matrix ([[IvfAnn.probeLists]] — the
    * SAME rule as IVF-Flat), the scan is an `isin` filter (partition
    * pruning on a saved layout) over id+codes only, and scoring is
    * [[ProductQuantizer.adcTopK]]'s integer fold. Returns
    * (idCol, adc_dist) ascending, k rows.
    */
  def topK(index: Index, query: DataFrame, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val qVec = query.select(col(vecCol)).head().getSeq[Float](0)
    val probes = IvfAnn.probeLists(
      index.centroids, qVec.map(_.toDouble).toArray, nprobe)
    val qQ = qVec.map(x => math.floor(x.toDouble * TopicAssign.GridScale).toLong).toSeq
    ProductQuantizer.adcTopK(
      index.encoded.filter(col("__list").isin(probes: _*)),
      "__id",
      ProductQuantizer.distTable(qQ, index.cb),
      index.cb,
      k)
      .withColumnRenamed("__id", index.idCol)
  }

  /** Residual projection of an assigned corpus: each vector minus its
    * own inverted list's centroid (the list id picks the centroid row
    * from the closure-shipped matrix — no join). Residuals concentrate
    * near the origin, which is why residual codebooks quantize tighter
    * than raw-vector codebooks for the same (m, ksub).
    */
  private def residuals(ivf: IvfAnn.Index): DataFrame = {
    val cents = typedLit(ivf.centroids.map(_.toSeq).toSeq)
    ivf.assigned.select(
      col("__id"), col("__list"),
      zip_with(col("__vec"), element_at(cents, col("__list") + 1),
        (a, b) => a.cast("double") - b).as("__res"))
  }

  /** A residual IVF-PQ index (the full faiss IVFPQ form): codes are
    * PQ codes of each vector's RESIDUAL to its list centroid, so the
    * codebooks model the within-list distribution instead of the
    * whole space — tighter ADC distances at identical code size.
    */
  final case class ResidualIndex(
      centroids: Array[Array[Double]],
      cb: ProductQuantizer.Codebooks,
      encoded: DataFrame,
      idCol: String)

  /** Train residual codebooks over the assigned corpus and encode it:
    * one residual projection feeds [[ProductQuantizer.train]] and the
    * encode — same train-once lifecycle as [[fromParts]], same
    * determinism (the residual arithmetic is fixed-order IEEE, the
    * argmins exact).
    */
  def fromPartsResidual(
      ivf: IvfAnn.Index,
      m: Int,
      ksub: Int,
      iters: Int): ResidualIndex = {
    val res = residuals(ivf).persist()
    try {
      val cb = ProductQuantizer.train(res, "__id", "__res", m, ksub, iters)
      val encoded = ProductQuantizer
        .encode(res, "__id", "__res", cb, keep = Seq("__list"))
        .persist()
      encoded.count()
      ResidualIndex(ivf.centroids, cb, encoded, ivf.idCol)
    } finally res.unpersist()
  }

  /** Residual ADC top-k: each probed list scans with its OWN distance
    * table (built from the query's residual to THAT list's centroid —
    * the same floor-quantization the encode used), per-list top-k via
    * TakeOrderedAndProject, and a bounded nprobe-way union merges to
    * the global k. Scan cost identical to [[topK]]; only the driver
    * builds nprobe tables instead of one.
    */
  def topKResidual(
      index: ResidualIndex,
      query: DataFrame,
      vecCol: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val qVec = query.select(col(vecCol)).head().getSeq[Float](0).map(_.toDouble)
    val probes = IvfAnn.probeLists(index.centroids, qVec.toArray, nprobe)
    val branches = probes.map { l =>
      val c = index.centroids(l)
      val qQ = qVec.zip(c).map { case (a, b) =>
        math.floor((a - b) * TopicAssign.GridScale).toLong
      }.toSeq
      ProductQuantizer.adcTopK(
        index.encoded.filter(col("__list") === l),
        "__id", ProductQuantizer.distTable(qQ, index.cb), index.cb, k)
    }
    branches.reduce(_.unionAll(_))
      .orderBy(col("adc_dist").asc, col("__id").asc)
      .limit(k)
      .withColumnRenamed("__id", index.idCol)
  }

  /** Persist the composed index: the encoded corpus partitioned BY
    * list id — so a loaded index's probe prunes at the directory
    * level AND each directory holds only m-byte code rows (the two
    * savings multiply: `nprobe/nlist` of the corpus read as codes,
    * not vectors) — plus the centroid matrix and codebooks via their
    * owners' formats.
    */
  def save(index: Index, path: String): Unit = {
    val spark = index.encoded.sparkSession
    Store.write(spark, path)(Seq(
      Store.Put("encoded", index.encoded.select(col("__id"), col("codes"), col("__list")),
        Some("__list")),
      IvfAnn.centroidsOp(spark, index.centroids)) ++
      ProductQuantizer.ops(index.cb, spark).map(Store.nest("pq")): _*)
  }

  /** Load a persisted composed index. The encoded table is NOT
    * eagerly cached: probes read only their list directories.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String, idCol: String): Index = {
    val st = Store(spark, path)
    Index(
      IvfAnn.savedCentroids(st),
      ProductQuantizer.open(st.nested("pq")),
      st.read("encoded").select(col("__id"), col("__list"), col("codes")),
      idCol)
  }
}
