package graft.operators

import graft.functions.NearestCentroidL2
import graft.sources.Store

import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-compression third of the
  * ANN triad next to [[SimilaritySearch.lshTopK]] (stateless prune)
  * and [[IvfAnn]] (partition prune): the vector space is split into
  * `m` contiguous subspaces, each quantized by its own small
  * codebook, so a d-dim float vector compresses to `m` small codes
  * and query scoring becomes `m` table lookups (asymmetric distance
  * computation, ADC) instead of a d-dim float loop — the faiss
  * IVF-PQ residual scheme without the IVF layer, composable with
  * [[IvfAnn]]'s list pruning.
  *
  * Everything rides [[TopicAssign.GridScale]]'s integer µ-grid:
  * codebooks are trained by md5-seeded Lloyd iterations with exact
  * integer argmin / floor-mean updates (the [[KMeansTrain]]
  * contract applied per subspace), encoding is the per-subspace
  * exact argmin ([[NearestCentroidL2]], codegen'd, ties to the
  * lower code), and ADC distances are exact 64-bit sums. A fixed
  * configuration therefore replays BIT-IDENTICALLY in any engine:
  * the `pq_encode` oracle unrolls the per-subspace trainings as
  * CTEs and hash-matches every code and reconstruction distance.
  *
  * Scale shape: one training iteration is ONE corpus scan — the
  * fused job assigns all `m` codes per row (closure-shipped
  * codebooks, no join), posexplodes to (subspace, code, dim) cells
  * and map-combines to the bounded `m x ksub x dsub` cell matrix
  * (4 KB-ish) collected on the driver. Encoding and ADC scoring are
  * stateless projections; the scored top-k is a
  * TakeOrderedAndProject, never a global sort. The corpus is
  * scanned `iters + 1` times (train caches the quantized
  * projection; a petabyte run persists it once, columnar). Cell-sum
  * bound: same 2^53 argument as [[TopicAssign.labelCentroids]].
  */
object ProductQuantizer {

  /** Trained PQ codebooks: `books(s)` is subspace `s`'s codebook,
    * code -> grid centroid of `dsub` components, codes dense
    * `0..ksub-1`.
    */
  final case class Codebooks(m: Int, dsub: Int, books: Seq[Seq[Seq[Long]]]) {
    def ksub: Int = books.head.length
  }

  private def sliceQ(q: Column, s: Int, dsub: Int): Column =
    slice(q, s * dsub + 1, dsub)

  /** Exact integer argmin code of subspace `s` for a quantized
    * `array<long>` vector column (ties to the lower code).
    */
  private def codeFor(q: Column, s: Int, cb: Codebooks): Column =
    GraftColumnShim.column(NearestCentroidL2(
      GraftColumnShim.expression(sliceQ(q, s, cb.dsub)), cb.books(s)))

  /** Train `m` per-subspace codebooks of `ksub` centroids with
    * `iters` fused Lloyd iterations. Seeds are the `ksub` vectors
    * with the smallest `md5(cast(id as string))` (the
    * [[KMeansTrain.seedCentroids]] rule), sliced per subspace —
    * portable, RNG-free. Empty codes keep their previous centroid.
    */
  def train(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      iters: Int): Codebooks = {
    require(m > 0 && ksub > 0 && iters >= 0, "m, ksub positive; iters >= 0")
    val quantized = vecs
      .select(col(idCol).as("__id"), TopicAssign.quantize(col(vecCol)).as("q"))
      .persist()
    try {
      val dim = quantized.select(size(col("q"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim must be divisible by m=$m")
      val dsub = dim / m
      val seedRows = quantized
        .orderBy(md5(col("__id").cast("string")), col("__id"))
        .limit(ksub)
        .select(col("q"))
        .collect()
        .map(_.getSeq[Long](0))
        .toSeq
      require(seedRows.length == ksub,
        s"corpus has fewer than ksub=$ksub vectors")
      var cb = Codebooks(m, dsub,
        (0 until m).map(s => seedRows.map(_.slice(s * dsub, (s + 1) * dsub))))
      var i = 0
      while (i < iters) { cb = lloydStepFused(quantized, cb); i += 1 }
      cb
    } finally quantized.unpersist()
  }

  /** One fused Lloyd iteration over ALL subspaces: a single corpus
    * scan assigns every row its `m` codes, explodes to
    * (subspace, code, dim, value) and map-combines to the bounded
    * `m*ksub*dsub` cell matrix; floor-mean update on the driver.
    */
  private def lloydStepFused(quantized: DataFrame, cb: Codebooks): Codebooks = {
    val dsub = cb.dsub
    val codes = array((0 until cb.m).map(s => codeFor(col("q"), s, cb)): _*)
    val cells = quantized
      .select(codes.as("codes"), posexplode(col("q")).as(Seq("pos", "v")))
      .select(
        (col("pos") / dsub).cast("int").as("sub"),
        element_at(col("codes"), (col("pos") / dsub).cast("int") + 1).as("code"),
        pmod(col("pos"), lit(dsub)).as("dpos"),
        col("v"))
      .groupBy(col("sub"), col("code"), col("dpos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect() // bounded: m * ksub * dsub cells
    val updated: Map[(Int, Int, Int), Long] = cells.map { r =>
      (r.getInt(0), r.getInt(1), r.getInt(2).toInt) ->
        math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong
    }.toMap
    Codebooks(cb.m, dsub, (0 until cb.m).map { s =>
      cb.books(s).zipWithIndex.map { case (old, c) =>
        if (updated.contains((s, c, 0)))
          (0 until dsub).map(d => updated((s, c, d)))
        else old
      }
    })
  }

  /** Stateless encode: (idCol, keep..., codes array<int>) — code `s`
    * is the subspace-`s` argmin. The compressed corpus representation
    * ADC scans; `keep` carries extra columns through (e.g. the raw
    * vector for a reconstruction-error projection).
    */
  def encode(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Codebooks,
      keep: Seq[String] = Nil): DataFrame = {
    val q = TopicAssign.quantize(col(vecCol))
    vecs.select(
      col(idCol) +: keep.map(col) :+
        array((0 until cb.m).map(s => codeFor(q, s, cb)): _*).as("codes"): _*)
  }

  /** Exact integer reconstruction distance of each row to its PQ
    * reconstruction: sum over subspaces of the min grid distance to
    * the subspace codebook (the argmin's distance, so no code column
    * is needed). The training-loss projection.
    */
  def reconDist(vecCol: Column, cb: Codebooks): Column = {
    val q = TopicAssign.quantize(vecCol)
    (0 until cb.m).map { s =>
      val sq = sliceQ(q, s, cb.dsub)
      array_min(array(cb.books(s).map { c =>
        aggregate(
          zip_with(sq, typedLit(c), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
      }: _*))
    }.reduce(_ + _)
  }

  /** The ADC lookup table for one quantized query vector: flattened
    * `m * ksub` exact integer distances, entry `s * ksub + c` = grid
    * distance from the query's subspace-`s` slice to centroid `c`.
    * Driver-side arithmetic over the codebook matrix (no cluster
    * work) — the table ships in the task closure.
    */
  def distTable(queryQ: Seq[Long], cb: Codebooks): Seq[Long] =
    (0 until cb.m).flatMap { s =>
      val qs = queryQ.slice(s * cb.dsub, (s + 1) * cb.dsub)
      cb.books(s).map { c =>
        qs.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      }
    }

  /** ADC top-k: score every encoded row by `m` table lookups (one
    * codegen'd fold, no join, no float math) and take the k smallest
    * (ties to the lower id). The scan reads ONLY the id and the m
    * small codes — the compression PQ exists for.
    */
  def adcTopK(
      encoded: DataFrame,
      idCol: String,
      table: Seq[Long],
      cb: Codebooks,
      k: Int): DataFrame = {
    val tbl = typedLit(table)
    val score = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(cb.m - 1)),
        (c, s) => element_at(tbl, s * cb.ksub + c + 1)),
      lit(0L), (acc, x) => acc + x)
    encoded
      .select(col(idCol), score.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Persist trained codebooks: one row per (subspace, code) with its
    * grid centroid, plus a one-row meta parquet — the train-once /
    * encode-on-every-ingest lifecycle needs the books to outlive the
    * session ([[IvfAnn.save]] is the sibling for the assigned-corpus
    * index; the books are a few KB, so layout is trivial).
    */
  def save(cb: Codebooks, spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Store.write(spark, path)(ops(cb, spark): _*)

  /** [[save]]'s write, for a store nested in another. */
  private[operators] def ops(cb: Codebooks, spark: org.apache.spark.sql.SparkSession): Seq[Store.Op] = {
    import spark.implicits._
    Seq(
      Store.Put("books", cb.books.zipWithIndex
        .flatMap { case (book, s) =>
          book.zipWithIndex.map { case (c, code) => (s, code, c) }
        }
        .toDF("sub", "code", "centroid").repartition(1)),
      Store.meta(spark, "m" -> cb.m, "dsub" -> cb.dsub))
  }

  /** Load persisted codebooks; encoding with them is bit-identical to
    * encoding with the live [[train]] result (ProductQuantizerSpec
    * proves the round trip).
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Codebooks =
    open(Store(spark, path))

  private[operators] def open(st: Store): Codebooks = {
    val m = st.meta.getAs[Int]("m")
    val dsub = st.meta.getAs[Int]("dsub")
    val rows = st.read("books")
      .collect() // bounded: m * ksub rows of dsub longs
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
    val bySub = rows.groupBy(_._1)
    Codebooks(m, dsub, (0 until m).map { s =>
      val book = bySub.getOrElse(s, Array.empty).sortBy(_._2)
      require(book.nonEmpty && book.map(_._2).toSeq == book.indices.toSeq,
        s"persisted codebook for subspace $s is not dense")
      book.map(_._3).toSeq
    })
  }
}
