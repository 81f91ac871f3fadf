package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NearestCentroidL2

/** Supervised semantic bucketing: assign every embedding to its
  * nearest labeled centroid — the "route new documents to the topic
  * of their nearest training cluster" step a mixture-design pipeline
  * runs after clustering a seed corpus ([[SimilaritySearch]] finds
  * neighbors; this classifies against a FIXED set of buckets).
  *
  * All arithmetic happens on the integer µ-grid (`floor(x·10^6)` per
  * component): centroid sums are exact 64-bit integer aggregations
  * (map-side combinable, no float-summation-order hazard) and squared
  * distances are exact integer folds, so assignments replay
  * bit-identically in any engine — an argmin can never flip on ulp
  * noise.
  *
  * Scale shape: the centroid build is one (label, dim) aggregation —
  * k·d cells out of a corpus-sized scan, map-combinable; the collect
  * is bounded by construction (k centroids). Assignment is a
  * stateless per-row fold against the k·d closure-shipped matrix
  * (native codegen'd [[NearestCentroidL2]]) — no join, no shuffle,
  * streaming-safe.
  */
object TopicAssign {

  /** Component grid: `floor(x * GridScale)` per dimension. 10^6 keeps
    * float32 embeddings' precision (2^-24 ≈ 6·10^-8 relative) while
    * bounding 4096-dim squared distances far inside 2^63.
    */
  val GridScale: Long = 1000000L

  /** Integer-grid projection of a float/double vector. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * GridScale).cast("long"))

  /** Per-label grid centroids: (label, centroid array<long>, n).
    * Component = floor(sum / n) on the grid; sums are exact longs
    * (documented bound: grid·|corpus| must stay below 2^53 per cell
    * for the floor division — 10^6-grid components over 10^9 vectors
    * is ~10^15, inside the bound).
    */
  def labelCentroids(vecs: DataFrame, labelCol: String, vecCol: String): DataFrame =
    vecs
      .select(col(labelCol).cast("int").as("label"),
        posexplode(quantize(col(vecCol))).as(Seq("pos", "q")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"),
            floor(col("s").cast("double") / col("n")).cast("long").as("c")))),
          st => st.getField("c")).as("centroid"),
        max(col("n")).as("n"))

  /** Bounded driver collect of a [[labelCentroids]] result, ordered by
    * label ascending (the tie-break order both assignment forms use).
    */
  def collectCentroids(cents: DataFrame): Seq[(Int, Seq[Long])] =
    cents
      .orderBy(col("label"))
      .select(col("label"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .toSeq

  /** Native assignment column: nearest centroid by integer squared
    * distance, ties to the lower label. One codegen'd per-row fold.
    */
  def assigned(vec: Column, centroids: Seq[(Int, Seq[Long])]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val sorted = centroids.sortBy(_._1)
    val idx = org.apache.spark.sql.GraftColumnShim.column(
      NearestCentroidL2(
        org.apache.spark.sql.GraftColumnShim.expression(quantize(vec)),
        sorted.map(_._2)))
    element_at(array(sorted.map(c => lit(c._1)): _*), idx + 1)
  }

  /** DataFrame form: id, label, assigned, correct — the evaluation
    * projection a bucketing pipeline gates on.
    */
  def assign(
      vecs: DataFrame,
      idCol: String,
      labelCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Long])]): DataFrame =
    vecs.select(
      col(idCol).as("id"),
      col(labelCol).cast("int").as("label"),
      assigned(col(vecCol), centroids).as("assigned"))
      .withColumn("correct", col("assigned") === col("label"))
}
