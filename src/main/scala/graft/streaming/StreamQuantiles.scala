package graft.streaming

import graft.operators.QuantileSketch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Streaming quantile accumulation — the in-flight form of
  * [[QuantileSketch]]'s persisted store: each micro-batch's bucket
  * counts fold into the saved prefix-partitioned layout
  * ([[QuantileSketch.absorbIntoSaved]] — O(batch) work, only the
  * partition directories the batch's keys hash into are read or
  * written), and any reader answers per-key percentiles from the
  * store between batches.
  *
  * This is the quantile shape a forever-running stream supports:
  * bucket counting is a commutative-monoid aggregation, so
  * absorb-per-batch equals one batch build over everything the stream
  * has carried (StreamQuantilesSpec's stream==batch differential) —
  * while the quantile EXTRACTION (a cumulative walk) happens at read
  * time, off the hot path, never holding per-value state in the
  * stream. An exact-percentile stream would buffer every value per
  * key forever; the sketch holds <= (64-m)·2^m rows per key no matter
  * how long the stream runs.
  */
object StreamQuantiles {

  /** Fold one micro-batch into the saved sketch store, bootstrapping
    * the store on the first non-empty batch. Use as a foreachBatch
    * body.
    *
    * @return rows the batch contributed
    */
  def absorbBatch(
      batch: DataFrame,
      keyCols: Seq[String],
      valueCol: Column,
      mantissaBits: Int,
      path: String,
      prefixBuckets: Int = 64): Long = {
    val n = batch.count()
    if (n == 0L) return 0L
    val spark = batch.sparkSession
    if (graft.sources.Store(spark, path).exists("meta"))
      QuantileSketch.absorbIntoSaved(spark, path, batch, valueCol)
    else QuantileSketch.save(
      QuantileSketch.build(batch, keyCols, valueCol, mantissaBits),
      keyCols, mantissaBits, path, prefixBuckets)
    n
  }

  /** Per-key quantile estimates from the accumulated store — the
    * read-side companion of [[absorbBatch]], callable at any point
    * between batches.
    */
  def quantilesFromStore(
      spark: SparkSession,
      path: String,
      qs: Seq[(String, Int, Int)]): DataFrame = {
    val st = QuantileSketch.load(spark, path)
    QuantileSketch.quantiles(st.sketch.drop("__kp"), st.keyCols, qs)
  }
}
