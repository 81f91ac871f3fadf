package graft.operators

import graft.sources.Store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistence for the mergeable-sketch family ([[graft.functions
  * .HyperLogLogAgg]] registers, [[graft.functions.BloomFilterAgg]]
  * words, [[graft.functions.CountMinSketchAgg]] counters,
  * [[graft.functions.HistogramSketchAgg]] buckets): a sketch row is
  * just columns of long/int arrays, so the store is one tiny parquet
  * file and "absorb" is the aggregate's own merge applied IN-PLAN
  * (max / OR / add) between the loaded row and a fresh increment
  * sketch — O(increment) by construction, the same incremental-store
  * contract as the dedup/BM25/IVF stores, but with an EXACT
  * absorb == rebuild guarantee: these merges are the associative
  * commutative folds the aggregates themselves use, so the absorbed
  * summary equals the full-corpus summary element for element (not
  * approximately — `sketch_absorb` gates it).
  */
object SketchStore {

  /** Persist a one-row (or few-row) sketch DataFrame. */
  def save(sketch: DataFrame, path: String): Unit =
    Store.write(sketch.sparkSession, path)(Store.Put("", sketch.repartition(1)))

  /** Load a persisted sketch row for in-plan merging. */
  def load(spark: SparkSession, path: String): DataFrame =
    Store(spark, path).read("")
}
