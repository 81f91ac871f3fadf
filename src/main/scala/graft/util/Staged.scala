package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for SESSION-STAGED DataFrames (the frames held in
  * [[SessionScopedCache]] for the application lifetime).
  *
  * A persisted frame keeps its FULL logical plan: every later query
  * built on it re-analyzes, re-canonicalizes (for cache lookup) and
  * re-renders (SQLExecution posts the plan description on EVERY
  * action, UI or not) the entire staged lineage. Stage caches stack —
  * pairs over shingles over tokens — and a frame referenced twice in a
  * join doubles its rendered subtree, so the per-action driver cost
  * grows superlinearly with staging depth: measured r19, a WARM
  * corpus_curation_pipeline_minhash rep spent ~2.8 s single-threaded in
  * `TreeNode.generateTreeString` against ~0.2 s of actual job work.
  *
  * `settle` swaps the staged frame for an eager `localCheckpoint`: the
  * rows are computed once and stored (same lifetime and storage class
  * as the persist it replaces), but the plan becomes a LogicalRDD LEAF
  * — downstream analysis/render cost is O(consumer plan), independent
  * of how deep the staged build was. Optimizer statistics survive
  * (`LogicalRDD` carries the origin stats in this Spark build —
  * verified: auto-broadcast still fires against a settled frame), so
  * join strategies are unchanged.
  *
  * ONLY for frames with session lifetime: a settled frame cannot be
  * recomputed after its blocks are released (persist+unpersist can).
  * On a multi-tenant cluster the same seam would use reliable
  * `checkpoint` (executor loss kills local-checkpointed blocks) — the
  * same trade [[graft.operators.Clustering.connectedComponents]]
  * documents for its per-round truncation.
  */
object Staged {

  /** Materialize `df` as a lineage-free session-staged frame. If `df`
    * was already persisted, its now-redundant cache entry is released
    * (the checkpoint read through it, so the materialization cost is
    * one cached scan, not a rebuild).
    */
  def settle(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
    out
  }

  /** Persist + materialize an operator's `result`, then release the
    * intermediate cached stages — long-lived sessions calling the
    * operators repeatedly would otherwise accumulate cached blocks until
    * storage eviction pressure builds. The returned DataFrame is
    * persisted (operator results such as candidate-pair sets are small
    * relative to the corpus); callers owning the last reference may
    * `.unpersist()` it.
    */
  private[graft] def materialized(result: DataFrame, intermediates: Seq[DataFrame]): DataFrame = {
    val out = result.persist()
    out.count() // force evaluation while the intermediate caches are alive
    intermediates.foreach(_.unpersist())
    out
  }

  /** Release the RDD blocks behind a settled frame NOW (for the
    * per-invocation settle pattern — a frame settled inside one query
    * evaluation and fully consumed before it returns).
    * `Dataset.unpersist` only clears CacheManager entries, so a
    * checkpoint's blocks otherwise linger until the GC-driven
    * ContextCleaner notices the RDD is unreachable. Matches only a
    * frame whose ROOT is the checkpoint (never a derived plan, whose
    * tree would contain some OTHER live checkpoint's LogicalRDD); no-op
    * on anything else.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
