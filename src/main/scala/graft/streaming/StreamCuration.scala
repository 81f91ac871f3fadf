package graft.streaming

import graft.functions.TextFunctions
import graft.operators.TextDedup
import graft.sources.Store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curation pipeline as a STREAM: quality gate → cross-batch exact
  * dedup → cumulative split counters, chained inside one foreachBatch
  * pass against a durable store — the ingest-time twin of the batch
  * `corpus_curation_pipeline` chain (same Gopher gate, same
  * keep-lowest-id exact-duplicate rule, same md5 90/5/5 split), so a
  * forever-running ingest keeps the same corpus a batch rerun would
  * rebuild.
  *
  * Store layout at `path` (a [[Store]]; each batch is ONE write, so a
  * killed batch replays from the old state whole):
  * `seen/` is an append-only fingerprint table PARTITIONED by a
  * 64-bucket fingerprint-hash prefix (`__fpb` — the TextDedup band-
  * store pattern): each batch's anti-join probe derives an `isin`
  * partition filter from ITS fingerprints' prefixes, so the store
  * side of the probe reads only the matching directories instead of
  * SortMergeJoining the entire accumulated corpus once it outgrows
  * broadcast, and appends touch only the directories that receive
  * rows. Appending only the SURVIVORS' fingerprints is sufficient,
  * because a batch-internal loser always shares its winner's
  * fingerprint and that winner is either kept (fingerprint appended)
  * or was itself dropped against the store (fingerprint already
  * present). `counters/` is the one-row-per-split cumulative tally,
  * folded monoidally (sum of sums) and replaced each batch — split
  * rows, never corpus rows.
  *
  * Differential contract (StreamCurationSpec): after ANY sequence of
  * micro-batches, [[loadCounters]] equals [[batchChain]] over the
  * concatenation, provided each fingerprint's minimum id arrives no
  * later than its duplicates (the natural time order of an ingest
  * feed; keep-FIRST is what bounded streaming dedup can promise, and
  * it coincides with the batch chain's keep-lowest exactly under that
  * arrival order).
  *
  * Scale shape: per batch, the gate is a stateless projection; the
  * dedup is one (fp, id) shuffle of the BATCH plus an anti-join whose
  * store side prunes to the batch's fingerprints; the counter fold
  * touches ≤ 3 rows. Nothing is proportional to the accumulated
  * corpus except the seen-store anti-join's pruned read.
  */
object StreamCuration {

  private def bucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long") % 100L

  /** Fingerprint-prefix partition bucket of the `seen/` store. 64
    * directories bounds the probe's prefix collect regardless of
    * store size while keeping per-directory file counts sane at scale.
    */
  private val SeenBuckets = 64

  /** The store side of the exact-dedup anti-join, pruned to the
    * batch's fingerprint prefixes: the collect is bounded by
    * [[SeenBuckets]] values, and the resulting `isin` filter reaches
    * the scan as PartitionFilters (StreamCurationSpec plan-asserts
    * it) — per batch the store read is O(matching directories), never
    * O(corpus). `seen/` appears with the first batch that keeps a
    * document, so a fresh store reads as an empty probe side.
    */
  private[graft] def prunedSeen(spark: SparkSession, path: String, probe: DataFrame): DataFrame =
    prunedSeen(Store(spark, path), probe)

  private def prunedSeen(st: Store, probe: DataFrame): DataFrame =
    if (!st.exists("seen")) probe.select(col("fp")).limit(0)
    else Store.pruned(st.read("seen"), "__fpb", probe.select(Store.prefix(SeenBuckets, col("fp"))))
      .select(col("fp"))

  /** The survivors' fingerprints, added to `seen/`: only the prefixes
    * that receive rows gain files, and a batch that keeps nothing
    * writes nothing.
    */
  private def seenOp(survivors: DataFrame): Store.Op =
    Store.Add("seen", survivors.select(col("fp"), Store.prefix(SeenBuckets, col("fp")).as("__fpb")),
      Some("__fpb"))

  /** The counter fold: the tally plus the kept docs' split counts. */
  private def countersOp(st: Store, kept: DataFrame): Store.Op =
    Store.Put("counters", st.read("counters")
      .unionByName(kept
        .select(splitOf(bucket(col("__id"))).as("split"),
          size(col("__ws")).cast("long").as("__nt"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens")))
      .groupBy(col("split"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_tokens")).as("total_tokens"))
      .repartition(1))

  private def splitOf(b: Column): Column =
    when(b < 90, lit("train")).when(b < 95, lit("val")).otherwise(lit("test"))

  /** Gopher quality gate, staged with the token array the later
    * stages reuse (`__ws` — the batch pipeline's convention).
    */
  private def qualityGate(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("__ws", TextFunctions.tokens(col(textCol)))
      .filter(TextFunctions.gopherKeep(col("__ws")))

  /** Initialise an empty curation store. `seen/` bootstraps from the
    * first non-empty batch (an empty partitioned layout has no files
    * to carry a schema — the minhash-store bootstrap rule); until then
    * probes see an empty store and drop nothing.
    */
  def init(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    Store.write(spark, path)(
      Store.Put("counters", Seq.empty[(String, Long, Long)].toDF("split", "n_docs", "total_tokens")
        .repartition(1)),
      Store.Drop("seen"), Store.Drop("minhash"))
  }

  /** Fold one micro-batch through the full chain: gate → in-batch
    * keep-lowest-id per fingerprint → drop fingerprints the store has
    * seen → append survivors' fingerprints → fold survivors' split
    * counts into the cumulative tally. The foreachBatch body.
    */
  def absorbBatch(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val st = Store(spark, path)
    val gated = qualityGate(batch, textCol)
      .select(col(idCol).as("__id"), col("__ws"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
      .persist()
    // in-batch winners: the (fp, id) shuffle carries no text; winners
    // come back as a semi-join, the batch pipeline's exact-dedup shape
    val winners = gated.select(col("fp"), col("__id"))
      .groupBy(col("fp")).agg(min(col("__id")).as("__id"))
    // the lineage cut (not a mere persist) is load-bearing: the write
    // below invalidates any cached plan that reads `seen/`, and a
    // recompute after it would anti-join the batch against its OWN
    // fingerprints and emit nothing
    val fresh = gated
      .join(winners, Seq("fp", "__id"), "left_semi")
      .join(prunedSeen(st, gated), Seq("fp"), "left_anti")
      .localCheckpoint(true)
    // the seen fingerprints and the counters move together: a killed
    // batch rolls back whole, so its replay neither finds its own
    // fingerprints nor misses its counts
    Store.write(spark, path)(seenOp(fresh), countersOp(st, fresh))
    fresh.unpersist(); gated.unpersist()
    ()
  }

  /** The cumulative per-split tally after the batches absorbed so far. */
  def loadCounters(spark: SparkSession, path: String): DataFrame =
    Store(spark, path).read("counters")
      .select(col("split"), col("n_docs"), col("total_tokens"))

  /** The batch twin the stream must agree with: the same gate, the
    * same keep-lowest-id exact dedup, the same split tally, over one
    * static frame.
    */
  def batchChain(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val gated = qualityGate(docs, textCol)
      .select(col(idCol).as("__id"), col("__ws"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
    val winners = gated.select(col("fp"), col("__id"))
      .groupBy(col("fp")).agg(min(col("__id")).as("__id"))
    gated.join(winners, Seq("fp", "__id"), "left_semi")
      .select(splitOf(bucket(col("__id"))).as("split"),
        size(col("__ws")).cast("long").as("__nt"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"))
  }

  // ----- the NEAR-DUP-aware chain: quality gate → exact dedup →
  // MinHash-store near-dup drop → counters, all cross-batch -----

  /** Initialise the near-dup curation store: the exact-dedup /
    * counter tables of [[init]] plus an empty PERSISTED MinHash store
    * survivors' signatures append into (band-prefix-partitioned — the
    * [[graft.operators.TextDedup.appendToSavedMinhashStore]] ingest
    * path, so probes prune to the batch's band prefixes at the
    * directory level).
    */
  def initNearDup(spark: SparkSession, path: String, idCol: String, textCol: String): Unit = {
    // the MinHash store bootstraps from the FIRST batch's survivors
    // (an empty band-partitioned parquet layout has no files to carry
    // a schema); until then probes see no store and drop nothing
    init(spark, path)
  }

  /** [[absorbBatch]] with a cross-batch NEAR-dup stage: after the
    * exact-fingerprint drop, the batch's remaining docs first dedup
    * among THEMSELVES (banded candidates → components → keep the
    * minimum id, the batch pipeline's rule), then drop every doc the
    * persisted MinHash store matches at `threshold` — keep-FIRST
    * across batches, the semantics bounded streaming dedup can
    * promise (a doc near-dupes only against prior SURVIVORS: a
    * transitive chain through an already-dropped doc does not
    * propagate, exactly like the incremental minhash store operators
    * — the StreamCurationSpec differential plants direct duplicates,
    * where stream == one-shot batch exactly). Survivors append their
    * fingerprints AND their signatures/bands before the counter fold.
    */
  def absorbBatchNearDup(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5): Unit = {
    val st = Store(spark, path)
    val gated = qualityGate(batch, textCol)
      .select(col(idCol).as("__id"), col(textCol).as("__text"), col("__ws"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
      .persist()
    val winners = gated.select(col("fp"), col("__id"))
      .groupBy(col("fp")).agg(min(col("__id")).as("__id"))
    val fresh = gated
      .join(winners, Seq("fp", "__id"), "left_semi")
      .join(prunedSeen(st, gated), Seq("fp"), "left_anti")
      .localCheckpoint(true)
    gated.unpersist()
    // in-batch near-dups: keep each component's minimum id
    val inBatchPairs = TextDedup.minhashCandidatePairs(
      fresh, "__id", "__text", threshold = threshold)
    val dropInBatch = graft.operators.Clustering
      .connectedComponents(inBatchPairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("__id"))
    val inBatchKept = fresh.join(dropInBatch, Seq("__id"), "left_anti")
    // cross-batch: drop docs the persisted store matches; the store
    // read prunes to this batch's band prefixes. First batch: no
    // store yet, nothing to match.
    val minhash = st.nested("minhash")
    val hasStore = minhash.exists("meta")
    val survivors = (if (hasStore) {
      val matched = TextDedup.minhashAgainstStore(
        inBatchKept, TextDedup.minhashStore(minhash), "__id", "__text", threshold = threshold)
        .select(col("id").as("__id")).distinct()
      inBatchKept.join(matched, Seq("__id"), "left_anti")
    } else inBatchKept)
      .localCheckpoint(true)
    // an all-dropped batch must NOT bootstrap the MinHash store: a meta
    // row over an empty band-partitioned layout (dynamic partitioning
    // writes no files for zero rows) would break the next batch's load
    val rows = Option.when(hasStore || !survivors.isEmpty)(
      TextDedup.buildMinhashStore(survivors, "__id", "__text"))
    val minhashOps = rows.toSeq.flatMap(r => TextDedup.minhashOps(r,
      if (hasStore) minhash.meta.getAs[Int]("prefixBuckets") else 64, append = hasStore))
    // ONE write for the batch: seen fingerprints, counters and MinHash
    // rows (the absorbBatch rule), after the lineage cut
    Store.write(spark, path)(
      Seq(seenOp(survivors), countersOp(st, survivors)) ++ minhashOps.map(Store.nest("minhash")): _*)
    rows.foreach(_.unpersist())
    survivors.unpersist(); fresh.unpersist()
    ()
  }

  /** One-shot batch twin of the near-dup chain: gate → keep-lowest
    * exact dedup → banded near-dup components keep-lowest → split
    * tally. Equals the streamed fold when duplicates match their
    * surviving base directly (no transitive chains through dropped
    * docs — the planted-fixture regime).
    */
  def batchChainNearDup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val gated = qualityGate(docs, textCol)
      .select(col(idCol).as("__id"), col(textCol).as("__text"), col("__ws"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
    val winners = gated.select(col("fp"), col("__id"))
      .groupBy(col("fp")).agg(min(col("__id")).as("__id"))
    val exactKept = gated.join(winners, Seq("fp", "__id"), "left_semi").persist()
    val pairs = TextDedup.minhashCandidatePairs(
      exactKept, "__id", "__text", threshold = threshold)
    val dropNear = graft.operators.Clustering
      .connectedComponents(pairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("__id"))
    val out = exactKept.join(dropNear, Seq("__id"), "left_anti")
      .select(splitOf(bucket(col("__id"))).as("split"),
        size(col("__ws")).cast("long").as("__nt"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"))
    out.persist().count()
    exactKept.unpersist()
    out
  }
}
