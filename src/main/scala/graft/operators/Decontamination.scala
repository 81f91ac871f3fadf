package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.util.Staged

/** Benchmark decontamination — flag training documents that share any
  * word n-gram with an evaluation/benchmark set, so they can be dropped
  * before training (the standard leakage guard: a doc that contains an
  * eval question verbatim inflates the benchmark).
  *
  * Shape at scale: the eval side is benchmarks — thousands to millions
  * of rows, orders of magnitude smaller than the corpus — so its
  * distinct n-gram set is built once and BROADCAST; the corpus side is
  * a single scan + explode + broadcast join + per-doc count. One
  * shuffle total (the per-doc aggregation), nothing pairwise, no
  * corpus-side state. At 100 TB the corpus never moves: only its
  * exploded gram stream flows through the broadcast probe and collapses
  * back to one row per doc. If the eval set ever outgrows an executor,
  * pass `broadcastEval = false` to fall back to a shuffled semi-join —
  * same plan shape as [[TextDedup.globalNgramDupStats]].
  */
object Decontamination {

  /** Per-document contamination stats against an eval set.
    *
    * @param corpus training documents (idCol, textCol)
    * @param evalSet benchmark documents (textCol; ids irrelevant)
    * @param n word n-gram order; higher n = stricter (fewer chance
    *          collisions). 8-13 is typical for real corpora.
    * @param broadcastEval broadcast the eval gram set (default; see
    *          class note for when to turn it off)
    * @return (id, n_grams, eval_hits, contaminated): distinct-gram
    *         count, how many of them appear in the eval set, and the
    *         drop flag (any overlap at all)
    */
  def flagContaminated(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      broadcastEval: Boolean = true): DataFrame = {
    val evalGrams = evalSet
      .select(explode(distinctGrams(evalSet, textCol, n)).as("gram"))
      .distinct()
    val probe = if (broadcastEval) broadcast(evalGrams) else evalGrams
    // staged + persisted: referenced by the explode AND the final
    // per-doc projection (CollapseProject would re-tokenize per use)
    val grams = corpus
      .select(col(idCol).as("id"), distinctGrams(corpus, textCol, n).as("gs"))
      .persist()
    val hits = grams.select(col("id"), explode(col("gs")).as("gram"))
      .join(probe, "gram")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("eval_hits"))
    val out = grams.select(col("id"), size(col("gs")).cast("long").as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(
        col("id"),
        col("n_grams"),
        coalesce(col("eval_hits"), lit(0L)).as("eval_hits"))
      .withColumn("contaminated", col("eval_hits") > 0L)
    Staged.materialized(out, Seq(grams))
  }

  /** Streaming-safe form: the eval n-gram set is materialized to the
    * driver once (it is benchmark-sized by assumption) and probed per
    * row through the native [[graft.functions.ArrayHitCount]]
    * expression — a stateless projection, so it runs on an unaggregated
    * stream with no watermark and selects exactly what the batch
    * operator flags for the same eval set (StreamDecontaminationSpec).
    *
    * The doc's gram array is staged ONCE (one tokenize/shingle pass per
    * row, not one per output column) and the eval set is hashed once
    * per executor inside the expression, so per-row cost is O(doc
    * grams) lookups — not the O(eval grams) that a per-row
    * `array_intersect` against a plan literal would pay rebuilding its
    * set every row.
    *
    * @param evalSet BATCH DataFrame of benchmark documents; collected
    *                here. The gram set rides in the task closure (not
    *                the per-row path): ~10^6 grams ≈ tens of MB
    *                shipped once per executor is fine; a corpus-sized
    *                set is not — that is [[flagContaminated]]
    */
  def flagContaminatedStream(
      stream: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val grams = evalSet
      .select(explode(distinctGrams(evalSet, textCol, n)).as("gram"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted
    val staged = stream.select(
      col(idCol).as("id"),
      distinctGrams(stream, textCol, n).as("__gs"))
    val hits = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.ArrayHitCount(
        org.apache.spark.sql.GraftColumnShim.expression(col("__gs")),
        grams.toSeq))
    staged
      .select(
        col("id"),
        size(col("__gs")).cast("long").as("n_grams"),
        hits.as("eval_hits"))
      .select(
        col("id"),
        col("n_grams"),
        col("eval_hits"),
        (col("eval_hits") > 0L).as("contaminated"))
  }

  /** Bloom-filter decontamination — the fixed-memory form for eval
    * sets too large to broadcast/ship exactly: the eval grams collapse
    * to a bloom bit-set (512 KB at the default 2^22 bits — a 10-50x
    * cut vs the gram strings) and the corpus probes it in-plan with
    * ZERO false negatives (no contaminated document ever survives) and
    * a bounded false-positive rate (a few clean documents over-dropped,
    * the cheap direction at training scale).
    *
    * Diagnostic form: ALSO computes the exact hits (one extra
    * broadcast join) so callers — and the gated query's verdicts — can
    * measure the bloom against ground truth. The production path at
    * the scale bloom exists for drops the exact join and keeps only
    * `bloom_hits`/`bloom_contaminated`; the streaming twin
    * ([[flagContaminatedBloomStream]]) IS that path, closure-shipped.
    *
    * @return (id, n_grams, eval_hits, bloom_hits, contaminated,
    *         bloom_contaminated)
    */
  def flagContaminatedBloom(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      numBits: Int = graft.functions.BloomFilter.DefaultNumBits,
      numHashes: Int = graft.functions.BloomFilter.DefaultNumHashes): DataFrame = {
    val BF = graft.functions.BloomFilter
    val evalGrams = evalSet
      .select(explode(distinctGrams(evalSet, textCol, n)).as("gram"))
      .distinct()
    val bloom = evalGrams.agg(BF.sketch(col("gram"), numBits, numHashes).as("__bloom"))
    val grams = corpus
      .select(col(idCol).as("id"), distinctGrams(corpus, textCol, n).as("gs"))
      .persist()
    val counts = grams.select(col("id"), explode(col("gs")).as("gram"))
      .join(broadcast(evalGrams.withColumn("__ex", lit(true))), Seq("gram"), "left")
      .crossJoin(broadcast(bloom))
      .select(
        col("id"),
        col("__ex"),
        BF.contains(col("__bloom"), col("gram"), numBits, numHashes).as("__bh"))
      .groupBy(col("id"))
      .agg(
        sum(when(col("__ex").isNotNull, 1L).otherwise(0L)).as("eval_hits"),
        sum(when(col("__bh"), 1L).otherwise(0L)).as("bloom_hits"))
    val out = grams.select(col("id"), size(col("gs")).cast("long").as("n_grams"))
      .join(counts, Seq("id"), "left")
      .select(
        col("id"),
        col("n_grams"),
        coalesce(col("eval_hits"), lit(0L)).as("eval_hits"),
        coalesce(col("bloom_hits"), lit(0L)).as("bloom_hits"))
      .withColumn("contaminated", col("eval_hits") > 0L)
      .withColumn("bloom_contaminated", col("bloom_hits") > 0L)
    Staged.materialized(out, Seq(grams))
  }

  /** Streaming/production bloom probe: the eval bloom words are
    * computed once (batch) and ship in the task closure via the native
    * [[graft.functions.BloomHitCount]] expression — a stateless
    * projection serving unaggregated streams at fixed memory, the
    * bloom sibling of [[flagContaminatedStream]]'s exact set.
    */
  def flagContaminatedBloomStream(
      stream: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      numBits: Int = graft.functions.BloomFilter.DefaultNumBits,
      numHashes: Int = graft.functions.BloomFilter.DefaultNumHashes): DataFrame = {
    val BF = graft.functions.BloomFilter
    val words = evalSet
      .select(explode(distinctGrams(evalSet, textCol, n)).as("gram"))
      .distinct()
      .agg(BF.sketch(col("gram"), numBits, numHashes).as("__bloom"))
      .collect().head.getSeq[Long](0)
    val staged = stream.select(
      col(idCol).as("id"),
      distinctGrams(stream, textCol, n).as("__gs"))
    staged
      .select(
        col("id"),
        size(col("__gs")).cast("long").as("n_grams"),
        BF.hitCount(col("__gs"), words, numHashes).as("bloom_hits"))
      .withColumn("bloom_contaminated", col("bloom_hits") > 0L)
  }

  private def distinctGrams(df: DataFrame, textCol: String, n: Int) =
    array_distinct(TextFunctions.ngramsFromTokens(TextFunctions.tokens(col(textCol)), n))

  /** Bloom bits sized to THIS eval corpus: `bitsPerGram` bits per
    * distinct eval gram (floored at [[graft.functions.BloomFilter
    * .DefaultNumBits]]). A fixed filter width is an SF coin toss — at
    * 7 hashes a 2^22-bit filter holds fp ~1e-5 for a 180k-gram eval
    * set but ~0.7 for a 1.8M-gram one (fill 0.95); with 32 bits/gram
    * the fill stays <= 0.20 and fp <= ~1e-5 at ANY corpus scale, so a
    * "false-positive rate under 1%" contract is a sizing theorem, not
    * a scale-dependent observation. Costs one aggregate over the eval
    * grams (the small side by construction); capped at 2^30 bits
    * (128 MB — past that a broadcast bloom is the wrong structure and
    * the caller should shard the eval set or use the exact join).
    */
  def sizedNumBits(
      evalSet: DataFrame,
      textCol: String,
      n: Int = 8,
      bitsPerGram: Int = 32): Int = {
    require(bitsPerGram > 0, "bitsPerGram must be positive")
    val grams = evalSet
      .select(explode(distinctGrams(evalSet, textCol, n)).as("gram"))
      .distinct().count()
    val want = math.max(
      graft.functions.BloomFilter.DefaultNumBits.toLong, grams * bitsPerGram)
    require(want <= (1L << 30),
      s"eval corpus too large for a broadcast bloom ($grams grams x $bitsPerGram " +
        "bits/gram > 2^30 bits): shard the eval set or use the exact-join path")
    want.toInt
  }
}
