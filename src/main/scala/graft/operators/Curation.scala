package graft.operators

import graft.functions.TextFunctions
import graft.util.Staged

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation composition a training-data pipeline
  * runs — quality gate → exact dedup → near-duplicate dedup →
  * survivors — with the near-dup stage routed by an explicit
  * [[Curation.NearDupStrategy]] that DEFAULTS to the corpus-scale
  * banded-MinHash path.
  *
  * Strategy routing (the scale contract):
  *
  *   - [[Curation.BandedMinhash]] (DEFAULT): MinHash+LSH candidate
  *     generation — per-row signatures, a band-bucket join whose work
  *     is bounded by an explicit per-bucket PAIR budget — followed by
  *     an exact integer-Jaccard verify over the staged shingle arrays.
  *     Every stage's cost is candidate-volume-shaped and budget-
  *     bounded; this is the path that survives a fixed-vocabulary
  *     corpus at 100 TB. Lossy only in candidate RECALL (verified
  *     pairs are true pairs by construction — the exact verify runs on
  *     every emitted pair).
  *   - [[Curation.LosslessPrefix]]: the PPJoin prefix-filtered chain
  *     ([[TextDedup.prefixFilteredJaccardPairs]]) — complete by
  *     theorem, but its prefix self-join is Σ postings² and inherently
  *     superquadratic when vocabulary does not grow with the corpus
  *     (measured: 22 s at 50k docs, 209 s at 200k — TextDedup.scala
  *     scale-limit note). Select it to GENERATE TRUTH SETS at
  *     verification scales; do not default to it at corpus scale.
  *
  * The division of labor was previously documentation
  * (TextDedup.scala's scale-limit scaladoc); this object encodes it as
  * API: callers who do not choose get the scale path, and choosing the
  * lossless chain is an explicit, greppable decision.
  *
  * Reference anchor: the curation composition extends the reference's
  * latest-per-key + quality-filter semantics (stream.py:115–136) to
  * the corpus-dedup stages a training-data pipeline needs; no
  * reference counterpart exists for near-dup dedup.
  */
object Curation {

  /** How the near-duplicate stage finds its pairs. */
  sealed trait NearDupStrategy

  /** Corpus-scale banded MinHash + exact-Jaccard verify (the DEFAULT).
    *
    * @param numHashes      signature length
    * @param bands          LSH bands (rows per band = numHashes/bands)
    * @param threshold      estimated-Jaccard gate on candidates (the
    *                       LSH S-curve operating point)
    * @param minJaccardMicro exact integer micro-Jaccard the verify
    *                       stage requires of an emitted pair
    * @param maxBucketPairs per-bucket candidate-PAIR budget — the
    *                       quadratic quantity a 100 TB run must bound
    * @param scheme         hash family: [[TextDedup.XxHash64Scheme]]
    *                       (production default) or
    *                       [[TextDedup.PortableMd5Scheme]] (engine-
    *                       portable — any SQL engine with md5 replays
    *                       signatures, buckets, and candidates
    *                       bit-for-bit; the oracle seam, ~2-3x cost)
    */
  final case class BandedMinhash(
      numHashes: Int = TextDedup.defaultNumHashes,
      bands: Int = TextDedup.defaultBands,
      threshold: Double = TextDedup.defaultMinhashThreshold,
      minJaccardMicro: Long = 500000L,
      maxBucketPairs: Long = TextDedup.defaultBucketPairBudget,
      scheme: TextDedup.MinhashScheme = TextDedup.XxHash64Scheme)
      extends NearDupStrategy

  /** Lossless PPJoin prefix-filtered chain — complete by theorem,
    * superquadratic on fixed-vocabulary corpora; the truth-set
    * generator for verification scales.
    */
  final case class LosslessPrefix(
      shingleSize: Int = 3,
      minJaccardMicro: Long = 500000L)
      extends NearDupStrategy

  /** The default near-dup strategy: the banded corpus-scale path. */
  val defaultStrategy: NearDupStrategy = BandedMinhash()

  /** Verified near-duplicate pairs `(id_a, id_b)`, `id_a < id_b`,
    * under the chosen strategy. Both strategies emit only pairs whose
    * EXACT integer micro-Jaccard clears `minJaccardMicro` — the banded
    * path verifies candidates against the staged shingle arrays (never
    * re-shingling text), so its emissions are true pairs and only
    * candidate RECALL is lossy.
    *
    * Eagerly materialized (both underlying chains stage through
    * persist boundaries and release their intermediates).
    */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      strategy: NearDupStrategy = defaultStrategy): DataFrame = strategy match {
    case LosslessPrefix(shingleSize, minJaccardMicro) =>
      TextDedup
        .prefixFilteredJaccardPairs(docs, idCol, textCol, shingleSize, minJaccardMicro)
        .select(col("id_a"), col("id_b"))
    case BandedMinhash(numHashes, bands, threshold, minJaccardMicro, maxBucketPairs, scheme) =>
      val (cand, shingled) = TextDedup.minhashCandidatePairsAndShingles(
        docs, idCol, textCol, numHashes, bands, threshold, maxBucketPairs, scheme = scheme)
      // exact verify on the STAGED distinct-shingle arrays; integer
      // micro-Jaccard (`div`), engine-portable. STAT-DRIVEN broadcast
      // of the (materialized, exactly-counted) pair side — Catalyst's
      // static estimate shuffled the corpus-sized shingle table twice
      // at rehearsal scale (the ngramJaccardPairs finding, r18);
      // beyond the cutoff the shuffle join is the right plan.
      val shA = shingled.select(col("id").as("id_a"), col("sh").as("__sa"))
      val shB = shingled.select(col("id").as("id_b"), col("sh").as("__sb"))
      val attached =
        if (cand.count() <= 100000L)
          broadcast(broadcast(cand).join(shA, "id_a")).join(shB, "id_b")
        else cand.join(shA, "id_a").join(shB, "id_b")
      val verified = attached
        .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
        .filter(expr(s"__i * 1000000 div (size(__sa) + size(__sb) - __i)") >= minJaccardMicro)
        .select(col("id_a"), col("id_b"))
      val out = Staged.materialized(verified, Seq(shingled))
      cand.unpersist()
      out
  }

  /** Near-dup survivor set: close `pairs` transitively
    * ([[Clustering.connectedComponents]] — each component keeps its
    * minimum id) and anti-join the drops out of `docs`.
    */
  def dropNearDups(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drops = Clustering
      .connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Every stage's output of one [[curate]] run. `quality` and
    * `exactKept` carry the caller's columns plus a `__ws` token-array
    * column (the quality gate's tokenization, reused downstream so the
    * O(len) split never re-runs); `survivors` ⊆ `exactKept`.
    */
  final case class Curated(
      quality: DataFrame,
      exactKept: DataFrame,
      nearDupPairs: DataFrame,
      survivors: DataFrame)

  /** The full curation pipeline: Gopher quality gate → exact dedup
    * (min-id winner per md5 fingerprint; the dedup shuffle carries
    * ONLY (hash, id) — text rides a semi-join) → near-dup pairs under
    * `strategy` (DEFAULT: the banded corpus-scale path) → transitive
    * closure → survivors.
    *
    * Eager: the pair build materializes immediately, so `quality` and
    * `exactKept` are PERSISTED here first (the interpreted quality
    * gate is the per-row cost driver and every later stage consumes
    * its output — without staging it would re-run once per consumer).
    * The caller owns the unpersists of `quality`, `exactKept`, and
    * `nearDupPairs`; `survivors` is returned lazy.
    */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      strategy: NearDupStrategy = defaultStrategy): Curated = {
    val quality = docs
      .withColumn("__ws", TextFunctions.tokens(col(textCol)))
      .filter(TextFunctions.gopherKeep(col("__ws")))
      .persist()
    val exactWinners = quality
      .select(md5(col(textCol)).as("__h"), col(idCol))
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val exactKept = quality.join(exactWinners, Seq(idCol), "left_semi").persist()
    exactKept.count()
    val pairs = nearDupPairs(exactKept, idCol, textCol, strategy)
    Curated(quality, exactKept, pairs, dropNearDups(exactKept, idCol, pairs))
  }
}
