package graft.operators

import graft.util.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS algorithm): hash every character k-gram of
  * the canonical text, slide a window of `w` consecutive hashes, and
  * keep each window's MINIMUM hash. Any shared substring of length
  * >= k + w - 1 between two documents is guaranteed to surface at
  * least one shared fingerprint, while only ~2/(w+1) of the gram
  * hashes are kept — the inverted index is a w-fold compression of
  * the full shingle index [[TextDedup.spanDedup]] builds. No
  * reference counterpart (kafka2delta has no text surface); this is
  * the LLM-pipeline extension tier's overlap detector for
  * copy/boilerplate auditing between corpus slices.
  *
  * This implementation keeps the DISTINCT window minima per document
  * (every window's minimum is a fingerprint — the winnowing
  * guarantee needs nothing more), which makes the per-document
  * fingerprint set order-free and hence SQL-replayable: the gated
  * query uses the portable md5-derived 60-bit gram hash and the
  * DuckDB oracle recomputes grams, window minima, the bucket guard
  * and the overlap counts verbatim. The production default hash is
  * `xxhash64` (codegen'd, no hex detour) — same two-scheme split as
  * [[TextDedup]]'s dedup schemes.
  *
  * Scale shape: fingerprinting is one stateless per-row pass (grams,
  * hashes, window minima are array ops inside whole-stage codegen —
  * no shuffle, no UDF); the overlap join explodes only the winnowed
  * ~2L/(w+1) fingerprints per document, drops fingerprints shared by
  * more than `maxBucketSize` documents (corpus-wide boilerplate — a
  * frequency fact, not a pair fact; the guard caps every bucket's
  * pair fan-out exactly like [[TextDedup.minhashCandidatePairs]]),
  * and self-joins ids only.
  */
object Winnow {

  /** Portable 60-bit gram hash (`('0x' || substr(md5(g),1,15))::BIGINT`
    * in DuckDB) — the SQL-replayable scheme.
    */
  val PortableMd5Hash: Column => Column =
    g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")

  /** Production hash: one codegen'd 64-bit pass, no hex detour. */
  val Xxhash64Hash: Column => Column = g => xxhash64(g)

  /** Distinct window-`w` minima over an ALREADY-STAGED gram-hash
    * array column — the native O(L) monotonic-deque sweep
    * ([[graft.functions.WindowMinima]]). Documents shorter than one
    * full window keep the minimum of what they have — every document
    * yields at least one fingerprint. NativeHashTwinsSpec keeps the
    * interpreted HOF sweep as the differential reference.
    */
  def fingerprintArrayFromHashes(hashes: Column, w: Int): Column =
    array_distinct(
      org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.WindowMinima(
          org.apache.spark.sql.GraftColumnShim.expression(hashes), w)))

  /** Array-level gram hashing: the two PUBLISHED schemes get native
    * twins (portable md5 -> [[graft.functions.Md5Long60Array]], one
    * digest + integer shifts per gram instead of an interpreted
    * md5-hex/substring/conv chain per element); a caller-supplied
    * custom fn keeps the interpreted transform.
    *
    * DISPATCH IS BY REFERENCE IDENTITY on the published
    * [[PortableMd5Hash]] val (r18 ADVICE): a structurally identical
    * lambda a caller builds themselves takes the interpreted path —
    * semantics are preserved, only the native speedup is forfeited.
    * Pass the published vals ([[PortableMd5Hash]] / [[Xxhash64Hash]])
    * to get the fast twins; the custom-fn seam stays interpreted by
    * design (there is no native compiler for arbitrary lambdas).
    */
  private def hashArray(grams: Column, hashFn: Column => Column): Column =
    if (hashFn eq PortableMd5Hash)
      org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.Md5Long60Array(
          org.apache.spark.sql.GraftColumnShim.expression(grams)))
    else transform(grams, g => hashFn(g))

  /** Exploded inverted-index projection: (id, fp), one row per
    * distinct fingerprint per document. Grams and hashes are staged
    * as their own projections before the window sweep (see
    * [[fingerprintArrayFromHashes]]).
    */
  def fingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 8,
      hashFn: Column => Column = Xxhash64Hash): DataFrame =
    TextDedup.spreadToCores(docs)
      .select(col(idCol).as("id"),
        graft.functions.TextFunctions.charShingles(col(textCol), k).as("__g"))
      .select(col("id"), hashArray(col("__g"), hashFn).as("__h"))
      .select(col("id"),
        explode(fingerprintArrayFromHashes(col("__h"), w)).as("fp"))

  /** Document pairs sharing at least `minShared` winnowed
    * fingerprints: (id_a, id_b, n_shared), id_a < id_b. Fingerprints
    * appearing in more than `maxBucketSize` documents are dropped
    * before the pair join (see class doc).
    */
  def overlapPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 8,
      minShared: Int = 10,
      maxBucketSize: Int = 50,
      hashFn: Column => Column = Xxhash64Hash): DataFrame = {
    // persist: the inverted index feeds the bucket-size guard AND both
    // sides of the pair join
    val inv = fingerprints(docs, idCol, textCol, k, w, hashFn).persist()
    val bounded = inv.join(
      inv.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucketSize)
        .drop("__n"),
      Seq("fp"))
    val pairs = bounded.select(col("fp"), col("id").as("id_a"))
      .join(bounded.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    Staged.materialized(pairs, Seq(inv))
  }
}
