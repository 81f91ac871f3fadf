package graft.operators

import graft.functions.TextFunctions
import graft.sources.Store
import graft.util.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale text deduplication operators.
  *
  * All signature computation is per-row over array columns (no shuffle
  * until the candidate-pair join), which is the property that matters at
  * 100 TB: the only shuffles are (1) the explode+groupBy on LSH band
  * hashes — whose cardinality is #docs x #bands, not #shingles — and
  * (2) the bucket-local self-join, which never materializes cross-bucket
  * pairs.
  */
object TextDedup {

  /** Pluggable hash family for MinHash signatures and LSH band hashes.
    *
    * [[XxHash64Scheme]] (the default) hashes with seeded `xxhash64` —
    * the fast path for production corpora. [[PortableMd5Scheme]] hashes
    * with md5 hex strings: md5 is bit-identical across engines and hex
    * strings order identically under plain string comparison, so ANY
    * engine with md5 (DuckDB, Trino, Postgres, ...) can recompute the
    * exact signatures, buckets, and candidate pairs in SQL — that is
    * how `dedup_minhash_lsh` is oracle-gated. The portable scheme costs
    * roughly 2-3x xxhash64 per shingle; use it for verification
    * corpora, not the 100 TB path.
    */
  sealed trait MinhashScheme {
    /** Hash of one shingle under seed `i`; any type with a total order
      * under `least`. */
    private[operators] def shingleHash(seed: Int, shingle: Column): Column
    /** Identity element for `least` over [[shingleHash]] values. */
    private[operators] def hashMax: Column
    /** Hash of one signature band (a slice of the signature array). */
    private[operators] def bandHash(sigSlice: Column): Column
  }

  case object XxHash64Scheme extends MinhashScheme {
    override def shingleHash(seed: Int, shingle: Column): Column = xxhash64(lit(seed), shingle)
    override def hashMax: Column = lit(Long.MaxValue)
    override def bandHash(sigSlice: Column): Column = xxhash64(sigSlice)
  }

  case object PortableMd5Scheme extends MinhashScheme {
    override def shingleHash(seed: Int, shingle: Column): Column =
      md5(concat(lit(s"$seed:"), shingle))
    // 'g' sorts after every hex digit, so it is an identity for `least`
    // over md5 hex strings.
    override def hashMax: Column = lit("g")
    override def bandHash(sigSlice: Column): Column = md5(concat_ws("|", sigSlice))
  }

  /** Spread a SMALL-partition-count input across the cores before
    * per-row-heavy staging (shingling, signatures): local single-file
    * testdata arrives as ONE unsplittable row group, which would
    * serialize the per-row compute. A corpus at scale already has
    * >= cores partitions, and then this is the identity — an
    * unconditional repartition here would be a scan-sized shuffle
    * nobody asked for (flagged in round 6). Parallelism stays
    * caller-owned in the common case.
    */
  // Streaming DataFrames have no .rdd — and micro-batch planning
  // already spreads each batch across cores — so the spread is a
  // batch-only optimization and a no-op on streams. Keeps every
  // stateless caller (Winnow.fingerprints in particular) legal as a
  // readStream transform.
  private[operators] def spreadToCores(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val cores = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
    }

  /** Exact duplicate clusters by canonical-form fingerprint: one row per
    * duplicated fingerprint with the surviving (minimum) id and the ids
    * to drop.
    */
  def exactClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"),
        sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n_copies") > 1)

  /** MinHash signature from an already-staged shingle array.
    *
    * The production xxhash64 scheme resolves to the native
    * [[graft.functions.MinHashSignature]] Catalyst expression — a
    * primitive-array loop per row. The portable-md5 scheme (whose
    * point is SQL replayability, not speed) keeps the ONE-`aggregate`-
    * pass HOF form, which is also retained as
    * [[minhashSignatureFromShinglesHof]] — the bit-identical
    * differential oracle for the native expression
    * (MinHashSignatureSpec).
    */
  def minhashSignatureFromShingles(
      shingles: Column,
      numHashes: Int,
      scheme: MinhashScheme = XxHash64Scheme): Column = scheme match {
    case XxHash64Scheme =>
      org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.MinHashSignature(
          org.apache.spark.sql.GraftColumnShim.expression(shingles), numHashes))
    // the portable scheme's SEMANTICS stay md5-hex SQL (the oracle
    // replays them verbatim); its EXECUTION is the native twin —
    // bit-identical by Md5MinHashSignatureSpec's differential against
    // the HOF form below, ~an order of magnitude less per-shingle
    // overhead (no interpreted aggregate/zip_with, no per-hash hex
    // string, digest-byte comparisons instead of string compares)
    case PortableMd5Scheme =>
      org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.Md5MinHashSignature(
          org.apache.spark.sql.GraftColumnShim.expression(shingles), numHashes))
    case _ => minhashSignatureFromShinglesHof(shingles, numHashes, scheme)
  }

  /** HOF formulation: ONE `aggregate` pass over the shingles
    * maintaining `numHashes` running minimums (per shingle: hash
    * `numHashes` ways, zip into the accumulator with `least`). The
    * obvious alternative — `numHashes` separate
    * `array_min(transform(...))` columns — re-traverses the shingle
    * array once per hash and allocates a shingle-sized intermediate
    * each time; interpreted higher-order functions make that
    * O(numHashes x shingles) array overhead a real constant-factor
    * cost at corpus scale.
    */
  def minhashSignatureFromShinglesHof(
      shingles: Column,
      numHashes: Int,
      scheme: MinhashScheme = XxHash64Scheme): Column =
    aggregate(
      shingles,
      array_repeat(scheme.hashMax, numHashes),
      (acc, s) =>
        zip_with(acc, array((0 until numHashes).map(i => scheme.shingleHash(i, s)): _*),
          (a, h) => least(a, h)))

  /** b-bit minhash (Li & König 2010): keep only the LOW `bits` bits
    * of each signature position. At m=32 hashes, b=4 collapses a
    * 256-byte (or 32x32-char md5) signature to 16 bytes — the store/
    * shuffle compression that makes a corpus-wide signature table
    * ~16x smaller at 100 TB — while the similarity estimate stays
    * unbiased: matching b-bit positions occur at rate
    * `J + (1 - J)/2^b`, so [[bbitEstimateMicro]] inverts that
    * exactly on the integer µ-grid. md5-scheme form (last hex chars —
    * SQL-replayable, the `dedup_minhash_bbit` gate); xxhash64 twin
    * below for production signatures.
    */
  def bbitSignatureMd5(sig: Column, bits: Int): Column = {
    require(bits % 4 == 0 && bits > 0 && bits <= 32, "md5 b-bit wants a multiple of 4 bits")
    transform(sig, h => substring(h, 33 - bits / 4, bits / 4))
  }

  /** xxhash64-scheme b-bit truncation (low `bits` bits of each long). */
  def bbitSignatureXx(sig: Column, bits: Int): Column = {
    require(bits > 0 && bits < 63, "bits must be in [1, 62]")
    transform(sig, h => pmod(h, lit(1L << bits)))
  }

  /** Positions where two b-bit sketches agree. */
  def bbitAgreement(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p))

  /** Unbiased Jaccard estimate from b-bit agreement, floor-quantized
    * to the integer µ-grid (clamped at 0):
    * `Ĵ = (A - 2^-b) / (1 - 2^-b)` with `A = agree/m`, computed as
    * `floor((agree*2^b - m) * 1e6 / (m*(2^b - 1)))` — exact integer
    * numerators, one correctly-rounded IEEE division, replayable.
    */
  def bbitEstimateMicro(agree: Column, m: Int, bits: Int): Column = {
    val pow = 1L << bits
    greatest(lit(0L),
      floor((agree.cast("long") * pow - m).cast("double") * 1000000.0 /
        (m.toDouble * (pow - 1))).cast("long"))
  }

  /** Estimated Jaccard similarity from two MinHash signatures: the
    * fraction of agreeing components.
    */
  private def estimatedJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") / size(sigA)

  /** Default per-bucket candidate-pair budget for the banded LSH
    * guards: the pair count a 2000-doc bucket emits (2000·1999/2), so
    * the default prunes exactly the buckets the former docs-per-bucket
    * guard pruned — but the PARAMETER is now the quadratic quantity a
    * caller tunes for scale: halving the admissible work means halving
    * the budget, not reasoning about sqrt.
    */
  val defaultBucketPairBudget: Long = 1999000L

  /** Default GLOBAL candidate-pair budget for the banded LSH paths —
    * the r17 sf16 lesson made structural: per-bucket budgets bound any
    * single mega-bucket, but a mis-sized operating point (fixed 8×4 at
    * 800k fixed-vocab docs) emits ~n² candidates spread across MANY
    * compliant buckets and OOMs the join downstream with no guard ever
    * tripping. The global gate pre-counts the admitted buckets' exact
    * pair total (decimal arithmetic, in-plan — see
    * [[minhashCandidatePairsAndShingles]]) and fails loudly with the
    * measured count instead. 2×10^8 pairs ≈ the signature-join volume
    * a 32 GiB local JVM survives with headroom; corpus-scale callers
    * tune it like every other budget.
    */
  val defaultTotalPairBudget: Long = 200000000L

  /** Default banded-MinHash operating point. The band split is NOT a
    * hand-set constant: it is [[LshTuning.pick]]'s S-curve-midpoint
    * choice for the documented (signature budget, threshold) — for
    * (32, 0.5) that is (bands 8, rows 4), P(candidate | J = 0.5) ≈
    * 0.40, the closest midpoint the divisor grid offers. Change the
    * budget or threshold and the split re-derives itself.
    */
  val defaultNumHashes: Int = 32
  val defaultMinhashThreshold: Double = 0.5
  val (defaultBands: Int, defaultRowsPerBand: Int) =
    LshTuning.pick(defaultNumHashes, defaultMinhashThreshold)

  /** n·(n−1)/2 <= maxBucketPairs, exactly, for ANY long bucket count:
    * the product is computed in decimal(38,0) — a long-sized n squares
    * to at most ~8.5e37, inside 38 digits — so a mega-bucket beyond
    * ~3.04e9 rows can never wrap the comparison and silently pass the
    * guard in exactly the regime it exists to bound. The budget is
    * clamped so `2·maxBucketPairs` itself cannot overflow; budgets
    * above Long.MaxValue/2 pairs are indistinguishable from unbounded
    * and rejected loudly. Evaluated once per BUCKET (post-aggregation),
    * so the decimal math costs nothing measurable.
    */
  /** Bucket admission with BOTH pair budgets — per-bucket and GLOBAL —
    * applied to a `(key columns…, nCol)` bucket-count table; returns
    * the admitted key columns (nCol dropped), ready for the
    * candidate-generating self-join.
    *
    * The GLOBAL pre-count gate is IN-PLAN (r17 review: the 8×4 minhash
    * form OOM'd the JVM at sf16 with every per-bucket budget green —
    * n² false positives spread across compliant buckets). The admitted
    * buckets' exact pair total, Σ n(n−1), is summed in decimal(38,0)
    * (each admitted term ≤ 2·maxBucketPairs, so the sum cannot
    * overflow 38 digits below ~10^31 buckets; a null sum — the
    * impossible overflow — fails the gate rather than passing it) and
    * raises loudly with the measured count BEFORE the pair join
    * materializes anything. The one-row gate rides a broadcast
    * cross-join (PlanAudit's sanctioned one-row-aggregate shape) and a
    * filter keeps it un-prunable, so the whole check stays lazy inside
    * the plan — no extra driver action.
    */
  private[graft] def boundedBucketKeys(
      counts: DataFrame,
      nCol: String,
      maxBucketPairs: Long,
      maxTotalPairs: Long,
      what: String): DataFrame = {
    require(maxTotalPairs >= 0 && maxTotalPairs <= Long.MaxValue / 2,
      s"maxTotalPairs must be in [0, ${Long.MaxValue / 2}], got $maxTotalPairs")
    val admitted = counts.filter(withinPairBudget(col(nCol), maxBucketPairs))
    val gate = admitted
      .agg(sum(col(nCol).cast("decimal(38,0)") *
        (col(nCol).cast("decimal(38,0)") - 1)).as("__tp2"),
        count(lit(1)).as("__nbk"))
      .select(
        // a null sum with admitted buckets present is the (practically
        // impossible) decimal overflow — fail rather than pass; a null
        // sum over ZERO admitted buckets is just an empty candidate
        // stage (e.g. an all-gate-dropped first streaming batch) and
        // must pass with zero pairs
        when((col("__nbk") > 0 && col("__tp2").isNull) ||
          col("__tp2") > lit(2L) * lit(maxTotalPairs),
          raise_error(concat(
            lit(s"TextDedup: $what candidate pairs "),
            // a NULL count here is the decimal-overflow branch —
            // without the coalesce the whole concat goes null and the
            // raise carries no message (r18 ADVICE)
            coalesce((col("__tp2") / 2).cast("decimal(38,0)").cast("string"),
              lit("<decimal overflow>")),
            lit(s" exceed maxTotalPairs=$maxTotalPairs — the bucketing is " +
              "mis-sized for this corpus; deepen it (LshTuning.pickSized / " +
              "a longer blocking key) or raise the budget"))))
          .otherwise(lit(1)).as("__gate"))
    admitted
      .drop(nCol)
      .crossJoin(broadcast(gate))
      .filter(col("__gate") === 1)
      .drop("__gate")
  }

  private[graft] def withinPairBudget(n: Column, maxBucketPairs: Long): Column = {
    require(maxBucketPairs >= 0 && maxBucketPairs <= Long.MaxValue / 2,
      s"maxBucketPairs must be in [0, ${Long.MaxValue / 2}], got $maxBucketPairs")
    val nd = n.cast("decimal(38,0)")
    nd * (nd - lit(1L)) <= lit(2L * maxBucketPairs)
  }

  /** MinHash + LSH candidate duplicate pairs.
    *
    * Pipeline: per-row signatures -> band hashes (`bands` bands of
    * `numHashes / bands` rows, hashed together) -> explode bands ->
    * bucket-join on (band index, band hash) -> estimate Jaccard from
    * the full signatures -> keep pairs above `threshold`.
    *
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated
    * across bands.
    *
    * Eagerly materialized; the returned DataFrame is persisted and the
    * intermediate caches released (see [[materialized]]).
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = defaultNumHashes,
      bands: Int = defaultBands,
      threshold: Double = defaultMinhashThreshold,
      maxBucketPairs: Long = defaultBucketPairBudget,
      shingler: (Column, Column) => Column = (toks, _) => TextFunctions.ngramsFromTokens(toks, 3),
      scheme: MinhashScheme = XxHash64Scheme,
      maxTotalPairs: Long = defaultTotalPairBudget): DataFrame = {
    val (pairs, shingled) =
      minhashCandidatePairsAndShingles(df, idCol, textCol, numHashes, bands, threshold,
        maxBucketPairs, shingler, scheme, maxTotalPairs)
    shingled.unpersist()
    pairs
  }

  /** [[minhashCandidatePairs]] plus the persisted `(id, sh)` distinct-
    * shingle projection the signatures were built from. An exact-verify
    * stage (e.g. [[jaccardFromShingles]] over the candidate pairs) MUST
    * reuse these staged arrays: re-deriving shingles from raw text on
    * both sides of the verify join re-runs the interpreted shingling —
    * the most expensive per-row step of the whole pipeline — once per
    * pair side per run. The caller owns `.unpersist()` of the second
    * element.
    */
  def minhashCandidatePairsAndShingles(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = defaultNumHashes,
      bands: Int = defaultBands,
      threshold: Double = defaultMinhashThreshold,
      maxBucketPairs: Long = defaultBucketPairBudget,
      shingler: (Column, Column) => Column = (toks, _) => TextFunctions.ngramsFromTokens(toks, 3),
      scheme: MinhashScheme = XxHash64Scheme,
      maxTotalPairs: Long = defaultTotalPairBudget): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(maxTotalPairs >= 0 && maxTotalPairs <= Long.MaxValue / 2,
      s"maxTotalPairs must be in [0, ${Long.MaxValue / 2}], got $maxTotalPairs")
    val (tokenized, shingled, sigs) = stagedSignatures(df, idCol, textCol, numHashes, shingler, scheme)
    // Bucket-join on ids only: carrying the 32-long signatures through
    // the band shuffle would multiply shuffle volume ~8x (once per
    // shared band); instead dedupe candidate id-pairs first, then join
    // the (persisted) signatures back exactly once per pair.
    val nLongs = (numHashes + 15) / 16
    val bbCols = (0 until nLongs).map(w => s"__bb$w")
    val sigsBb = sigs.select(
      col("id") +: col("sig") +:
        packedNibbles(col("sig"), numHashes).zip(bbCols).map { case (c, n) => c.as(n) }: _*)
    val banded = bandTable(sigsBb, numHashes, bands, scheme, carry = bbCols)
    // Mega-bucket guard, parameterized as the PAIR budget a bucket may
    // emit: a band value shared by a near-identical cluster of m docs
    // yields m(m-1)/2 candidate pairs, so capping docs hides a
    // quadratic cost — the budget is the quantity a 100 TB operator
    // must bound. Over-budget buckets are dropped — such clusters are
    // duplicate *groups*, found far cheaper by exactClusters/
    // fingerprint grouping than pairwise LSH.
    val bucketCounts = banded.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__bucket_n"))
      .persist()
    val bucketSizes = boundedBucketKeys(bucketCounts, "__bucket_n",
      maxBucketPairs, maxTotalPairs, "banded-LSH")
    val bounded = banded.join(bucketSizes, Seq("band", "band_hash"))
    val a = bounded.select(col("band") +: col("band_hash") +: col("id").as("id_a") +:
      bbCols.map(n => col(n).as(s"${n}_a")): _*)
    val b = bounded.select(col("band") +: col("band_hash") +: col("id").as("id_b") +:
      bbCols.map(n => col(n).as(s"${n}_b")): _*)
    // lossless in-join prefilter (see packedNibbles): nibble agreement
    // >= the minimum full agreement the est gate below can accept,
    // corrected for phantom agreements of unused high nibbles
    val phantom = nLongs * 16 - numHashes
    val minAgree = math.ceil(threshold * numHashes - 1e-9).toLong + phantom
    val bbAgree = bbCols.map(n => nibbleAgreement(col(s"${n}_a"), col(s"${n}_b")))
      .reduce(_ + _)
    val candidates = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b") && bbAgree >= minAgree)
      .select(col("id_a"), col("id_b"))
      .distinct()
      .persist()
    // STAT-DRIVEN broadcast for the signature join-back (the
    // SemanticDedup precedent): the candidate table is freshly
    // persisted and its exact count is one cheap cached action, while
    // Catalyst's static estimate falls off the 10 MB broadcast cliff
    // at rehearsal scale and shuffles the corpus-sized signature table
    // TWICE. Below the cutoff both attach joins broadcast the pair
    // side (the second carries sig_a, so the cutoff is sized for
    // pairs x one signature ≈ 100 MB at 100k pairs) and `sigs`
    // streams twice, shuffle-free; above it the shuffle join is the
    // right corpus-scale plan.
    val sigA = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val sigB = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    val attached =
      if (candidates.count() <= 100000L)
        broadcast(broadcast(candidates).join(sigA, "id_a")).join(sigB, "id_b")
      else
        candidates.join(sigA, "id_a").join(sigB, "id_b")
    val result = attached
      .select(col("id_a"), col("id_b"), estimatedJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    // `shingled` stays persisted for the caller's verify stage
    (Staged.materialized(result, Seq(tokenized, sigs, bucketCounts, candidates)), shingled)
  }

  /** The staged signature pipeline shared by the pairwise and the
    * store-backed (incremental) MinHash paths.
    *
    * Word 3-gram shingles by default: ~#tokens elements per doc instead
    * of ~#chars for character shingles — higher-order functions are
    * interpreted (not codegen'd), so the per-element count is the cost
    * driver. The shingler receives (tokenArray, rawText); pass
    * `(_, text) => TextFunctions.charShingles(text, 5)` for
    * short/no-whitespace corpora.
    * Staged through persist boundaries: without them, CollapseProject
    * inlines the shingle computation into each of the `numHashes`
    * min-hash transforms (a ~32x recompute) and the signature into
    * every band hash and both join sides. Spread across cores first
    * ([[spreadToCores]]) so the per-row compute uses every core even
    * when the input is one unsplittable file/row-group.
    *
    * @return (tokenized, shingled, sigs), each persisted; the caller
    *         owns the unpersists
    */
  private[operators] def stagedSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      shingler: (Column, Column) => Column,
      scheme: MinhashScheme): (DataFrame, DataFrame, DataFrame) = {
    val spread = spreadToCores(df)
    // Tokenize in its own persisted projection: the default shingler
    // derives n-grams from the bound token attribute, so the O(len)
    // split never re-runs per shingle element.
    val tokenized = spread.select(
      col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("toks"),
      col(textCol).as("__text"))
      .persist()
    val shingled = tokenized.select(
      col("id"),
      array_distinct(shingler(col("toks"), col("__text"))).as("sh"))
      .persist()
    val sigs = shingled.select(
      col("id"),
      minhashSignatureFromShingles(col("sh"), numHashes, scheme).as("sig"))
      .persist()
    (tokenized, shingled, sigs)
  }

  /** Exploded LSH band table (id, band, band_hash) from a signature
    * table — the join key of both the pairwise bucket join and the
    * incremental store probe.
    */
  private[operators] def bandTable(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      scheme: MinhashScheme,
      carry: Seq[String] = Nil): DataFrame = {
    val rows = numHashes / bands
    sigs.select(
      col("id") +: carry.map(col) :+
        posexplode(array((0 until bands).map { b =>
          scheme.bandHash(slice(col("sig"), b * rows + 1, rows))
        }: _*)).as(Seq("band", "band_hash")): _*)
  }

  // ---------------- packed-nibble in-join prefilter ----------------
  //
  // The bucket join emits one row per pair of bucket co-occupants;
  // estimating Jaccard for every one of them (two 32-long join-backs
  // + an interpreted zip_with) is where a low-diversity corpus melts —
  // candidate volume is bucket-size^2-shaped while true pairs are few.
  // A 4-bit sketch of each signature component, packed 16 nibbles per
  // long, rides the band shuffle at 8 bytes per word and admits a
  // LOSSLESS in-join prefilter: equal components ALWAYS agree in
  // their nibble, so nibble-agreement >= full-signature agreement,
  // and any pair passing `est = agree/numHashes >= threshold` must
  // show nibble agreement >= ceil(threshold*numHashes). The filter is
  // pure codegen builtins (xor + SWAR nibble-OR-fold + popcount), so
  // the quadratic candidate stream dies inside the joined stage and
  // distinct/est see true-pair-shaped volume.

  /** Packed 4-bit sketch words for a signature column: nibble i is
    * `xxhash64(sig[i]) & 15` (element-type agnostic — long and md5
    * string schemes alike), 16 nibbles per long, little-nibble-first.
    */
  private[graft] def packedNibbles(sigCol: Column, numHashes: Int): Seq[Column] = {
    val nLongs = (numHashes + 15) / 16
    (0 until nLongs).map { w =>
      val n = math.min(16, numHashes - w * 16)
      (0 until n).map { i =>
        shiftleft(xxhash64(element_at(sigCol, w * 16 + i + 1)).bitwiseAND(lit(15L)), i * 4)
      }.reduce(_ bitwiseOR _)
    }
  }

  /** Count of agreeing nibbles between two packed words (16 per long):
    * xor, OR-fold each nibble into its low bit (shifts stay inside the
    * nibble for the bits that are read), mask, popcount differing.
    */
  private[graft] def nibbleAgreement(a: Column, b: Column): Column = {
    val x = a.bitwiseXOR(b)
    val y = x.bitwiseOR(shiftright(x, 1))
    val z = y.bitwiseOR(shiftright(y, 2))
    lit(16) - bit_count(z.bitwiseAND(lit(0x1111111111111111L)))
  }

  // ------------------- incremental (store-backed) dedup -------------------
  //
  // A training corpus is built in rounds; re-running pairwise dedup over
  // the full corpus per increment is O(corpus) when it should be
  // O(increment). The store-backed forms keep per-corpus state — exact:
  // one fingerprint per kept doc; near-dup: the signature and band
  // tables — and dedup each increment against that state. At 100 TB the
  // store lives as parquet partitioned by a band_hash prefix (bands) and
  // bucketed by id (sigs); each round appends the survivors' rows.

  /** Exact incremental dedup: rows of `incoming` whose canonical
    * fingerprint is not in `storeFps` (a table with an `fp` column) and
    * is the first (minimum id) occurrence within the increment. A
    * fingerprint already in the store drops ALL its increment copies.
    * Append the result to the store to complete the ingest round.
    *
    * One map-side-combinable groupBy on the increment plus one anti
    * join against the store — cost scales with the increment; the
    * store side streams through the join without materializing.
    */
  def exactSurvivorsAgainstStore(
      incoming: DataFrame,
      storeFps: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    incoming
      .select(col(idCol).as("id"), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp")).agg(min(col("id")).as("id"))
      .join(storeFps.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .select(col("id"), col("fp"))

  /** Near-dup store: `sigs` (id, sig) and `bands` (id, band, band_hash),
    * both persisted when built in-session; release with
    * [[MinhashStore.unpersist]] (a no-op for disk-backed stores from
    * [[loadMinhashStore]], whose point is staying on disk).
    *
    * `prefixBuckets` is set on loaded stores: the band table then
    * carries a `__bp` partition column (`xxhash64(band_hash) mod
    * prefixBuckets`) and [[minhashAgainstStore]] prunes the store read
    * to the increment's band-hash prefixes at the directory level.
    */
  final case class MinhashStore(
      sigs: DataFrame,
      bands: DataFrame,
      prefixBuckets: Option[Int] = None) {
    def unpersist(): Unit = { sigs.unpersist(); bands.unpersist() }
  }

  /** The store-side band read of [[minhashAgainstStore]]: for a
    * disk-backed store, pruned to the increment's band-hash prefixes.
    * The collect is bounded by prefixBuckets (<= 64 values) regardless
    * of increment or store size, and every row of a given band_hash
    * shares one prefix, so the per-bucket size guard stays exact under
    * pruning. StorePersistenceSpec asserts the parquet scan carries
    * the `__bp` PartitionFilters.
    */
  private[graft] def prunedStoreBands(store: MinhashStore, inBands: DataFrame): DataFrame =
    store.prefixBuckets match {
      case Some(nb) =>
        Store.pruned(store.bands, "__bp", inBands.select(Store.prefix(nb, col("band_hash"))))
          .drop("__bp")
      case None => store.bands
    }

  /** The store-side gram read of [[removeDupSpansAgainstStore]]:
    * pruned to the increment's gram prefixes for disk-backed stores
    * (bounded collect, same argument as [[prunedStoreBands]]), probed
    * with the BROADCAST increment keys, then summed per gram over the
    * (small) hit set — the additive-deltas contract.
    */
  private[graft] def prunedStoreGrams(store: SpanStore, incCounts: DataFrame): DataFrame = {
    val storeGrams = store.prefixBuckets match {
      case Some(nb) =>
        Store.pruned(store.grams, "__gp", incCounts.select(Store.prefix(nb, col("gram"))))
      case None => store.grams
    }
    storeGrams
      .select(col("gram"), col("n"))
      .join(broadcast(incCounts.select(col("gram"))), Seq("gram"))
      .groupBy(col("gram")).agg(sum(col("n")).as("__store_n"))
  }

  /** Build the near-dup store for a corpus (one-time, or the union of
    * prior survivors).
    */
  def buildMinhashStore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = defaultNumHashes,
      bands: Int = defaultBands,
      shingler: (Column, Column) => Column = (toks, _) => TextFunctions.ngramsFromTokens(toks, 3),
      scheme: MinhashScheme = XxHash64Scheme): MinhashStore = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val (tokenized, shingled, sigs) = stagedSignatures(df, idCol, textCol, numHashes, shingler, scheme)
    val banded = bandTable(sigs, numHashes, bands, scheme).persist()
    banded.count() // materialize while upstream caches are alive
    tokenized.unpersist()
    shingled.unpersist()
    MinhashStore(sigs, banded)
  }

  /** Near-duplicate matches of an increment against the store:
    * (id, store_id, est_jaccard) for every incoming doc whose signature
    * shares a band bucket with a stored doc and whose estimated Jaccard
    * clears `threshold`. The caller drops matched ids and appends the
    * survivors' signature/band rows to the store.
    *
    * The mega-bucket guard applies to STORE bucket sizes (the corpus
    * side is where degenerate near-identical clusters live; the
    * increment is small by construction): store buckets over the
    * `maxBucketPairs` pair budget are dropped, same rationale as the
    * pairwise form.
    */
  def minhashAgainstStore(
      incoming: DataFrame,
      store: MinhashStore,
      idCol: String,
      textCol: String,
      numHashes: Int = defaultNumHashes,
      bands: Int = defaultBands,
      threshold: Double = defaultMinhashThreshold,
      maxBucketPairs: Long = defaultBucketPairBudget,
      shingler: (Column, Column) => Column = (toks, _) => TextFunctions.ngramsFromTokens(toks, 3),
      scheme: MinhashScheme = XxHash64Scheme): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val (tokenized, shingled, sigs) = stagedSignatures(incoming, idCol, textCol, numHashes, shingler, scheme)
    val inBands = bandTable(sigs, numHashes, bands, scheme)
    val storeBands = prunedStoreBands(store, inBands)
    val boundedStore = storeBands
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(withinPairBudget(col("__bucket_n"), maxBucketPairs))
      .drop("__bucket_n")
      .join(storeBands, Seq("band", "band_hash"))
      .select(col("band"), col("band_hash"), col("id").as("store_id"))
    val candidates = inBands
      .join(boundedStore, Seq("band", "band_hash"))
      .filter(col("id") =!= col("store_id")) // re-ingested same-id rows are not matches
      .select(col("id"), col("store_id"))
      .distinct()
    val result = candidates
      .join(sigs.select(col("id"), col("sig").as("sig_new")), "id")
      .join(store.sigs.select(col("id").as("store_id"), col("sig").as("sig_store")), "store_id")
      .select(
        col("id"), col("store_id"),
        estimatedJaccard(col("sig_new"), col("sig_store")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    Staged.materialized(result, Seq(tokenized, shingled, sigs))
  }

  /** Persist a [[MinhashStore]] to parquet — the state a restarted
    * pipeline reloads instead of re-signing the corpus. The band table
    * is written PARTITIONED BY a band-hash prefix (`xxhash64(band_hash)
    * mod prefixBuckets`), so a loaded store's probe reads only the
    * directories the increment's band hashes land in (the same
    * directory-pruning trade as [[IvfAnn.save]]'s list-partitioned
    * layout); the signature table and a one-row meta parquet ride
    * along.
    */
  def saveMinhashStore(store: MinhashStore, path: String, prefixBuckets: Int = 64): Unit =
    Store.write(store.sigs.sparkSession, path)(minhashOps(store, prefixBuckets, append = false): _*)

  /** The write of `rows` into a store of `prefixBuckets` band-prefix
    * buckets — whole tables plus meta, or (`append`) new data files —
    * for the store alone or nested in another.
    */
  private[graft] def minhashOps(
      rows: MinhashStore, prefixBuckets: Int, append: Boolean): Seq[Store.Op] = {
    val bands = rows.bands.select(col("id"), col("band"), col("band_hash"))
      .withColumn("__bp", Store.prefix(prefixBuckets, col("band_hash")))
    val sigs = rows.sigs.select(col("id"), col("sig"))
    if (append) Seq(Store.Add("bands", bands, Some("__bp")), Store.Add("sigs", sigs))
    else Seq(Store.Put("bands", bands, Some("__bp")), Store.Put("sigs", sigs),
      Store.meta(rows.sigs.sparkSession, "prefixBuckets" -> prefixBuckets))
  }

  /** Load a persisted [[MinhashStore]]. Nothing is eagerly cached: the
    * partitioned layout exists so probes read only their band-hash
    * prefixes from disk.
    */
  def loadMinhashStore(spark: org.apache.spark.sql.SparkSession, path: String): MinhashStore =
    minhashStore(Store(spark, path))

  private[graft] def minhashStore(st: Store): MinhashStore =
    MinhashStore(st.read("sigs"), st.read("bands"), Some(st.meta.getAs[Int]("prefixBuckets")))

  /** Fold an ingest round's SURVIVORS (the increment rows that
    * [[minhashAgainstStore]] did not match) into the store without
    * rebuilding it — the [[IvfAnn.append]] shape: only the increment
    * is signed and banded (one staged-signature pass over it, no
    * corpus shuffle), then unioned in. Signatures are per-row
    * deterministic, so the result equals [[buildMinhashStore]] over
    * the union corpus (IncrementalDedupSpec asserts probe-equivalence).
    * The input store is untouched; the caller owns both lifecycles.
    */
  def absorbIntoMinhashStore(
      store: MinhashStore,
      survivors: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = defaultNumHashes,
      bands: Int = defaultBands,
      shingler: (Column, Column) => Column = (toks, _) => TextFunctions.ngramsFromTokens(toks, 3),
      scheme: MinhashScheme = XxHash64Scheme): MinhashStore = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val (tokenized, shingled, sigs) = stagedSignatures(survivors, idCol, textCol, numHashes, shingler, scheme)
    val newBands = store.prefixBuckets match {
      case Some(nb) =>
        bandTable(sigs, numHashes, bands, scheme)
          .withColumn("__bp", Store.prefix(nb, col("band_hash")))
      case None => bandTable(sigs, numHashes, bands, scheme)
    }
    val mergedSigs = store.sigs.unionByName(sigs).persist()
    val mergedBands = store.bands.unionByName(newBands).persist()
    mergedSigs.count()
    mergedBands.count()
    tokenized.unpersist(); shingled.unpersist(); sigs.unpersist()
    MinhashStore(mergedSigs, mergedBands, store.prefixBuckets)
  }

  /** [[absorbIntoMinhashStore]] for a PERSISTED store: sign and band
    * the survivors, then add them to the saved layout in one store
    * write — only the band-hash prefixes that receive rows gain files;
    * existing files are untouched. The 100 TB ingest path: no store
    * read, no rewrite, probes keep pruning at the directory level.
    */
  def appendToSavedMinhashStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      survivors: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = defaultNumHashes,
      bands: Int = defaultBands,
      shingler: (Column, Column) => Column = (toks, _) => TextFunctions.ngramsFromTokens(toks, 3),
      scheme: MinhashScheme = XxHash64Scheme): Unit = {
    val inc = buildMinhashStore(survivors, idCol, textCol, numHashes, bands, shingler, scheme)
    try Store.write(spark, path)(
      minhashOps(inc, Store(spark, path).meta.getAs[Int]("prefixBuckets"), append = true): _*)
    finally inc.unpersist()
  }

  /** Exact duplicated-SPAN removal — the substring-level dedup family
    * (C4's duplicated-span removal, Lee et al.'s exact-substring
    * dedup): document-level dedup misses boilerplate that rides inside
    * otherwise-unique documents. Every k-token window whose exact text
    * occurs at least `minOccurrences` times in the corpus (across or
    * within documents) marks its positions; marked positions are
    * removed from EVERY document (the aggressive remove-all policy —
    * deterministic and order-free, where keep-one needs a global
    * owner election) and the cleaned text is reassembled in token
    * order.
    *
    * Scale shape: one O(total tokens) window explode (the inherent
    * substring-dedup cost, same as [[globalNgramDupStats]]), a
    * map-side-combinable gram count, and only DUPLICATED window starts
    * explode k-wide into positions — boilerplate is rare relative to
    * the corpus, so the cover join is small.
    *
    * Dual key scheme (same pattern as MinhashScheme): the default
    * (`hashedGramKeys = false`) keeps the gram STRINGS as count/join
    * keys — exact at any scale and what the SQL oracle replays.
    * `hashedGramKeys = true` is the opt-in 100 TB path: keys become
    * `xxhash64` of the window text — an 8-byte long instead of a
    * k-token string, cutting the width of the two largest shuffles by
    * ~an order of magnitude. A 64-bit collision would remove a
    * non-duplicated span; at n grams the chance any collision exists
    * is ~n^2/2^65 (even 10^12 grams keeps it ~3%, and a collision
    * costs k tokens of over-removal, not corruption). The exact scheme
    * is the default so external callers never silently trade
    * exactness for width; IncrementalDedupSpec asserts both paths
    * select identical spans.
    *
    * @return (id, n_tokens, removed_tokens, clean_text), one row per
    *         input document; fully-removed docs get clean_text = "".
    */
  def removeDupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minOccurrences: Int = 2,
      hashedGramKeys: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = stagedSpanTokens(df, idCol, textCol)
    val grams = stagedSpanGrams(toks, k, hashedGramKeys)
    val dupGrams = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minOccurrences)
      .select(col("gram"))
    val out = cleanedFromCoveredGrams(toks, grams, dupGrams, k)
    Staged.materialized(out, Seq(toks, grams))
  }

  /** Persisted `(id, toks)` projection shared by the span-dedup forms. */
  private def stagedSpanTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spreadToCores(df)
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .persist()

  /** Persisted k-token windows with 1-based start positions; docs
    * shorter than k have no window and survive untouched. Hashed keys
    * shrink the count + cover shuffles to 8 bytes/gram.
    */
  private def stagedSpanGrams(toks: DataFrame, k: Int, hashedGramKeys: Boolean): DataFrame =
    toks.select(
        col("id"),
        posexplode(
          when(size(col("toks")) >= k,
            transform(sequence(lit(1), size(col("toks")) - (k - 1)),
              i => concat_ws(" ", slice(col("toks"), i, lit(k)))))
            .otherwise(array().cast("array<string>"))).as(Seq("p0", "gram")))
      .select(col("id"), (col("p0") + 1).as("start"),
        (if (hashedGramKeys) xxhash64(col("gram")) else col("gram")).as("gram"))
      .persist()

  /** Expand duplicated-gram window starts into covered positions,
    * strip them, reassemble clean text in token order — the shared
    * tail of [[removeDupSpans]] and [[removeDupSpansAgainstStore]].
    */
  private def cleanedFromCoveredGrams(
      toks: DataFrame,
      grams: DataFrame,
      dupGrams: DataFrame,
      k: Int): DataFrame = {
    val covered = grams.join(dupGrams, "gram")
      .select(col("id"), explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .distinct()
    val positions = toks
      .select(col("id"), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("tok"))
    val kept = positions.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("kept_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")),
          " ").as("clean_text"))
    toks.select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(
        col("id"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-corpus gram-count state for INCREMENTAL span dedup: the
    * k-token window counts of the already-ingested corpus, persisted
    * for probing by each increment. Key scheme must match the probe's
    * (`hashedGramKeys`); release with [[SpanStore.unpersist]] (a no-op
    * for disk-backed stores from [[loadSpanStore]]).
    *
    * Counts are ADDITIVE across rows: `grams` may carry several
    * (gram, n) rows per gram — [[absorbIntoSpanStore]] and
    * [[appendToSavedSpanStore]] append count DELTAS instead of
    * rewriting the corpus-sized count table, and the probe sums per
    * gram over its (small) hit set. [[saveSpanStore]] compacts back to
    * one row per gram.
    *
    * `prefixBuckets` is set on loaded stores: `grams` then carries a
    * `__gp` partition column (`xxhash64(gram) mod prefixBuckets`) and
    * the probe prunes the store read to the increment's gram prefixes
    * at the directory level.
    */
  final case class SpanStore(
      grams: DataFrame,
      k: Int,
      hashedGramKeys: Boolean,
      prefixBuckets: Option[Int] = None) {
    def unpersist(): Unit = { grams.unpersist(); () }
  }

  /** Build the [[SpanStore]]: one window explode + one
    * map-side-combinable count over the corpus — the same O(total
    * tokens) cost [[removeDupSpans]] pays once, amortized here across
    * every future increment.
    */
  def buildSpanStore(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      hashedGramKeys: Boolean = false): SpanStore = {
    require(k > 0, "k must be positive")
    val toks = stagedSpanTokens(corpus, idCol, textCol)
    val grams = stagedSpanGrams(toks, k, hashedGramKeys)
    val counts = grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
    val store = Staged.materialized(counts, Seq(toks, grams))
    SpanStore(store, k, hashedGramKeys)
  }

  /** Span-dedup an ingest INCREMENT against the store: a window is
    * boilerplate when its total occurrence count across store +
    * increment reaches `minOccurrences` — exactly
    * `removeDupSpans(store corpus ∪ increment)` restricted to the
    * increment's documents (IncrementalDedupSpec asserts that
    * equivalence), without recomputing the corpus side.
    *
    * Scale shape: only the increment explodes and shuffles
    * (O(increment tokens)). The store side NEVER moves: its counts are
    * probed with an inner join against a BROADCAST of the increment's
    * distinct gram keys — a left join keyed the other way would
    * shuffle the whole corpus-sized store per batch. The broadcast
    * carries one key per distinct increment gram (the same
    * batch-sized-increment contract as the decontamination probe); a
    * corpus-sized "increment" is [[removeDupSpans]]'s job.
    */
  def removeDupSpansAgainstStore(
      increment: DataFrame,
      store: SpanStore,
      idCol: String,
      textCol: String,
      minOccurrences: Int = 2): DataFrame = {
    val toks = stagedSpanTokens(increment, idCol, textCol)
    val grams = stagedSpanGrams(toks, store.k, store.hashedGramKeys)
    val incCounts = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("__inc_n"))
      .persist()
    // The probe joins the (pruned) store with the BROADCAST increment
    // keys and sums per gram — the store's counts are additive deltas,
    // and only the hit set (one row per increment-shared gram per
    // delta) reaches the sum.
    val storeHits = prunedStoreGrams(store, incCounts)
    val dupGrams = incCounts
      .join(storeHits, Seq("gram"), "left")
      .filter(col("__inc_n") + coalesce(col("__store_n"), lit(0L)) >= minOccurrences)
      .select(col("gram"))
    val out = cleanedFromCoveredGrams(toks, grams, dupGrams, store.k)
    Staged.materialized(out, Seq(toks, grams, incCounts))
  }

  /** Persist a [[SpanStore]] to parquet, COMPACTED to one row per gram
    * (summing any absorbed deltas) and PARTITIONED BY a gram-key
    * prefix, so a loaded store's probe reads only the directories the
    * increment's grams land in. `k`/`hashedGramKeys`/`prefixBuckets`
    * ride along in a one-row meta parquet — a loaded store is
    * self-describing.
    */
  def saveSpanStore(store: SpanStore, path: String, prefixBuckets: Int = 64): Unit = {
    val spark = store.grams.sparkSession
    Store.write(spark, path)(
      Store.Put("grams",
        store.grams.groupBy(col("gram")).agg(sum(col("n")).as("n"))
          .withColumn("__gp", Store.prefix(prefixBuckets, col("gram"))),
        Some("__gp")),
      Store.meta(spark,
        "k" -> store.k, "hashedGramKeys" -> store.hashedGramKeys, "prefixBuckets" -> prefixBuckets))
  }

  /** Load a persisted [[SpanStore]]. Nothing is eagerly cached: probes
    * prune the partitioned layout on disk.
    */
  def loadSpanStore(spark: org.apache.spark.sql.SparkSession, path: String): SpanStore = {
    val st = Store(spark, path)
    SpanStore(
      st.read("grams"),
      st.meta.getAs[Int]("k"),
      st.meta.getAs[Boolean]("hashedGramKeys"),
      Some(st.meta.getAs[Int]("prefixBuckets")))
  }

  /** Fold an ingest round's increment into the store without
    * rebuilding it: ONE window explode + count over the increment
    * (O(increment tokens)), appended as count DELTAS — the store side
    * is never scanned, shuffled, or rewritten; the probe sums deltas
    * per gram over its hit set. Counts add, so the result is
    * probe-equivalent to [[buildSpanStore]] over the union corpus
    * (IncrementalDedupSpec asserts it). The input store is untouched;
    * the caller owns both lifecycles.
    */
  def absorbIntoSpanStore(
      store: SpanStore,
      increment: DataFrame,
      idCol: String,
      textCol: String): SpanStore = {
    val toks = stagedSpanTokens(increment, idCol, textCol)
    val grams = stagedSpanGrams(toks, store.k, store.hashedGramKeys)
    val delta0 = grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
    val delta = store.prefixBuckets match {
      case Some(nb) => delta0.withColumn("__gp", Store.prefix(nb, col("gram")))
      case None => delta0
    }
    val deltaP = delta.persist()
    deltaP.count()
    toks.unpersist(); grams.unpersist()
    SpanStore(store.grams.unionByName(deltaP), store.k, store.hashedGramKeys,
      store.prefixBuckets)
  }

  /** [[absorbIntoSpanStore]] for a PERSISTED store: count the
    * increment's windows and add the deltas to the saved layout in one
    * store write — only the gram prefixes that receive rows gain
    * files, nothing is read back or rewritten (the additive-counts
    * contract makes upsert unnecessary). Re-save via [[saveSpanStore]]
    * to compact when delta files accumulate.
    */
  def appendToSavedSpanStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      increment: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val st = Store(spark, path)
    val toks = stagedSpanTokens(increment, idCol, textCol)
    val grams = stagedSpanGrams(toks, st.meta.getAs[Int]("k"), st.meta.getAs[Boolean]("hashedGramKeys"))
    try Store.write(spark, path)(Store.Add("grams",
      grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .withColumn("__gp", Store.prefix(st.meta.getAs[Int]("prefixBuckets"), col("gram"))),
      Some("__gp")))
    finally { toks.unpersist(); grams.unpersist(); () }
  }

  /** Exact n-gram Jaccard similarity between two text columns (the
    * verification stage after LSH candidate generation). Prefer
    * [[jaccardFromShingles]] over staged arrays when the shingles
    * already exist — this form re-shingles both texts inline.
    */
  def ngramJaccard(textA: Column, textB: Column, shingleSize: Int = 5): Column = {
    val sa = array_distinct(TextFunctions.charShingles(textA, shingleSize))
    val sb = array_distinct(TextFunctions.charShingles(textB, shingleSize))
    jaccardFromShingles(sa, sb)
  }

  /** Exact Jaccard from two already-distinct shingle arrays (the staged
    * form returned by [[minhashCandidatePairsAndShingles]]).
    */
  def jaccardFromShingles(sa: Column, sb: Column): Column =
    size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb))

  /** Corpus-frequency n-gram duplication stats (the C4-style GLOBAL
    * dedup signal, complementary to pairwise LSH): for each document,
    * how many of its distinct word n-grams occur in at least `minDocs`
    * documents corpus-wide, and the duplicated fraction. High-fraction
    * documents are boilerplate/templates even when no single pair of
    * documents is a near-duplicate — the case pairwise MinHash cannot
    * see.
    *
    * Scale shape: one explode to (id, gram) — cardinality O(total
    * n-grams), the inherent C4 cost — then a map-side-combinable
    * doc-frequency count, a gram-keyed join back (duplicated grams are
    * usually a small set; AQE broadcasts it when it fits), and a
    * per-doc count. No pairwise anything, no collect.
    *
    * @return (id, n_grams, dup_grams, dup_frac), one row per input doc.
    */
  def globalNgramDupStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minDocs: Int = 2): DataFrame = {
    val spread = spreadToCores(df)
    val toks = spread.select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks"))
    // staged + persisted: referenced by the explode AND the final
    // per-doc projection (CollapseProject would re-shingle per use)
    val grams = toks.select(
      col("id"),
      array_distinct(TextFunctions.ngramsFromTokens(col("toks"), n)).as("gs"))
      .persist()
    val exploded = grams.select(col("id"), explode(col("gs")).as("gram"))
    val dupGrams = exploded.groupBy(col("gram"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
      .select(col("gram"))
    val dupPerDoc = exploded.join(dupGrams, "gram")
      .groupBy(col("id")).agg(count(lit(1)).as("dup_grams"))
    val out = grams.select(col("id"), size(col("gs")).cast("long").as("n_grams"))
      .join(dupPerDoc, Seq("id"), "left")
      .select(
        col("id"),
        col("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_frac", col("dup_grams").cast("double") / col("n_grams"))
    Staged.materialized(out, Seq(grams))
  }

  /** Pluggable token-hash family for SimHash. [[XxHash64Simhash]]
    * (default): 64-bit seeded xxhash64, the production path.
    * [[PortableMd5Simhash]]: a 60-bit hash from the first 15 md5 hex
    * chars — 60 bits so the value fits a signed BIGINT in every engine
    * (`conv(substr(md5(t),1,15),16,10)` here, `('0x' ||
    * substr(md5(t),1,15))::BIGINT` in DuckDB), making the whole
    * signature/banding/Hamming pipeline replayable in SQL for the
    * `dedup_simhash` oracle gate.
    */
  sealed trait SimhashScheme {
    private[operators] def tokenHash(t: Column): Column
    def bits: Int
    /** Array-level token hashing; published schemes get native twins. */
    private[operators] def tokenHashArray(toks: Column): Column = transform(toks, t => tokenHash(t))
  }

  case object XxHash64Simhash extends SimhashScheme {
    override def tokenHash(t: Column): Column = xxhash64(t)
    val bits: Int = 64
  }

  case object PortableMd5Simhash extends SimhashScheme {
    override def tokenHash(t: Column): Column =
      conv(substring(md5(t), 1, 15), 16, 10).cast("long")
    val bits: Int = 60
    // one digest + integer shifts per token instead of the interpreted
    // md5-hex/substring/conv chain (bit-identical — NativeHashTwinsSpec)
    override def tokenHashArray(toks: Column): Column =
      org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.Md5Long60Array(
          org.apache.spark.sql.GraftColumnShim.expression(toks)))
  }

  /** Native SimHash fold over a token-hash array
    * ([[graft.functions.SimHashFromHashes]] — `bits` integer ops per
    * token on one primitive counter array). Its interpreted
    * two-`aggregate` twin is the differential reference in
    * NativeHashTwinsSpec.
    */
  private def simhashFromHashes(tokenHashes: Column, bits: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.SimHashFromHashes(
        org.apache.spark.sql.GraftColumnShim.expression(tokenHashes), bits))

  /** SimHash over whitespace tokens: bit i is set when at least
    * half the token hashes have bit i set. Per-row (array ops only, no
    * shuffle); near-duplicate texts land within a small Hamming
    * distance.
    */
  def simhash(text: Column, scheme: SimhashScheme = XxHash64Simhash): Column =
    simhashFromHashes(
      scheme.tokenHashArray(TextFunctions.tokens(text)), scheme.bits)

  /** SimHash near-duplicate pairs: bucket by `maxHamming + 1` bit-bands
    * of the signature (pigeonhole: a pair within Hamming distance
    * `maxHamming` of 64 bits must agree on at least one band), then
    * verify the exact Hamming distance within buckets.
    *
    * Buckets over the `maxBucketPairs` pair budget are dropped (same
    * mega-bucket guard as the MinHash path: a low-entropy band value
    * shared by m short/similar docs is m(m−1)/2 pairs — a duplicate
    * *group*, found far cheaper by [[exactClusters]]), and the bucket
    * self-join carries ids only; signatures join back once per
    * surviving distinct pair.
    *
    * Eagerly materialized; the returned DataFrame is persisted and the
    * intermediate caches released (see [[materialized]]).
    */
  def simhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketPairs: Long = defaultBucketPairBudget,
      scheme: SimhashScheme = XxHash64Simhash): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 31]")
    val bits = scheme.bits
    val nBands = maxHamming + 1
    val starts = (0 to nBands).map(i => i * bits / nBands)
    // Stage token hashes and signatures through persist boundaries (same
    // CollapseProject recompute hazard as the MinHash path: simhash()
    // would re-tokenize per band and per join side).
    val spread = spreadToCores(df)
    val hashed = spread.select(
      col(idCol).as("id"),
      scheme.tokenHashArray(TextFunctions.tokens(col(textCol))).as("th"))
      .persist()
    val sigs = hashed
      .select(col("id"), simhashFromHashes(col("th"), bits).as("sig"))
      .persist()
    // Unlike the MinHash path (32-long signatures — carried ids only,
    // sigs joined back once per distinct pair), a SimHash signature is
    // ONE long: carrying it through the band shuffle costs 8 bytes per
    // row and lets the exact xor+popcount verify run INSIDE the bucket
    // join, BEFORE distinct — so the distinct (and everything after)
    // sees only true near-dups instead of every bucket co-occupant.
    // On a low-diversity corpus (crowded buckets just under the pair
    // budget) this is the difference between deduplicating tens of
    // millions of candidate rows and deduplicating the survivors: the
    // sf1 rehearsal's dedup_simhash cold fell 50.6 s -> ~2 s.
    val banded = sigs.select(
      col("id"), col("sig"),
      posexplode(array((0 until nBands).map { q =>
        val len = starts(q + 1) - starts(q)
        val mask = if (len >= 64) -1L else (1L << len) - 1L
        shiftright(col("sig"), starts(q)).bitwiseAND(mask)
      }: _*)).as(Seq("band", "bval")))
    val bucketSizes = banded.groupBy(col("band"), col("bval"))
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(withinPairBudget(col("__bucket_n"), maxBucketPairs))
      .drop("__bucket_n")
    val bounded = banded.join(bucketSizes, Seq("band", "bval"))
    val a = bounded.select(col("band"), col("bval"), col("id").as("id_a"), col("sig").as("__sa"))
    val b = bounded.select(col("band"), col("bval"), col("id").as("id_b"), col("sig").as("__sb"))
    val result = a.join(b, Seq("band", "bval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    Staged.materialized(result, Seq(hashed, sigs))
  }

  /** Quality-aware canonical selection over exact-duplicate clusters:
    * keep the PREFERRED copy, not the minimum id — real pipelines rank
    * duplicate copies by source trust, length, or quality score before
    * dropping the rest ([[exactClusters]] keeps min-id; this is the
    * policy-bearing twin). `preference` is any orderable column whose
    * MAXIMUM marks the canonical row; make it total (include a unique
    * tiebreak like `-id`) or the pick is nondeterministic.
    *
    * Scale shape: ONE hash aggregation keyed by content fingerprint —
    * `max_by` carries the winner without a sort, map-side combinable.
    * The dropped-id list is cluster-sized (`collect_list` bounded by
    * the duplicate multiplicity, not the corpus; a mega-cluster of
    * identical boilerplate is a data-quality finding of its own — cap
    * upstream with a count pre-filter if that is a live risk).
    *
    * @return (h, keep_id, n_copies, drop_ids) for clusters with > 1
    *         copy; drop_ids ascending, comma-joined
    */
  def canonicalClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      preference: Column): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(
        max_by(col(idCol), preference).as("keep_id"),
        count(lit(1)).as("n_copies"),
        sort_array(collect_list(col(idCol))).as("__ids"))
      .filter(col("n_copies") > 1)
      .select(col("h"), col("keep_id"), col("n_copies"),
        array_join(expr("array_remove(__ids, keep_id)"), ",").as("drop_ids"))

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) over the
    * DF-FILTERED distinct word-n-gram sets — the asymmetric-overlap
    * signal symmetric Jaccard misses (a document embedded whole inside
    * a larger one has low Jaccard but containment ~1; quote farms,
    * prefix crawls, and template expansions all look like this).
    *
    * Candidate generation is an inverted-index pair count: grams with
    * document frequency above `maxDf` are dropped FIRST (the standard
    * stop-gram prune — a gram appearing in thousands of documents
    * carries no pairing signal but would emit df² candidate pairs), and
    * so are df-1 singletons (they cannot pair and are the vast tail of
    * any gram table), so per-gram join fan-out is bounded by maxDf² and
    * the whole pair stage is O(sum over shared rare grams of df²),
    * never all-pairs. Both
    * sides of the containment ratio use the SAME filtered gram sets,
    * so the planted-subset containment of a true prefix document stays
    * exactly 1.0 (any surviving gram of the subset is a surviving gram
    * of its superset).
    *
    * The ratio is an exact integer: `common * 1e6 div min(size)` —
    * floor division on positive longs, identical in every engine.
    *
    * @return (id_a, id_b, common, sz_a, sz_b, containment_micro),
    *         id_a < id_b, containment_micro >= minContainMicro
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      maxDf: Int = 20,
      minContainMicro: Long = 800000L): DataFrame = {
    require(maxDf >= 2, "maxDf must be >= 2 (a pair needs df 2)")
    val grams = spreadToCores(df)
      .select(col(idCol).as("id"),
        explode(TextFunctions.ngramsFromTokens(
          TextFunctions.tokens(col(textCol)), shingleSize)).as("g"))
      .distinct()
      .persist()
    val rare = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf && col("__df") >= 2)
      .select(col("g"))
    val kept = grams.join(rare, Seq("g")).persist()
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val pairs = kept.select(col("g"), col("id").as("id_a"))
      .join(kept.select(col("g"), col("id").as("id_b")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    val out = pairs
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("containment_micro",
        expr("common * 1000000 div least(sz_a, sz_b)"))
      .filter(col("containment_micro") >= minContainMicro)
      .select(col("id_a"), col("id_b"),
        col("common").cast("long").as("common"),
        col("sz_a").cast("long").as("sz_a"),
        col("sz_b").cast("long").as("sz_b"),
        col("containment_micro"))
    Staged.materialized(out, Seq(grams, kept))
  }

  /** PPJoin-style prefix-filtered exact-Jaccard similarity join
    * (Xiao, Wang, Lin, Yu 2008; the Chaudhuri/Ganti/Kaushik 2006
    * prefix-filter principle) — the LOSSLESS alternative to MinHash
    * banding: instead of indexing every shingle (the
    * [[containmentPairs]] inverted index) or a probabilistic sketch,
    * each document indexes only its PREFIX — its
    * `|set| − ceil(t·|set|) + 1` globally RAREST shingles under the
    * canonical (document-frequency asc, shingle asc) order. Two sets
    * with Jaccard >= t must share a prefix shingle (the pigeonhole
    * bound on their required overlap), so the candidate join touches
    * only prefix postings, and — the PPJoin argument — prefixes are
    * the RARE end of the vocabulary by construction, so those
    * postings are the SHORT lists: no mega-bucket guard is needed
    * where the full inverted index would drown in stop-gram buckets.
    * Candidates then clear a cross-multiplied size-compatibility
    * bound and the EXACT integer Jaccard, so the result equals the
    * all-pairs truth set — completeness is a theorem, not a recall
    * target, and the `dedup_prefix_jaccard` oracle hash-checks it.
    *
    * Scale shape: one distinct-(id, shingle) staging pass, one
    * map-combinable document-frequency aggregation, a per-document
    * sort of its own shingles (bounded by document size — no global
    * rank/window anywhere), a prefix-keyed self-join over short rare
    * postings, a map-combinable per-pair aggregation applying the
    * POSITIONAL filter (the lossless count and last-position bounds —
    * see inline note — which keep candidate volume true-pair-shaped
    * even on low-diversity corpora where every posting list is long),
    * and one verify join carrying the staged arrays.
    *
    * Scale limit, measured: the positional bounds collapse the VERIFY
    * volume, but the raw prefix self-join itself is Σ_g postings(g)² —
    * on a corpus whose VOCABULARY does not grow with size (the
    * adversarial fixture: every posting list grows linearly with
    * docs), that term is inherently quadratic, 22 s at 50k docs /
    * 209 s at 200k. Losslessness has that price; for corpus-scale
    * near-dup dedup use the banded [[minhashCandidatePairs]] family
    * (pair-budget-bounded work, recall verdicted against this chain
    * at verified scales).
    *
    * @return (id_a, id_b, sz_a, sz_b, inter, jaccard_micro),
    *         id_a < id_b, `jaccard_micro = inter·1e6 div union` >=
    *         `minJaccardMicro`
    */
  def prefixFilteredJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      minJaccardMicro: Long = 500000L): DataFrame = {
    require(minJaccardMicro > 0 && minJaccardMicro <= 1000000L,
      "minJaccardMicro must be a micro-Jaccard in (0, 1e6]")
    val toks = TextFunctions.tokens(col(textCol))
    val grams = spreadToCores(df)
      .select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.ngramsFromTokens(toks, shingleSize))).as("g"))
      .persist()
    val dft = grams.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    // each document's shingles in canonical rare-first order; the sort
    // is per-document (array_sort over its own shingles), never global
    val sets = grams.join(dft, Seq("g"))
      .groupBy(col("id"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("__df").as("d"), col("g").as("g")))),
          e => e.getField("g")).as("gs"),
        count(lit(1)).as("n"))
      .withColumn("__p",
        (col("n") - expr(s"(n * $minJaccardMicro + 999999) div 1000000") + 1).cast("int"))
      .persist()
    val pref = sets.select(col("id"), col("n"),
      posexplode(slice(col("gs"), lit(1), col("__p"))).as(Seq("__pos", "g")))
    // Positional candidate pruning (the second "P" of PPJoin): a raw
    // prefix-join row is one shared prefix shingle with its 0-based
    // positions. Grouping rows per id-pair yields c = |shared prefix
    // shingles| and the 1-based positions (ia, ib) of the LAST shared
    // prefix shingle under the canonical order; both bounds below are
    // theorems of that order, so pruning stays LOSSLESS:
    //   - |A∩B| <= c + min(na - ia, nb - ib): every common shingle
    //     <= the last shared prefix shingle is itself a shared prefix
    //     shingle (its position in each array is <= ia / ib <= the
    //     prefix length), so the others all lie in the suffixes;
    //   - c >= alpha - ceil(t*max(na, nb)) + 1: the k-th smallest
    //     common shingle sits at position <= n - |A∩B| + k in each
    //     array, so the first |A∩B| - ceil(t*n) + 1 of them land
    //     inside both prefixes.
    // with alpha = ceil(t*(na+nb)/(1+t)), the required-overlap form of
    // J >= t. On a low-diversity corpus (adversarial: a tiny
    // vocabulary makes every prefix posting long) this collapses the
    // candidate set from |postings|^2-shaped to true-pair-shaped: the
    // sf1 rehearsal fixture drops 39.3M distinct candidates -> 75k,
    // verify 45 s -> 1 s, identical output pairs.
    val denom = 1000000L + minJaccardMicro
    val alpha = expr(s"((__na + __nb) * $minJaccardMicro + ${denom - 1}) div $denom")
    val ceilTmax = expr(s"(greatest(__na, __nb) * $minJaccardMicro + 999999) div 1000000")
    val cand = pref.select(col("g"), col("id").as("id_a"), col("n").as("__na"), col("__pos").as("__pa"))
      .join(pref.select(col("g"), col("id").as("id_b"), col("n").as("__nb"), col("__pos").as("__pb")), Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        // size compatibility: t <= J <= min/max  =>  t*max <= 1e6*min
        greatest(col("__na"), col("__nb")) * lit(minJaccardMicro) <=
          least(col("__na"), col("__nb")) * lit(1000000L))
      .groupBy(col("id_a"), col("id_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__c"),
        (max(col("__pa")) + 1).as("__ia"), (max(col("__pb")) + 1).as("__ib"))
      .filter(
        col("__c") + least(col("__na") - col("__ia"), col("__nb") - col("__ib")) >= alpha &&
          col("__c") >= greatest(lit(1L), alpha - ceilTmax + 1))
      .select(col("id_a"), col("id_b"))
    val out = cand
      .join(sets.select(col("id").as("id_a"), col("gs").as("__ga"), col("n").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("gs").as("__gb"), col("n").as("sz_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
      .withColumn("jaccard_micro",
        expr("inter * 1000000 div (sz_a + sz_b - inter)"))
      .filter(col("jaccard_micro") >= minJaccardMicro)
      .select(col("id_a"), col("id_b"),
        col("sz_a").cast("long").as("sz_a"),
        col("sz_b").cast("long").as("sz_b"),
        col("inter"), col("jaccard_micro"))
    Staged.materialized(out, Seq(grams, sets))
  }
}
