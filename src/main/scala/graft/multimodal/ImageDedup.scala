package graft.multimodal

import graft.operators.BinaryAnn
import graft.sources.Store

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Image perceptual-hash near-duplicate detection — the standard
  * multimodal-corpus dedup step: a 64-bit difference hash (dHash)
  * computed from REAL decoded pixels ([[Codecs.decodeBmp]]), packed in
  * the repo-wide 32-bit-word convention ([[BinaryAnn]]), paired by
  * Hamming-LSH banding, and verified with the exact popcount distance.
  *
  * dHash (the DCT-free member of the pHash family): grayscale the
  * image, nearest-neighbor resample to a 9x8 grid, and set bit
  * `r*8 + c` iff the cell right of (r, c) is brighter than (r, c) —
  * 64 brightness-gradient signs. Gradient signs survive what byte
  * hashes don't: resampling (a nearest-neighbor resize through any
  * grid whose edges divide 72 reproduces the hash EXACTLY — the 9x8
  * sampling composes through it, spec-proved), re-encoding, and
  * small pixel noise (a flipped low bit moves one luma by <= 114/1000
  * of a grey level and flips at most the two bits watching that cell).
  *
  * Luma is the integer Rec.601 form `299·R + 587·G + 114·B` (0..255000
  * — exact, no float rounding anywhere), so every bit, and therefore
  * every pair and distance, replays bit-for-bit on any engine.
  *
  * Scale shape: hashing is one `mapPartitions` decode pass (the
  * per-partition-codec-reuse exception; 8 bytes out per image);
  * banding shuffles (band, value)-keyed ID rows — never pixels; the
  * verify join carries 16-byte hashes. With 4 bands of 16 bits the
  * banding is pigeonhole-LOSSLESS for Hamming <= 3: every true pair
  * at the default threshold shares at least one exact band, so
  * banded + verified equals the all-pairs truth set — the property
  * the `image_dedup` oracle gate hash-checks.
  */
object ImageDedup {

  /** Integer Rec.601 luma of a `0xRRGGBB` pixel, on the x1000 grid. */
  def luma1000(p: Int): Int =
    299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)

  /** 64-bit difference hash of a decoded image, packed as two 32-bit
    * words (low word first — the [[BinaryAnn.packSignBits]] layout, so
    * [[BinaryAnn.hammingWords]] and its HOF twin apply unchanged).
    */
  def dHash(img: Codecs.BmpImage): Array[Long] = {
    val g = Codecs.resampleNearest(img, 9, 8)
    val words = new Array[Long](2)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val i = r * 8 + c
        if (luma1000(g.pixels(r * 9 + c + 1)) > luma1000(g.pixels(r * 9 + c)))
          words(i / 32) |= 1L << (i % 32)
        c += 1
      }
      r += 1
    }
    words
  }

  /** One decode+hash pass over a media table's image rows: BMP rows
    * hash from their real pixels; rows of other formats are dropped
    * (no codec, no hash — a production pipeline routes them to its
    * decoder fleet). `mapPartitions` so the decode buffers stay local
    * to a partition.
    *
    * @return (media_id, hash `array<bigint>` of two 32-bit words)
    */
  def dHashes(media: Dataset[Multimodal.MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.collect {
        case m if m.format == "bmp" =>
          (m.media_id, dHash(Codecs.decodeBmp(m.content)).toSeq)
      }
    }.toDF("media_id", "hash")
  }

  /** 16-bit band `j` (0..3) of a packed 64-bit hash — THE band layout
    * of the shared cross-modality hash space ([[VideoDedup]] banding
    * must stay bit-identical to probe the same stores).
    */
  /** Default per-bucket candidate-pair budget for the multimodal
    * banded-Hamming guards: the pair count a 10000-hash bucket emits
    * (10000*9999/2) — equivalent pruning to the former docs-per-bucket
    * guard, parameterized as the quadratic quantity a caller tunes
    * (see [[graft.operators.TextDedup.defaultBucketPairBudget]]).
    */
  val defaultBucketPairBudget: Long = 49995000L

  private[multimodal] def bandCol(h: Column, j: Int): Column =
    shiftright(element_at(h, j / 2 + 1), (j % 2) * 16).bitwiseAND(lit(0xffffL))

  /** Near-duplicate image pairs by banded Hamming distance: candidates
    * share at least one 16-bit band; survivors clear the exact
    * popcount distance. Lossless for `maxHamming` <= 3 (pigeonhole
    * over 4 bands), so the result EQUALS the all-pairs truth set as
    * long as no bucket overflows the `maxBucketPairs` pair budget (a popular band value
    * is a duplicate GROUP — the [[graft.operators.SimilaritySearch
    * .embeddingNearDupPairs]] guard argument).
    *
    * @return (id_a, id_b, ham), id_a < id_b
    */
  def nearDupPairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucketPairs: Long = defaultBucketPairBudget): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x16-bit banding is pigeonhole-lossless only up to Hamming 3")
    val base = hashes.select(col(idCol).as("id"), col(hashCol).as("h"))
    val banded = base.select(col("id"), col("h"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("bj"), bandCol(col("h"), j).as("bv"))): _*)).as("b"))
      .select(col("id"), col("h"), col("b.bj").as("bj"), col("b.bv").as("bv"))
    val bounded = banded.join(
      banded.groupBy(col("bj"), col("bv"))
        .agg(count(lit(1)).as("__n"))
        .filter(graft.operators.TextDedup.withinPairBudget(col("__n"), maxBucketPairs))
        .drop("__n"),
      Seq("bj", "bv"))
    val a = bounded.select(col("bj"), col("bv"),
      col("id").as("id_a"), col("h").as("__ha"))
    val b = bounded.select(col("bj"), col("bv"),
      col("id").as("id_b"), col("h").as("__hb"))
    // exact distance verified INSIDE the bucket join, before distinct:
    // the distinct then deduplicates survivors, not bucket co-occupants
    // (the TextDedup.simhashCandidatePairs argument — the hash rides
    // the shuffle anyway)
    a.join(b, Seq("bj", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        BinaryAnn.hammingWords(col("__ha"), col("__hb")).as("ham"))
      .filter(col("ham") <= maxHamming)
      .distinct()
  }

  // ----- persisted hash store (incremental ingest) -----

  /** A loaded perceptual-hash store: the banded hash table
    * (id, h, bj, bv), band-hash-prefix-partitioned on disk so probes
    * read only the directories the increment's bands fall in — the
    * [[graft.operators.TextDedup.MinhashStore]] lifecycle applied to
    * 64-bit media hashes (image dHash, [[AudioDedup]] envelopes — any
    * producer of the two-32-bit-word layout).
    */
  final case class HashStore(bands: DataFrame, prefixBuckets: Int)

  private[graft] def banded(hashes: DataFrame, idCol: String, hashCol: String): DataFrame = {
    val base = hashes.select(col(idCol).as("id"), col(hashCol).as("h"))
    base.select(col("id"), col("h"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("bj"), bandCol(col("h"), j).as("bv"))): _*)).as("b"))
      .select(col("id"), col("h"), col("b.bj").as("bj"), col("b.bv").as("bv"))
  }

  /** Persist a hash corpus as a probe-able store (one banded row per
    * (image, band), partitioned by band-hash prefix).
    */
  def saveHashStore(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      path: String,
      prefixBuckets: Int = 32): Unit =
    Store.write(hashes.sparkSession, path)(
      hashOps(hashes, idCol, hashCol, prefixBuckets, append = false): _*)

  /** The write of `hashes` into a store of `prefixBuckets` band-prefix
    * buckets — the band table plus meta, or (`append`) new band files —
    * for the store alone or nested in another.
    */
  private[multimodal] def hashOps(hashes: DataFrame, idCol: String, hashCol: String,
      prefixBuckets: Int, append: Boolean): Seq[Store.Op] = {
    val bands = banded(hashes, idCol, hashCol)
      .withColumn("__bp", Store.prefix(prefixBuckets, col("bj"), col("bv")))
    if (append) Seq(Store.Add("bands", bands, Some("__bp")))
    else Seq(Store.Put("bands", bands.repartition(col("__bp")), Some("__bp")),
      Store.meta(hashes.sparkSession, "prefixBuckets" -> prefixBuckets))
  }

  /** Load a persisted store (lazy — probes read only their prefixes). */
  def loadHashStore(spark: SparkSession, path: String): HashStore =
    hashStore(Store(spark, path))

  private[multimodal] def hashStore(st: Store): HashStore =
    HashStore(st.read("bands"), st.meta.getAs[Int]("prefixBuckets"))

  /** Near-duplicate matches of an increment against the store:
    * (id, store_id, ham) for every incoming hash within `maxHamming`
    * of a stored one. The store read is directory-pruned to the
    * increment's band prefixes (bounded collect — at most
    * `prefixBuckets` values); store-side mega-buckets are dropped
    * under the same duplicate-GROUP argument as [[nearDupPairs]].
    * Lossless for `maxHamming` <= 3 by the pigeonhole argument, so
    * the matches equal the full increment-vs-store distance join.
    * The caller drops matched ids and [[appendToStore]]s survivors.
    */
  def probeStore(
      incoming: DataFrame,
      store: HashStore,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucketPairs: Long = defaultBucketPairBudget): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x16-bit banding is pigeonhole-lossless only up to Hamming 3")
    val inBands = banded(incoming, idCol, hashCol).persist()
    // eager localCheckpoint, NOT persist: the match set is small, its
    // blocks are ContextCleaner-collected once unreferenced (a
    // returned persist() leaks in the CacheManager until an unpersist
    // nobody owns), and the TRUNCATED lineage means a block lost under
    // memory pressure fails loudly instead of silently recomputing the
    // whole incoming chain (decode + hash) once per downstream
    // partition — the superlinear shape long sessions hit at scale.
    // Materializes while the banded increment is cached.
    val out = probeJoinPlan(inBands, store, maxHamming, maxBucketPairs)
      .localCheckpoint(true)
    inBands.unpersist()
    out
  }

  /** The probe join as a LAZY plan over a prepared banded increment —
    * shared by [[probeStore]] (which materializes and checkpoints the
    * match set) and by plan-shape assertions, which must see the
    * directory-pruned store scan (the checkpointed public result
    * hides the executed plan behind an ExistingRDD scan).
    */
  private[graft] def probeJoinPlan(
      inBands: DataFrame,
      store: HashStore,
      maxHamming: Int,
      maxBucketPairs: Long): DataFrame = {
    val storeBands = Store.pruned(store.bands, "__bp",
      inBands.select(Store.prefix(store.prefixBuckets, col("bj"), col("bv")))).drop("__bp")
    val bounded = storeBands.join(
      storeBands.groupBy(col("bj"), col("bv"))
        .agg(count(lit(1)).as("__n"))
        .filter(graft.operators.TextDedup.withinPairBudget(col("__n"), maxBucketPairs))
        .drop("__n"),
      Seq("bj", "bv"))
    inBands
      .join(bounded.withColumnsRenamed(Map("id" -> "store_id", "h" -> "__hs")),
        Seq("bj", "bv"))
      .select(col("id"), col("store_id"), col("h"), col("__hs"))
      .distinct()
      .select(col("id"), col("store_id"),
        BinaryAnn.hammingWords(col("h"), col("__hs")).as("ham"))
      .filter(col("ham") <= maxHamming)
  }

  /** Add an increment's hashes to the saved layout in one store write
    * (only the band directories that receive rows gain files).
    */
  def appendToStore(
      spark: SparkSession,
      path: String,
      hashes: DataFrame,
      idCol: String,
      hashCol: String): Unit =
    Store.write(spark, path)(hashOps(hashes, idCol, hashCol,
      Store(spark, path).meta.getAs[Int]("prefixBuckets"), append = true): _*)
}
