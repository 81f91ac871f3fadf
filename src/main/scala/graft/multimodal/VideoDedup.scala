package graft.multimodal

import graft.sources.Store

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Near-duplicate VIDEO detection: per-sampled-frame difference
  * hashes, banded candidate generation per (frame index, band), and a
  * matched-frame aggregation — the standard frame-fingerprint scheme
  * (a re-encode or lightly edited copy keeps almost every frame hash;
  * unrelated videos share none).
  *
  * Scale shape: decode+hash is one `mapPartitions` pass emitting
  * |videos| x |sampled frames| rows; candidates join on
  * (frame_idx, band j, band value) — aligned frames only, never
  * all-pairs, with the same per-bucket guard as
  * [[ImageDedup.nearDupPairs]]; the per-pair aggregation is one
  * map-combinable groupBy over candidate rows. Nothing is broadcast,
  * nothing is corpus-quadratic.
  */
object VideoDedup {

  /** 64-bit dHash of one luma plane: 9x8 nearest resample, horizontal
    * gradient sign per cell, packed low-word-first (the
    * [[graft.operators.BinaryAnn.packSignBits]] layout, same as
    * [[ImageDedup.dHash]] — one hash space across modalities).
    */
  private def dHashLuma(luma: Array[Int], width: Int, height: Int): Array[Long] = {
    val g = Codecs.resampleNearestLuma(luma, width, height, 9, 8)
    val words = new Array[Long](2)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val i = r * 8 + c
        if (g(r * 9 + c + 1) > g(r * 9 + c)) words(i / 32) |= 1L << (i % 32)
        c += 1
      }
      r += 1
    }
    words
  }

  /** One decode+hash pass over a media table's Y4M video rows: every
    * `stride`-th frame gets a luma dHash (a real video path seeks
    * keyframes; uncompressed Y4M samples by index). Rows of other
    * formats are dropped — no codec, no hash, the
    * [[ImageDedup.dHashes]] routing rule.
    *
    * @return (media_id, frame_idx, hash `array<bigint>`)
    */
  def frameHashes(
      media: Dataset[Multimodal.MediaRecord],
      stride: Int = 2): DataFrame = {
    require(stride > 0, "stride must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.collect {
        case m if m.format == "y4m" =>
          val v = Codecs.decodeY4m(m.content)
          (0 until v.frames.size by stride).map { f =>
            (m.media_id, f.toLong, dHashLuma(v.frames(f), v.width, v.height).toSeq)
          }
      }.flatten
    }.toDF("media_id", "frame_idx", "hash")
  }

  /** The shared cross-modality band layout ([[ImageDedup.bandCol]]) —
    * one definition, so the batch path and the store path can never
    * de-sync bit-wise.
    */
  private def bandCol(h: org.apache.spark.sql.Column, j: Int): org.apache.spark.sql.Column =
    ImageDedup.bandCol(h, j)

  /** Near-duplicate video pairs: two videos match when at least
    * `minMatchedNum/minMatchedDen` of their ALIGNED sampled frames are
    * within `maxHamming` bits. Candidates come from a banded self-join
    * keyed by (frame_idx, band) — pigeonhole-lossless per frame at
    * `maxHamming` <= 3, so a qualifying pair can only be missed if a
    * (frame, band) bucket overflows the `maxBucketPairs` pair budget (a popular bucket
    * is a duplicate GROUP, the upstream guard argument).
    *
    * Videos with different sampled-frame counts compare over the
    * SHORTER prefix (`total_frames` = min of the two counts) — a
    * truncated copy still matches on what it kept.
    *
    * @return (id_a, id_b, matched_frames, total_frames, ham_sum) with
    *         id_a < id_b; ham_sum is summed over the MATCHED frames
    */
  def nearDupPairs(
      hashes: DataFrame,
      maxHamming: Int = 3,
      minMatchedNum: Int = 1,
      minMatchedDen: Int = 1,
      maxBucketPairs: Long = ImageDedup.defaultBucketPairBudget): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x16-bit banding is pigeonhole-lossless only up to Hamming 3")
    require(minMatchedNum > 0 && minMatchedDen > 0 && minMatchedNum <= minMatchedDen,
      "minMatched fraction must be in (0, 1]")
    val base = hashes.select(
      col("media_id").as("id"), col("frame_idx").as("f"), col("hash").as("h"))
    val counts = base.groupBy(col("id")).agg(count(lit(1)).as("__nf"))
    val banded = base.select(col("id"), col("f"), col("h"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("bj"), bandCol(col("h"), j).as("bv"))): _*)).as("b"))
      .select(col("id"), col("f"), col("h"),
        col("b.bj").as("bj"), col("b.bv").as("bv"))
    val bounded = banded.join(
      banded.groupBy(col("f"), col("bj"), col("bv"))
        .agg(count(lit(1)).as("__n"))
        .filter(graft.operators.TextDedup.withinPairBudget(col("__n"), maxBucketPairs))
        .drop("__n"),
      Seq("f", "bj", "bv"))
    val a = bounded.select(col("f"), col("bj"), col("bv"),
      col("id").as("id_a"), col("h").as("__ha"))
    val b = bounded.select(col("f"), col("bj"), col("bv"),
      col("id").as("id_b"), col("h").as("__hb"))
    // exact distance verified before distinct (ImageDedup.nearDupPairs
    // argument): the distinct deduplicates surviving frame matches, not
    // bucket co-occupants
    val framePairs = a.join(b, Seq("f", "bj", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("f"),
        graft.operators.BinaryAnn.hammingWords(col("__ha"), col("__hb")).as("ham"))
      .filter(col("ham") <= maxHamming)
      .distinct()
    framePairs
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("matched_frames"), sum(col("ham")).as("ham_sum"))
      .join(counts.select(col("id").as("id_a"), col("__nf").as("__na")), Seq("id_a"))
      .join(counts.select(col("id").as("id_b"), col("__nf").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("matched_frames"),
        least(col("__na"), col("__nb")).as("total_frames"), col("ham_sum"))
      .filter(col("matched_frames") * minMatchedDen >=
        col("total_frames") * minMatchedNum)
  }

  // ----- persisted frame-hash store (incremental video ingest) -----

  /** A loaded video frame-hash store: the banded frame hashes (an
    * [[ImageDedup.HashStore]] over packed (media, frame) ids — one
    * band-prefix-partitioned layout shared across modalities) plus the
    * per-video sampled-frame counts the matched-fraction policy needs.
    */
  final case class FrameStore(hashes: ImageDedup.HashStore, counts: DataFrame)

  /** frame_idx rides the low bits of the packed store id; 2^20 frames
    * (~12 h at 24 fps) bounds any real clip and leaves 43 bits of
    * media id. Both bounds are ENFORCED in-plan — an overflow would
    * silently cross-wire videos in the store.
    */
  private val FrameBits = 20
  private def packed(frameHashes: DataFrame): DataFrame = {
    val checkedId = when(
      col("media_id") < 0 || col("media_id") >= (1L << (63 - FrameBits)),
      raise_error(concat(lit("VideoDedup: media_id out of packable range [0, 2^43): "),
        col("media_id").cast("string")))).otherwise(col("media_id"))
    val checkedF = when(
      col("frame_idx") < 0 || col("frame_idx") >= (1L << FrameBits),
      raise_error(concat(lit("VideoDedup: frame_idx out of packable range [0, 2^20): "),
        col("frame_idx").cast("string")))).otherwise(col("frame_idx"))
    frameHashes.select(
      (shiftleft(checkedId, FrameBits) + checkedF).as("fid"),
      col("hash"))
  }

  /** Persist a frame-hash corpus as a probe-able store. */
  def saveFrameStore(frameHashes: DataFrame, path: String, prefixBuckets: Int = 32): Unit =
    Store.write(frameHashes.sparkSession, path)(
      ImageDedup.hashOps(packed(frameHashes), "fid", "hash", prefixBuckets, append = false)
        .map(Store.nest("frames")) :+
        Store.Put("counts", frameCounts(frameHashes).repartition(1)): _*)

  private def frameCounts(frameHashes: DataFrame): DataFrame =
    frameHashes.groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))

  /** Load a persisted frame store (lazy; probes prune by prefix). */
  def loadFrameStore(spark: org.apache.spark.sql.SparkSession, path: String): FrameStore = {
    val st = Store(spark, path)
    FrameStore(ImageDedup.hashStore(st.nested("frames")), st.read("counts"))
  }

  /** Add an increment's frame hashes to the saved layout — the band
    * rows and the per-video count rows in ONE store write;
    * O(increment), no store read. A video whose frames arrive across
    * SEVERAL appends accumulates count rows that [[probeFrameStore]]
    * sums back together. Re-appending the SAME frames is not
    * idempotent for the totals (the band rows collapse under the
    * probe's distinct, the counts double), so a killed append must not
    * be half-applied: the one write rolls back whole and the retry
    * re-applies it once.
    */
  def appendToFrameStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      frameHashes: DataFrame): Unit = {
    val frames = Store(spark, path).nested("frames")
    Store.write(spark, path)(ImageDedup.hashOps(packed(frameHashes), "fid", "hash",
      frames.meta.getAs[Int]("prefixBuckets"), append = true).map(Store.nest("frames")) :+
      Store.Add("counts", frameCounts(frameHashes)): _*)
  }

  /** Match an increment's videos against the STORE — the ingest-time
    * twin of [[nearDupPairs]]: per-frame candidates come from
    * [[ImageDedup.probeStore]] (store read directory-pruned to the
    * increment's band prefixes), keep only ALIGNED frames (same
    * frame_idx — a shifted re-edit is a different video), and
    * aggregate with the same matched-fraction policy.
    *
    * @return (media_id, store_id, matched_frames, total_frames,
    *         ham_sum) — total_frames = min(sampled counts)
    */
  def probeFrameStore(
      incoming: DataFrame,
      store: FrameStore,
      maxHamming: Int = 3,
      minMatchedNum: Int = 1,
      minMatchedDen: Int = 1,
      maxBucketPairs: Long = ImageDedup.defaultBucketPairBudget): DataFrame = {
    require(minMatchedNum > 0 && minMatchedDen > 0 && minMatchedNum <= minMatchedDen,
      "minMatched fraction must be in (0, 1]")
    val inCounts = incoming.groupBy(col("media_id")).agg(count(lit(1)).as("__na"))
    val matches = ImageDedup
      .probeStore(packed(incoming), store.hashes, "fid", "hash",
        maxHamming, maxBucketPairs)
      .select(
        shiftright(col("id"), FrameBits).as("media_id"),
        col("id").bitwiseAND(lit((1L << FrameBits) - 1)).as("__f"),
        shiftright(col("store_id"), FrameBits).as("store_id"),
        col("store_id").bitwiseAND(lit((1L << FrameBits) - 1)).as("__sf"),
        col("ham"))
      .filter(col("__f") === col("__sf"))
    matches
      .groupBy(col("media_id"), col("store_id"))
      .agg(count(lit(1)).as("matched_frames"), sum(col("ham")).as("ham_sum"))
      .join(inCounts, Seq("media_id"))
      // sum: a video ingested across several appends carries one
      // count row per append
      .join(store.counts.groupBy(col("media_id"))
        .agg(sum(col("n_frames")).as("__nb"))
        .withColumnRenamed("media_id", "store_id"), Seq("store_id"))
      .select(col("media_id"), col("store_id"), col("matched_frames"),
        least(col("__na"), col("__nb")).as("total_frames"), col("ham_sum"))
      .filter(col("matched_frames") * minMatchedDen >=
        col("total_frames") * minMatchedNum)
  }
}
