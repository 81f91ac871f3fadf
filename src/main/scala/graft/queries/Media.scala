package graft.queries

import graft.SparkEntry.{scratchDir, sessionScratchDir}
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRecord
import graft.sources.Tables
import graft.util.SessionScopedCache

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal: image, video and audio features, MP4 and MKV container
  * metadata, and perceptual-hash dedup.
  */
object Media {

  val queries: Seq[Query] = Seq(
    // Closed-form replay of the synthetic media table: BMP size =
    // 54-byte header + 4-byte-padded BGR rows, WAV size = 44-byte
    // header + 2 bytes/sample (samples = min(4*text_bytes, 2048)),
    // video = raw UTF-8 bytes with stride-2 sampling over 256-byte
    // frames. strlen() is DuckDB's byte length, matching Spark's
    // UTF-8 encode. The decode/feature verdicts are asserted true
    // (q34 tolerance-verdict pattern).
    Query("multimodal_features", multimodalFeatures)(
      """WITH m AS (
        |  SELECT doc_id,
        |         CASE CAST(doc_id % 3 AS INT)
        |           WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |         strlen(text) AS len
        |  FROM documents),
        |b AS (
        |  SELECT media_type,
        |    CASE media_type
        |      WHEN 'image' THEN 54 + ((least(doc_id % 640 + 16, 32) * 3 + 3) // 4 * 4)
        |                             * least(doc_id % 480 + 16, 32)
        |      WHEN 'audio' THEN 44 + least(len * 4, 2048) * 2
        |      ELSE len END AS n_bytes,
        |    CASE media_type
        |      WHEN 'video' THEN (greatest(len // 256, 1) + 1) // 2
        |      ELSE 1 END AS frames
        |  FROM m)
        |SELECT media_type, count(*) AS n,
        |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |       CAST(sum(frames) AS BIGINT) AS total_frames,
        |       true AS decode_ok, true AS features_ok
        |FROM b GROUP BY media_type ORDER BY media_type""".stripMargin),
    // MP4 container metadata: every emitted field comes from the real
    // box-tree parse; the oracle recomputes the deterministic
    // generator parameters in closed form, INCLUDING the byte-exact
    // container size (ftyp 20 + moov header 8 + mvhd 108 + 241/trak +
    // mdat 8 + min(64, text bytes))
    Query("multimodal_mp4_meta", multimodalMp4Meta)(
      """SELECT doc_id,
        |  CAST(144 + 241 * (1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |       + least(octet_length(encode(text)), 64) AS BIGINT) AS n_bytes,
        |  'isom' AS major_brand,
        |  CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_tracks,
        |  ['avc1', 'hvc1', 'vp09', 'av01'][CAST(doc_id % 4 AS INT) + 1] AS video_codec,
        |  CAST(16 * (1 + doc_id % 8) AS BIGINT) AS width,
        |  CAST(16 * (1 + doc_id % 5) AS BIGINT) AS height,
        |  CAST(1 + doc_id % 7 AS BIGINT) AS duration_s,
        |  CAST((10 + doc_id % 20) *
        |       (1 + CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 0 END) AS BIGINT)
        |    AS total_samples
        |FROM documents WHERE doc_id < 500
        |ORDER BY doc_id""".stripMargin),
    // Matroska container metadata: every emitted field comes from the
    // real EBML parse; the oracle recomputes the deterministic
    // generator parameters closed-form, INCLUDING the byte-exact
    // container size (92 fixed + len(DocType) + 30/video entry +
    // 36/audio entry + min(48, text bytes) — formula pinned by MkvSpec)
    Query("multimodal_mkv_meta", multimodalMkvMeta)(
      """SELECT doc_id,
        |  CAST(122 + CASE WHEN doc_id % 4 = 1 THEN 8 ELSE 4 END
        |       + CASE WHEN doc_id % 2 = 1 THEN 36 ELSE 0 END
        |       + least(octet_length(encode(text)), 48) AS BIGINT) AS n_bytes,
        |  CASE WHEN doc_id % 4 = 1 THEN 'matroska' ELSE 'webm' END AS doc_type,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS n_tracks,
        |  ['V_AV1', 'V_VP9', 'V_VP8'][CAST(doc_id % 3 AS INT) + 1] AS video_codec,
        |  CAST(32 * (1 + doc_id % 6) AS BIGINT) AS width,
        |  CAST(16 * (1 + doc_id % 9) AS BIGINT) AS height,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS duration_s,
        |  CASE WHEN doc_id % 2 = 0 THEN ''
        |       WHEN doc_id % 4 = 1 THEN 'A_FLAC' ELSE 'A_OPUS' END AS audio_codec,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0
        |            WHEN doc_id % 4 = 1 THEN 44100 ELSE 48000 END AS BIGINT) AS sampling_hz,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0
        |            WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END AS BIGINT) AS channels
        |FROM documents WHERE doc_id < 500
        |ORDER BY doc_id""".stripMargin),
    Query("image_dedup", imageDedup)(
      s"""$imageBitsSql
        |$hammingPairsSql""".stripMargin),
    // image dHash dedup, closed-form: every 9x8 grid cell's integer
    // Rec.601 luma recomputed from the document bytes (ASCII, so
    // unicode() == byte), gradient-sign bits, all-pairs popcount at
    // ham <= 3. The resized variants reuse the base sampling formula
    // because the 72x72 nearest-neighbor hop collapses exactly:
    // floor(floor(72c/9)*w/72) = floor(c*w/9), same for rows.
    // video near-dup: stored Y = luma1000(b-derived RGB) // 1000 per
    // sampled frame; grid bits, per-frame hamming and the all-frames
    // filter replay closed-form from the text
    Query("video_dedup", videoDedup)(
      s"""$videoBitsSql
        |fpairs AS (
        |  SELECT x.id AS id_a, y.id AS id_b, x.f,
        |         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS ham
        |  FROM bits x JOIN bits y ON x.i = y.i AND x.f = y.f AND x.id < y.id
        |  GROUP BY x.id, y.id, x.f),
        |agg AS (
        |  SELECT id_a, id_b, count(*) AS matched_frames, sum(ham) AS ham_sum
        |  FROM fpairs WHERE ham <= 3 GROUP BY id_a, id_b)
        |SELECT id_a, id_b, CAST(matched_frames AS BIGINT) AS matched_frames,
        |  CAST(3 AS BIGINT) AS total_frames, CAST(ham_sum AS BIGINT) AS ham_sum
        |FROM agg WHERE matched_frames = 3 ORDER BY id_a, id_b""".stripMargin),
    // incremental video near-dup: same closed-form replay restricted
    // to increment (variant ids) vs store (base ids)
    Query("video_dedup_incremental", videoDedupIncremental)(
      s"""$videoBitsSql
        |fpairs AS (
        |  SELECT y.id AS media_id, x.id AS store_id, x.f,
        |         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS ham
        |  FROM bits x JOIN bits y ON x.i = y.i AND x.f = y.f
        |  WHERE x.id < 5000000 AND y.id >= 5000000
        |  GROUP BY y.id, x.id, x.f),
        |agg AS (
        |  SELECT media_id, store_id, count(*) AS matched_frames,
        |         sum(ham) AS ham_sum
        |  FROM fpairs WHERE ham <= 3 GROUP BY media_id, store_id)
        |SELECT media_id, store_id, CAST(matched_frames AS BIGINT) AS matched_frames,
        |  CAST(3 AS BIGINT) AS total_frames, CAST(ham_sum AS BIGINT) AS ham_sum
        |FROM agg WHERE matched_frames = 3 ORDER BY media_id, store_id""".stripMargin),
    // incremental image dedup: same closed-form hashes, but pairs are
    // the increment (variant ids) against the stored base corpus
    Query("image_dedup_incremental", imageDedupIncremental)(
      s"""$imageBitsSql
        |pairs AS (
        |  SELECT x.id AS id, y.id AS store_id,
        |         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS ham
        |  FROM bits x JOIN bits y ON x.i = y.i
        |  WHERE x.id >= 5000000 AND y.id < 5000000
        |  GROUP BY x.id, y.id)
        |SELECT id, store_id, CAST(ham AS BIGINT) AS ham
        |FROM pairs WHERE ham <= 3 ORDER BY id, store_id""".stripMargin),
    // audio envelope-hash dedup, closed-form: PCM-16 samples
    // resynthesized from the document bytes (with the toShort
    // wraparound), 65 window energies, cross-multiplied gradient
    // bits, all-pairs popcount at ham <= 3. Synthetic samples are all
    // EVEN, so the halved variant's s // 2 is exact (floor == trunc)
    Query("audio_dedup", audioDedup)(
      s"""WITH auds AS (
        |  SELECT doc_id AS id, text, strlen(text) AS len
        |  FROM documents
        |  WHERE doc_id % 3 = 1 AND doc_id < 120 AND strlen(text) >= 17),
        |variants AS (
        |  SELECT id, text, len, 0 AS scaled, 0 AS noise FROM auds
        |  UNION ALL SELECT id + 5000000, text, len, 1, 0 FROM auds WHERE id % 30 = 1
        |  UNION ALL SELECT id + 6000000, text, len, 0, 1 FROM auds WHERE id % 45 = 1),
        |v AS (SELECT *, least(len * 4, 2048) AS ns FROM variants),
        |samples AS (
        |  SELECT q.id, q.ns, q.i,
        |    CASE WHEN q.noise = 1 AND q.i % 11 = 0
        |         THEN ((q.s1 + 500 + 32768) % 65536) - 32768
        |         ELSE q.s1 END AS s
        |  FROM (
        |    SELECT v.id, v.ns, v.noise, g.i,
        |      CASE WHEN v.scaled = 1 THEN l.s0 // 2 ELSE l.s0 END AS s1
        |    FROM v, generate_series(0, 2047) AS g(i),
        |      LATERAL (SELECT ((unicode(substr(v.text, CAST(g.i % v.len AS INT) + 1, 1))
        |                        - 128) * 256 + (g.i % 7) * 100 + 32768) % 65536 - 32768 AS s0) l
        |    WHERE g.i < v.ns) q),
        |winb AS (
        |  SELECT DISTINCT w.id, w.ns, j.j,
        |         (j.j * w.ns) // 65 AS lo, ((j.j + 1) * w.ns) // 65 AS hi
        |  FROM (SELECT DISTINCT id, ns FROM v) w, generate_series(0, 64) AS j(j)),
        |we AS (
        |  SELECT b.id, b.j, b.hi - b.lo AS wn, sum(s.s * s.s) AS e
        |  FROM winb b JOIN samples s ON s.id = b.id AND s.i >= b.lo AND s.i < b.hi
        |  GROUP BY b.id, b.j, b.hi, b.lo),
        |bits AS (
        |  SELECT a.id, a.j AS i,
        |         CASE WHEN b.e * a.wn > a.e * b.wn THEN 1 ELSE 0 END AS bit
        |  FROM we a JOIN we b ON a.id = b.id AND b.j = a.j + 1
        |  WHERE a.j < 64),
        |$hammingPairsSql""".stripMargin),
  )

  /** Multimodal pipeline: synthetic media table (REAL BMP/WAV
    * containers) -> mapPartitions feature extraction -> per-type stats,
    * oracle-gated. Counts, byte totals, and frame totals are closed-
    * form functions of doc_id and the UTF-8 text length (the BMP/WAV
    * container sizes are deterministic), so DuckDB replays them
    * exactly; the decoded pixel/sample means are gated by an in-plan
    * verdict against [[expectedDecodedMeans]] — an independent
    * recomputation from the raw document bytes that never touches the
    * codecs — so `decode_ok = true` proves the encode->decode round
    * trip reproduced every pixel and sample (both paths sum the same
    * doubles in the same order; the 1e-12 tolerance is pure slack).
    */
  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val media = Multimodal.syntheticMediaFromDocs(s, docs)
    val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
    feats
      .join(expectedDecodedMeans(s, docs), Seq("media_id"))
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("frames_sampled")).cast("long").as("total_frames"),
        bool_and(
          when(col("expected_mean").isNull, col("decoded_mean").isNull)
            .otherwise(abs(col("decoded_mean") - col("expected_mean")) < 1e-12))
          .as("decode_ok"),
        bool_and(
          size(col("features")) === 16 &&
            forall(col("features"), f => f.isNotNull && f >= -1f && f <= 1f))
          .as("features_ok"))
      .orderBy(col("media_type"))
  }

  /** MP4 (ISO BMFF) container-metadata round trip — the compressed-
    * video metadata tier: a REAL box tree (ftyp/moov/trak/tkhd/mdhd/
    * hdlr/stsd/stsz/mdat) is built per document with deterministic
    * track parameters and an opaque codec payload, then parsed back by
    * the genuine recursive box walker ([[graft.multimodal.Codecs
    * .decodeMp4Meta]]); every emitted field comes from the DECODED
    * metadata, so the oracle's closed-form recompute of the generator
    * parameters hash-gates the full encode→parse round trip (including
    * the byte-exact container size). Codec payloads stay un-decoded —
    * no AVC/HEVC exists pure-JVM — and the downstream hash/band
    * machinery is codec-agnostic behind this seam.
    */
  private def multimodalMp4Meta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        import graft.multimodal.Codecs
        import graft.multimodal.Codecs.{Mp4Meta, Mp4Track}
        val vcodecs = Vector("avc1", "hvc1", "vp09", "av01")
        it.map { case (id, text) =>
          val ts = 90000L
          val dur = ts * (1 + id % 7)
          val samples = 10 + id % 20
          val tracks = Seq(
            Mp4Track("vide", vcodecs((id % 4).toInt), ts, dur,
              (16 * (1 + id % 8)).toInt, (16 * (1 + id % 5)).toInt, samples)) ++
            (if (id % 2 == 0)
              Seq(Mp4Track("soun", if (id % 4 == 0) "mp4a" else "opus",
                48000L, 48000L * (1 + id % 7), 0, 0, samples * 4))
            else Nil)
          val payload = text.getBytes("UTF-8").take(64)
          val bytes = Codecs.encodeMp4Meta(Mp4Meta("isom", tracks), payload)
          val meta = Codecs.decodeMp4Meta(bytes) // the REAL parse under test
          val v = meta.tracks.find(_.handler == "vide").get
          (id, bytes.length.toLong, meta.majorBrand, meta.tracks.size.toLong,
            v.codec, v.width.toLong, v.height.toLong, v.duration / v.timescale,
            meta.tracks.map(_.sampleCount).sum)
        }
      }
      .toDF("doc_id", "n_bytes", "major_brand", "n_tracks", "video_codec",
        "width", "height", "duration_s", "total_samples")
      .orderBy(col("doc_id"))
  }

  /** Matroska/WebM (EBML) container-metadata round trip — the second
    * compressed-video container tier beside [[multimodalMp4Meta]]: a
    * REAL EBML tree (EBML header with DocType + Segment[Info +
    * Tracks[TrackEntry...] + Cluster[SimpleBlock]]) is built per
    * document with deterministic track parameters and an opaque codec
    * payload riding a genuine SimpleBlock, then parsed back by the
    * genuine recursive EBML walker ([[graft.multimodal.Codecs
    * .decodeMkvMeta]] — variable-width ids and size VINTs, unknown-
    * size masters, unknown-element skip, FAILFAST corruption). Every
    * emitted field comes from the DECODED metadata, so the oracle's
    * closed-form recompute of the generator parameters hash-gates the
    * full encode→parse round trip, including the byte-exact container
    * size (the affine size formula is pinned by MkvSpec). Codec
    * payloads stay un-decoded — no VP9/AV1/Opus exists pure-JVM — and
    * the downstream hash/band machinery is codec-agnostic behind the
    * seam.
    */
  private def multimodalMkvMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        import graft.multimodal.Codecs
        import graft.multimodal.Codecs.{MkvMeta, MkvTrack}
        val vcodecs = Vector("V_AV1", "V_VP9", "V_VP8")
        it.map { case (id, text) =>
          val hasAudio = id % 2 == 1
          val flac = id % 4 == 1
          val docType = if (flac) "matroska" else "webm" // FLAC is not a WebM codec
          val video = MkvTrack("video", vcodecs((id % 3).toInt),
            (32 * (1 + id % 6)).toInt, (16 * (1 + id % 9)).toInt, 0L, 0)
          val audio =
            if (!hasAudio) Nil
            else Seq(MkvTrack("audio", if (flac) "A_FLAC" else "A_OPUS", 0, 0,
              if (flac) 44100L else 48000L, if (flac) 1 else 2))
          // TimestampScale 1 ms per tick; duration in whole seconds
          val meta = MkvMeta(docType, 1000000L, 1000L * (1 + id % 5), video +: audio)
          val payload = text.getBytes("UTF-8").take(48)
          val bytes = Codecs.encodeMkvMeta(meta, payload)
          val got = Codecs.decodeMkvMeta(bytes) // the REAL parse under test
          val v = got.tracks.find(_.trackType == "video").get
          val a = got.tracks.find(_.trackType == "audio")
          (id, bytes.length.toLong, got.docType, got.tracks.size.toLong,
            v.codec, v.width.toLong, v.height.toLong,
            got.durationTicks * got.timestampScaleNs / 1000000000L,
            a.map(_.codec).getOrElse(""), a.map(_.samplingHz).getOrElse(0L),
            a.map(_.channels.toLong).getOrElse(0L))
        }
      }
      .toDF("doc_id", "n_bytes", "doc_type", "n_tracks", "video_codec",
        "width", "height", "duration_s", "audio_codec", "sampling_hz", "channels")
      .orderBy(col("doc_id"))
  }

  /** The image oracles' replay of the dHash stage: the sampled images,
    * their two resized and one noisy variant, every grid cell's luma
    * and the 64 gradient-sign `bits` per image.
    */
  private[queries] val imageBitsSql =
    """WITH imgs AS (
      |  SELECT doc_id AS id, text,
      |         least(doc_id % 640 + 16, 32) AS w,
      |         least(doc_id % 480 + 16, 32) AS h
      |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 120),
      |variants AS (
      |  SELECT id, text, w, h, 0 AS noise FROM imgs
      |  UNION ALL SELECT id + 5000000, text, w, h, 0 FROM imgs WHERE id % 30 = 0
      |  UNION ALL SELECT id + 6000000, text, w, h, 1 FROM imgs WHERE id % 45 = 0),
      |gcells AS (
      |  SELECT v.id, v.noise, v.text, gr.r, gc.c,
      |         ((gr.r * v.h) // 8) * v.w + ((gc.c * v.w) // 9) AS p
      |  FROM variants v, generate_series(0, 7) AS gr(r), generate_series(0, 8) AS gc(c)),
      |lums AS (
      |  SELECT id, r, c,
      |    299 * b + 587 * ((b * 31) % 256)
      |      + 114 * (CASE WHEN noise = 1 AND p % 7 = 0
      |                    THEN xor((b * 7) % 256, 255)
      |                    ELSE (b * 7) % 256 END) AS lum
      |  FROM (SELECT id, noise, r, c, p,
      |          CASE WHEN strlen(text) = 0 THEN 0
      |               ELSE unicode(substr(text, CAST(p % strlen(text) AS INT) + 1, 1))
      |          END AS b
      |        FROM gcells)),
      |bits AS (
      |  SELECT a.id, a.r * 8 + a.c AS i,
      |         CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
      |  FROM lums a JOIN lums b ON a.id = b.id AND a.r = b.r AND b.c = a.c + 1
      |  WHERE a.c < 8),""".stripMargin

  /** The all-pairs Hamming tail the image and audio oracles share
    * over `bits(id, i, bit)`, at ham <= 3.
    */
  private[queries] val hammingPairsSql =
    """pairs AS (
      |  SELECT x.id AS id_a, y.id AS id_b,
      |         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS ham
      |  FROM bits x JOIN bits y ON x.i = y.i AND x.id < y.id
      |  GROUP BY x.id, y.id)
      |SELECT id_a, id_b, CAST(ham AS BIGINT) AS ham
      |FROM pairs WHERE ham <= 3 ORDER BY id_a, id_b""".stripMargin

  /** The planted image variants of [[imageBitsSql]]: a 72x72 resize
    * of every 30th image (ids + 5,000,000) and a noised copy of every
    * 45th (ids + 6,000,000).
    */
  private def imageVariants(media: Dataset[MediaRecord]): Dataset[MediaRecord] = {
    import graft.multimodal.Codecs
    import media.sparkSession.implicits._
    val resized = Multimodal.resize(media.filter(_.media_id % 30 == 0), 72, 72)
      .map(m => m.copy(media_id = m.media_id + 5000000L))
    resized.union(media.filter(_.media_id % 45 == 0).mapPartitions(_.map { m =>
      val im = Codecs.decodeBmp(m.content)
      val px = im.pixels.clone()
      var i = 0
      // invert the blue channel of every 7th pixel: up to ~11% of the
      // luma range on the handful of 9x8 cells that sample those
      // pixels — enough to flip a few gradient bits, far from 64
      while (i < px.length) { if (i % 7 == 0) px(i) = px(i) ^ 0xff; i += 1 }
      m.copy(media_id = m.media_id + 6000000L,
        content = Codecs.encodeBmp(im.width, im.height, px))
    }))
  }

  /** Image perceptual-hash near-dup dedup over the synthetic BMP
    * corpus: 64-bit difference hashes from REAL decoded pixels
    * ([[graft.multimodal.ImageDedup.dHash]] — integer Rec.601 luma on
    * a 9x8 grid), paired by 4x16-bit Hamming-LSH bands (pigeonhole-
    * lossless at the Hamming <= 3 threshold) and verified with the
    * exact popcount distance. The planted variants exercise both
    * invariances: RESIZED copies (nearest-neighbor through 72x72 via
    * the real BMP re-encode path — the 9x8 sampling composes through
    * any 72-divisible grid exactly, so their hashes are bit-identical,
    * ham 0) and NOISED copies (blue channel inverted on every 7th
    * pixel — up to ~11% of the luma range on the few grid cells that
    * sample those pixels, flipping a handful of gradient bits).
    * Oracle-gated BIT-EXACTLY: DuckDB recomputes every hash closed-
    * form from the document bytes (the resize collapse is exact:
    * floor(floor(72c/9)·w/72) = floor(cw/9)), takes all pairs at
    * ham <= 3, and must match the banded pipeline row for row.
    */
  private def imageDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{ImageDedup => ID}
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("doc_id") < 120)
    val media = Multimodal.syntheticMediaFromDocs(s, docs)
    ID.nearDupPairs(ID.dHashes(media.union(imageVariants(media))),
        "media_id", "hash", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("ham").cast("long").as("ham"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The video oracles' replay of the frame-hash stage: the sampled
    * videos and their variants, three frames' grid lumas and the
    * per-frame gradient-sign `bits`.
    */
  private[queries] val videoBitsSql =
    """WITH vids AS (
      |  SELECT doc_id AS id, text
      |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 120),
      |variants AS (
      |  SELECT id, text, 0 AS noise FROM vids
      |  UNION ALL SELECT id + 5000000, text, 0 FROM vids WHERE id % 30 = 0
      |  UNION ALL SELECT id + 6000000, text, 1 FROM vids WHERE id % 45 = 0),
      |gcells AS (
      |  SELECT v.id, v.noise, v.text, fr.f, gr.r, gc.c,
      |         ((gr.r * 24) // 8) * 32 + ((gc.c * 32) // 9) AS p
      |  FROM variants v, (VALUES (0), (2), (4)) AS fr(f),
      |       generate_series(0, 7) AS gr(r), generate_series(0, 8) AS gc(c)),
      |lums AS (
      |  SELECT id, f, r, c,
      |    (299 * (b % 256) + 587 * ((b * 31) % 256)
      |      + 114 * (CASE WHEN noise = 1 AND p % 13 = 0
      |                    THEN xor((b * 7) % 256, 255)
      |                    ELSE (b * 7) % 256 END)) // 1000 AS lum
      |  FROM (SELECT id, noise, f, r, c, p,
      |          CASE WHEN strlen(text) = 0 THEN 0
      |               ELSE unicode(substr(text,
      |                 CAST((p + 13 * f) % strlen(text) AS INT) + 1, 1))
      |          END AS b
      |        FROM gcells)),
      |bits AS (
      |  SELECT a.id, a.f, a.r * 8 + a.c AS i,
      |         CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
      |  FROM lums a JOIN lums b ON a.id = b.id AND a.f = b.f
      |                         AND a.r = b.r AND b.c = a.c + 1
      |  WHERE a.c < 8),""".stripMargin

  /** The planted video variants of [[videoBitsSql]]: a copy of every
    * 30th video of `base` (ids + 5,000,000) and a noised render of every
    * 45th of `docs` (ids + 6,000,000).
    */
  private def videoVariants(base: Dataset[MediaRecord], docs: DataFrame): Dataset[MediaRecord] = {
    import base.sparkSession.implicits._
    base.filter(_.media_id % 30 == 0)
      .map(m => m.copy(media_id = m.media_id + 5000000L))
      .union(Multimodal
        .syntheticVideosFromDocs(base.sparkSession, docs.filter(col("doc_id") % 45 === 0),
          noiseEvery = 13)
        .map(m => m.copy(media_id = m.media_id + 6000000L)))
  }

  /** Near-duplicate VIDEO detection over REAL Y4M containers
    * ([[graft.multimodal.VideoDedup]]): 6-frame C444 videos
    * synthesized from documents, exact re-encoded copies for every
    * doc_id % 30 == 0 and blue-channel-noised variants for every
    * doc_id % 45 == 0; sampled frames (stride 2) hash with the luma
    * dHash, candidates join banded per (frame, band), and a pair
    * matches when ALL sampled frames land within Hamming 3. BIT-EXACT
    * oracle: the stored Y plane is an integer expression of the text
    * bytes, so grid luma, gradient bits, per-frame Hamming, and the
    * matched-frame filter all replay in SQL.
    */
  private def videoDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VideoDedup => VD}
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("doc_id") < 120)
    val base = Multimodal.syntheticVideosFromDocs(s, docs)
    VD.nearDupPairs(
        VD.frameHashes(base.union(videoVariants(base, docs)), stride = 2),
        maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("matched_frames"),
        col("total_frames"), col("ham_sum"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** [[videoDedup]] through the PERSISTED frame-hash store — the
    * video-ingest shape: the base corpus's sampled-frame dHashes are
    * saved band-prefix-partitioned once ([[graft.multimodal.VideoDedup
    * .saveFrameStore]] — one banded layout shared with the image
    * store), and the increment (exact copies + noised variants)
    * probes it ([[graft.multimodal.VideoDedup.probeFrameStore]] —
    * store read pruned to the increment's band prefixes, aligned
    * frames only, matched-fraction policy). Banding is pigeonhole-
    * lossless per frame at ham <= 3, so the matches equal the full
    * increment-vs-base comparison the oracle computes closed-form.
    */
  private def videoDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{VideoDedup => VD}
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("doc_id") < 120)
    val path = SessionScopedCache.getOrElseUpdate(s, "video-store:" + dir) {
      val p = scratchDir("graft-vstore") + "/store"
      VD.saveFrameStore(
        VD.frameHashes(Multimodal.syntheticVideosFromDocs(s, docs), stride = 2), p)
      p
    }
    val base = Multimodal.syntheticVideosFromDocs(s, docs)
    VD.probeFrameStore(
        VD.frameHashes(videoVariants(base, docs), stride = 2),
        VD.loadFrameStore(s, path), maxHamming = 3)
      .select(col("media_id"), col("store_id"), col("matched_frames"),
        col("total_frames"), col("ham_sum"))
      .orderBy(col("media_id"), col("store_id"))
  }

  /** [[imageDedup]] through the PERSISTED hash store — the ingest
    * shape: the base corpus's dHashes are saved band-prefix-
    * partitioned ([[graft.multimodal.ImageDedup.saveHashStore]]), and
    * the increment (the resized + noised variants) probes the saved
    * layout ([[graft.multimodal.ImageDedup.probeStore]] — store read
    * directory-pruned to the increment's band prefixes, spec-asserted
    * PartitionFilters). Banding is pigeonhole-lossless at ham <= 3,
    * so the matches equal the full increment-vs-base distance join
    * the DuckDB oracle computes closed-form.
    */
  private def imageDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{ImageDedup => ID}
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("doc_id") < 120)
    val media = Multimodal.syntheticMediaFromDocs(s, docs)
    val path = sessionScratchDir(s, dir, "graft-phash-store")
    ID.saveHashStore(ID.dHashes(media), "media_id", "hash", path,
      prefixBuckets = 16)
    ID.probeStore(ID.dHashes(imageVariants(media)),
        ID.loadHashStore(s, path), "media_id", "hash", maxHamming = 3)
      .select(col("id"), col("store_id"), col("ham").cast("long").as("ham"))
      .orderBy(col("id"), col("store_id"))
  }

  /** Audio perceptual-hash near-dup dedup — [[imageDedup]]'s WAV
    * sibling: 64-bit energy-envelope hashes from REAL decoded PCM-16
    * samples ([[graft.multimodal.AudioDedup.envelopeHash]] — exact
    * integer window energies, cross-multiplied mean comparisons),
    * paired by the same pigeonhole-lossless 4x16-bit Hamming bander.
    * Planted variants: VOLUME-HALVED copies (every synthetic sample is
    * even, so s/2 scales each window energy by exactly 1/4 and the
    * hash is bit-identical — ham 0, the loudness-invariance claim made
    * exact) and NOISED copies (+500 on every 11th sample — a few
    * gradient flips). Oracle-gated BIT-EXACTLY: DuckDB resynthesizes
    * every sample closed-form from the document bytes (including the
    * PCM-16 wraparound), replays window energies and gradient bits,
    * and must match the banded pipeline row for row at ham <= 3.
    */
  private def audioDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{AudioDedup => AD, Codecs}
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 1 && col("doc_id") < 120)
    val media = Multimodal.syntheticMediaFromDocs(s, docs)
    val halved = media.filter(_.media_id % 30 == 1).mapPartitions(_.map { m =>
      val wav = Codecs.decodeWavPcm16(m.content)
      m.copy(media_id = m.media_id + 5000000L,
        content = Codecs.encodeWavPcm16(
          wav.samples.map(x => (x / 2).toShort), wav.sampleRate))
    })
    val noised = media.filter(_.media_id % 45 == 1).mapPartitions(_.map { m =>
      val wav = Codecs.decodeWavPcm16(m.content)
      val ss = wav.samples.zipWithIndex.map { case (x, i) =>
        if (i % 11 == 0) (x + 500).toShort else x
      }
      m.copy(media_id = m.media_id + 6000000L,
        content = Codecs.encodeWavPcm16(ss, wav.sampleRate))
    })
    AD.nearDupPairs(
        AD.envelopeHashes(media.union(halved).union(noised)),
        "media_id", "hash", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("ham").cast("long").as("ham"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Expected decoded means for the synthetic media table, recomputed
    * from the raw document text bytes with the generator's formulas —
    * mean Rec.601 luminance for image rows, RMS amplitude for audio
    * rows, null for video (no codec). Deliberately does NOT call
    * [[graft.multimodal.Codecs]]: this is the independent side of the
    * decode-fidelity verdict in [[multimodalFeatures]].
    */
  private def expectedDecodedMeans(
      s: SparkSession,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (docId, text) =>
        val bytes = text.getBytes("UTF-8")
        val expected: Option[Double] = (docId % 3).toInt match {
          case 0 => // image: pixels (b, b*31%256, b*7%256) from text bytes
            val w = math.max(math.min((docId % 640 + 16).toInt, 32), 1)
            val h = math.max(math.min((docId % 480 + 16).toInt, 32), 1)
            var sum = 0.0
            var i = 0
            while (i < w * h) {
              // empty text -> all-zero pixels, mirroring the generator
              val b = if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff
              sum += 0.299 * b + 0.587 * (b * 31 % 256) + 0.114 * (b * 7 % 256)
              i += 1
            }
            Some(sum / (w * h) / 255.0)
          case 1 => // audio: samples (b-128)*256 + (i%7)*100 from text bytes
            val n = math.min(bytes.length * 4, 2048)
            if (n == 0) Some(0.0) // empty text -> zero samples; rms() guards to 0.0
            else {
              var sum = 0.0
              var i = 0
              while (i < n) {
                val b = bytes(i % bytes.length) & 0xff
                val smp = ((b - 128) * 256 + (i % 7) * 100).toShort.toDouble
                sum += smp * smp
                i += 1
              }
              Some(math.sqrt(sum / n) / 32768.0)
            }
          case _ => None // video: opaque bytes, no codec, decode emits null
        }
        (docId, expected)
    }.toDF("media_id", "expected_mean")
  }
}
