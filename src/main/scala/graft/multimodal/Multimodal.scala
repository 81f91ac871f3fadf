package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines: media travels as an opaque `binary` column next to typed
  * metadata, and per-record decode/feature-extraction runs inside
  * `mapPartitions` so each executor core streams its partition through
  * a reusable decoder without any driver round-trip.
  *
  * Decode is REAL for two formats — uncompressed 24-bit BMP and
  * RIFF/WAVE PCM-16, both parsed by the dependency-free [[Codecs]] —
  * and `decoded_mean` is computed from the actual pixels/samples.
  * Compressed formats (png/mp4/...) have no codec on this classpath:
  * for those, and for the synthetic `features` filler, [[StubCodec]]
  * produces deterministic fake values and is clearly marked as such.
  */
object Multimodal {

  /** A media row: opaque content + typed metadata. */
  final case class MediaRecord(
      media_id: Long,
      media_type: String, // "image" | "audio" | "video"
      format: String, // container/codec name, e.g. "bmp", "wav"
      width: Int,
      height: Int,
      duration_ms: Long,
      content: Array[Byte])

  /** Extracted features per media row. `decoded_mean` is computed from
    * REAL decoded content — mean luminance for BMP images, RMS
    * amplitude for WAV audio, both in [0, 1] — and None for formats
    * with no codec on this classpath.
    */
  final case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      frames_sampled: Int,
      decoded_mean: Option[Double],
      features: Array[Float])

  /** STUB decoder: deterministic pseudo-features derived from content
    * bytes, used for the synthetic `features` vector and for formats
    * (mp4, png, ...) that have no real codec here. A production
    * embedding model drops into this call shape.
    */
  private object StubCodec extends Serializable {
    def features(content: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L // FNV-ish rolling hash over the bytes
      var i = 0
      while (i < content.length) { h = h * 31 + content(i); i += 1 }
      var d = 0
      while (d < dim) {
        val x = h ^ (d.toLong * 0x9e3779b97f4a7c15L)
        val mixed = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
        out(d) = ((mixed >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
        d += 1
      }
      out
    }

    /** STUB frame sampler: treats the content as `frameSize`-byte
      * frames and returns every `stride`-th index (a real video path
      * seeks keyframes).
      */
    def sampleFrameIndices(contentLength: Int, frameSize: Int, stride: Int): Seq[Int] =
      (0 until math.max(contentLength / frameSize, 1) by stride).toSeq
  }

  /** Feature extraction over a media table: one pass, executed as
    * `mapPartitions` so decoders are reused across a partition's rows —
    * the Scala analogue of a batched pandas UDF. BMP and WAV rows get
    * `decoded_mean` from real decoded pixels/samples.
    */
  def extractFeatures(media: Dataset[MediaRecord], dim: Int = 16): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        lazy val y4m = Codecs.decodeY4m(m.content)
        val decodedMean = m.format match {
          case "bmp" => Some(Codecs.meanLuma(Codecs.decodeBmp(m.content)))
          case "wav" => Some(Codecs.rms(Codecs.decodeWavPcm16(m.content)))
          case "y4m" => Some(Codecs.meanLumaVideo(y4m))
          case _ => None // no codec for compressed formats on this classpath
        }
        val frames = m.format match {
          case "y4m" => (0 until y4m.frames.size by 2).size // real frame count
          case _ if m.media_type == "video" =>
            StubCodec.sampleFrameIndices(m.content.length, frameSize = 256, stride = 2).size
          case _ => 1
        }
        MediaFeatures(m.media_id, m.media_type, m.content.length.toLong, frames,
          decodedMean, StubCodec.features(m.content, dim))
      }
    }
  }

  /** Resize. REAL for BMP rows: decode, nearest-neighbor resample,
    * re-encode — content is a valid BMP of the target geometry. Other
    * formats keep the stub (deterministic fake bytes) with updated
    * metadata, the shape a production codec drops into.
    */
  def resize(media: Dataset[MediaRecord], width: Int, height: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val content = m.format match {
          case "bmp" =>
            Codecs.encodeBmp(width, height,
              Codecs.resampleNearest(Codecs.decodeBmp(m.content), width, height).pixels)
          case _ =>
            // STUB: no codec; fake bytes deterministic per (content, size)
            StubCodec.features(m.content, dim = 8).flatMap { f =>
              java.nio.ByteBuffer.allocate(4).putFloat(f).array()
            }
        }
        m.copy(width = width, height = height, content = content)
      }
    }
  }

  /** Synthesize a media table from the documents testdata: image rows
    * carry a REAL 24-bit BMP and audio rows a REAL PCM-16 WAV, both
    * derived deterministically from the document text, so decode runs
    * on valid containers without any codec dependency. Video rows stay
    * opaque bytes (declared stub — no mp4 muxer here).
    */
  /** Synthesize REAL Y4M videos from the documents testdata: one
    * `nFrames`-frame C444 video per doc, frame `f` pixel `p` colored
    * from the text byte at `(p + 13·f) % len` with the
    * [[syntheticMediaFromDocs]] channel recipe `(b, b·31 % 256,
    * b·7 % 256)` — every frame is a shifted read of the same text, so
    * consecutive frames differ (a real moving scene) while the whole
    * video replays closed-form from the text (the `video_dedup`
    * oracle).
    */
  def syntheticVideosFromDocs(
      spark: SparkSession,
      docs: DataFrame,
      width: Int = 32,
      height: Int = 24,
      nFrames: Int = 6,
      noiseEvery: Int = 0): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("n_chars")).as[(Long, String, Long)]
      .mapPartitions { it =>
        it.map { case (id, text, nChars) =>
          val frames = (0 until nFrames).map { f =>
            val px = new Array[Int](width * height)
            var p = 0
            while (p < px.length) {
              val b = if (text.isEmpty) 0
                else text.charAt((p + 13 * f) % text.length).toInt
              val blue = (b * 7) % 256
              // noiseEvery > 0: invert the blue channel of every nth
              // pixel — the noised-variant knob of the video_dedup
              // fixture (the imageDedup noise recipe)
              val nb = if (noiseEvery > 0 && p % noiseEvery == 0) blue ^ 0xff else blue
              px(p) = ((b & 0xff) << 16) | (((b * 31) % 256) << 8) | nb
              p += 1
            }
            px
          }
          MediaRecord(id, "video", "y4m", width, height, nChars * 40,
            Codecs.encodeY4m(width, height, frames))
        }
      }
  }

  def syntheticMediaFromDocs(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        element_at(array(lit("bmp"), lit("wav"), lit("mp4")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        (col("doc_id") % 640 + 16).cast("int").as("width"),
        (col("doc_id") % 480 + 16).cast("int").as("height"),
        (col("n_chars") * 40).cast("long").as("duration_ms"),
        encode(col("text"), "UTF-8").as("content"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { m =>
          m.media_type match {
            case "image" =>
              // bounded geometry; pixels derived from the text bytes
              val w = math.min(m.width, 32).max(1)
              val h = math.min(m.height, 32).max(1)
              // empty text -> all-zero pixels (no mod-by-zero)
              val px = Array.tabulate(w * h) { i =>
                val b = if (m.content.isEmpty) 0 else m.content(i % m.content.length) & 0xff
                (b << 16) | ((b * 31 % 256) << 8) | (b * 7 % 256)
              }
              m.copy(width = w, height = h, content = Codecs.encodeBmp(w, h, px))
            case "audio" =>
              val n = math.min(m.content.length * 4, 2048)
              val samples = Array.tabulate(n) { i =>
                val b = m.content(i % m.content.length) & 0xff
                ((b - 128) * 256 + (i % 7) * 100).toShort
              }
              m.copy(content = Codecs.encodeWavPcm16(samples, 8000))
            case _ => m // video: opaque stub bytes
          }
        }
      }
  }
}
