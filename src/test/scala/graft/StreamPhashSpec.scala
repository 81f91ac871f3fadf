package graft

import graft.multimodal.{Codecs, ImageDedup}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Incremental image dedup from a STREAM: each micro-batch of hashes
  * probes the saved perceptual-hash store via foreachBatch (drop
  * matches, append survivors) — the ingest loop a multimodal corpus
  * runs continuously. After any sequence of batches the store must
  * hold exactly the first-seen representative of every near-dup
  * group, and a replayed probe must match against appended survivors.
  */
class StreamPhashSpec extends SparkSpec {
  import spark.implicits._

  private def img(seed: Int): Codecs.BmpImage = {
    val px = Array.tabulate(20 * 15) { i =>
      val b = (i * 131 + seed * 17) % 256
      (b << 16) | ((b * 31 % 256) << 8) | (b * 7 % 256)
    }
    Codecs.BmpImage(20, 15, px)
  }

  test("foreachBatch probe-then-append keeps first-seen reps and dedups the rest") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("stream-phash")
    ImageDedup.saveHashStore(
      (0 until 5).map(s => (s.toLong, ImageDedup.dHash(img(s)).toSeq))
        .toDF("media_id", "hash"),
      "media_id", "hash", path, prefixBuckets = 8)

    val in = MemoryStream[(Long, Seq[Long])]
    val q = in.toDF().toDF("media_id", "hash").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val store = ImageDedup.loadHashStore(spark, path)
        val matches = ImageDedup.probeStore(batch, store, "media_id", "hash")
        val survivors = batch.join(
          matches.select(col("id").as("media_id")).distinct(),
          Seq("media_id"), "left_anti")
        ImageDedup.appendToStore(spark, path, survivors, "media_id", "hash")
        matches.unpersist()
        ()
      }
      .start()
    try {
      // batch 1: a dup of stored image 2 plus a novel image 100
      in.addData((50L, ImageDedup.dHash(img(2)).toSeq),
        (100L, ImageDedup.dHash(img(100)).toSeq))
      q.processAllAvailable()
      // batch 2: a dup of the JUST-APPENDED 100 plus another novel
      in.addData((101L, ImageDedup.dHash(img(100)).toSeq),
        (200L, ImageDedup.dHash(img(200)).toSeq))
      q.processAllAvailable()

      val stored = ImageDedup.loadHashStore(spark, path).bands
        .select(col("id")).distinct().as[Long].collect().toSet
      // 5 originals + the two novel survivors; dups 50 and 101 dropped
      assert(stored == Set(0L, 1L, 2L, 3L, 4L, 100L, 200L), s"got $stored")
    } finally q.stop()
  }
}
