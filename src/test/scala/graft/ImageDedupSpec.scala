package graft

import graft.multimodal.{Codecs, ImageDedup, Multimodal}

import org.apache.spark.sql.functions._

class ImageDedupSpec extends SparkSpec {
  import spark.implicits._

  private def img(w: Int, h: Int, seed: Int): Codecs.BmpImage = {
    val px = Array.tabulate(w * h) { i =>
      val b = (i * 131 + seed * 17) % 256
      (b << 16) | ((b * 31 % 256) << 8) | (b * 7 % 256)
    }
    Codecs.BmpImage(w, h, px)
  }

  test("dHash is EXACTLY invariant under resize through a 72-divisible grid") {
    val base = img(31, 23, seed = 5)
    val h0 = ImageDedup.dHash(base).toSeq
    for ((w, h) <- Seq((72, 72), (36, 24), (9, 8))) {
      val resized = Codecs.resampleNearest(base, w, h)
      assert(ImageDedup.dHash(resized).toSeq == h0,
        s"hash drifted through ${w}x$h")
    }
    // and through a real encode/decode round trip of the resized image
    val rt = Codecs.decodeBmp(
      Codecs.encodeBmp(72, 72, Codecs.resampleNearest(base, 72, 72).pixels))
    assert(ImageDedup.dHash(rt).toSeq == h0)
  }

  test("a flipped blue low bit moves at most the two bits watching that cell") {
    val base = img(18, 16, seed = 9)
    val noisy = base.copy(pixels = base.pixels.clone())
    noisy.pixels(0) = noisy.pixels(0) ^ 1
    val a = ImageDedup.dHash(base)
    val b = ImageDedup.dHash(noisy)
    val ham = (0 until 2).map(i => java.lang.Long.bitCount(a(i) ^ b(i))).sum
    assert(ham <= 2, s"one-pixel noise flipped $ham bits")
  }

  test("banded pairs equal the all-pairs truth set at Hamming <= 3") {
    // 12 base images plus a near-copy of each (one pixel nudged) and
    // one far image: truth pairs are (i, i+100) and whatever chance
    // collisions exist — the banding must reproduce them exactly
    val imgs = (0 until 12).flatMap { s =>
      val b = img(20, 15, seed = s)
      val n = b.copy(pixels = b.pixels.clone())
      n.pixels(3) = n.pixels(3) ^ 1
      Seq((s.toLong, b), (s + 100L, n))
    }
    val hashes = imgs.map { case (id, im) => (id, ImageDedup.dHash(im).toSeq) }
    val truth = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      ham = (0 until 2).map(i => java.lang.Long.bitCount(ha(i) ^ hb(i))).sum
      if ham <= 3
    } yield (ia, ib, ham.toLong)).toSet
    val got = ImageDedup.nearDupPairs(
      hashes.toDF("media_id", "hash"), "media_id", "hash", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("ham").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == truth, s"diff: ${got.diff(truth)} / ${truth.diff(got)}")
    assert(truth.nonEmpty, "fixture produced no true pairs")
  }

  test("dHashes hashes BMP rows from real pixels and drops codec-less formats") {
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", "bmp", 10, 8, 0L,
        Codecs.encodeBmp(10, 8, img(10, 8, 1).pixels)),
      Multimodal.MediaRecord(2L, "video", "mp4", 0, 0, 0L, Array[Byte](1, 2, 3)))
      .toDS()
    val got = ImageDedup.dHashes(media).as[(Long, Seq[Long])].collect().toMap
    assert(got.keySet == Set(1L))
    assert(got(1L) == ImageDedup.dHash(img(10, 8, 1)).toSeq)
  }

  test("hash store: probe == full distance join, append is visible, read prunes") {
    val path = tmpDir("phash-store")
    val base = (0 until 20).map(s => (s.toLong, ImageDedup.dHash(img(20, 15, s)).toSeq))
    ImageDedup.saveHashStore(base.toDF("media_id", "hash"),
      "media_id", "hash", path, prefixBuckets = 8)
    val store = ImageDedup.loadHashStore(spark, path)

    // increment: a near-copy of image 3 and an unrelated image
    val near = {
      val b = img(20, 15, 3); val n = b.copy(pixels = b.pixels.clone())
      n.pixels(7) = n.pixels(7) ^ 1; ImageDedup.dHash(n).toSeq
    }
    val inc = Seq((100L, near), (101L, ImageDedup.dHash(img(20, 15, 77)).toSeq))
    val got = ImageDedup.probeStore(inc.toDF("media_id", "hash"), store,
      "media_id", "hash", maxHamming = 3)
      .select(col("id"), col("store_id"), col("ham").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val truth = (for {
      (ii, hi) <- inc; (si, hs) <- base
      ham = (0 until 2).map(w => java.lang.Long.bitCount(hi(w) ^ hs(w))).sum
      if ham <= 3
    } yield (ii, si, ham.toLong)).toSet
    assert(got == truth, s"diff: ${got.diff(truth)} / ${truth.diff(got)}")
    assert(got.exists(m => m._1 == 100L && m._2 == 3L), "near-copy missed")

    // the pruned store read carries partition filters — asserted on
    // the LAZY probe join (probeStore's public result is an eager
    // localCheckpoint, whose plan is an ExistingRDD scan)
    val plan = ImageDedup.probeJoinPlan(
      ImageDedup.banded(inc.toDF("media_id", "hash"), "media_id", "hash"),
      store, 3, ImageDedup.defaultBucketPairBudget)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__bp"),
      s"expected __bp partition pruning in:\n$plan")

    // append the unrelated image; an identical later probe must match it
    ImageDedup.appendToStore(spark, path,
      Seq((101L, inc(1)._2)).toDF("media_id", "hash"), "media_id", "hash")
    val reloaded = ImageDedup.loadHashStore(spark, path)
    val again = ImageDedup.probeStore(
      Seq((200L, inc(1)._2)).toDF("media_id", "hash"), reloaded,
      "media_id", "hash")
      .select(col("store_id"), col("ham").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(again.contains((101L, 0L)), s"appended hash not matched: $again")
  }

  test("mega-buckets are dropped by the pair budget") {
    // 50 identical hashes: every band bucket emits 1225 pairs > budget
    val hashes = (1L to 50L).map(i => (i, Seq(7L, 9L))).toDF("media_id", "hash")
    assert(ImageDedup.nearDupPairs(hashes, "media_id", "hash",
      maxHamming = 3, maxBucketPairs = 45L).count() == 0)
  }
}
