package graft

import graft.streaming.StreamCuration

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming curation chain (quality gate → cross-batch exact
  * dedup → cumulative split counters in one foreachBatch pass) must
  * equal the batch chain over everything ingested, after any number
  * of micro-batches — including duplicates planted within a batch,
  * across batches, and documents the quality gate drops.
  */
class StreamCurationSpec extends SparkSpec {
  import spark.implicits._

  private def doc(i: Long): String =
    s"document number $i with some reasonable plain words about topic ${i % 7} " +
      s"and more varied material for the gopher gate item $i"

  // batch 1: clean docs + an in-batch duplicate pair (winner 10 < 99)
  private val b1: Seq[(Long, String)] =
    (10L to 20L).map(i => (i, doc(i))) :+ ((99L, doc(10)))
  // batch 2: a cross-batch duplicate of doc 11, gate-failing garbage,
  // and fresh docs
  private val b2: Seq[(Long, String)] =
    Seq((200L, doc(11)), (201L, "aaa aaa aaa aaa aaa aaa"), (202L, "")) ++
      (210L to 215L).map(i => (i, doc(i)))
  // batch 3: duplicates of both earlier batches plus fresh docs
  private val b3: Seq[(Long, String)] =
    Seq((300L, doc(10)), (301L, doc(214))) ++ (310L to 312L).map(i => (i, doc(i)))

  // the near-dup fixtures need docs that are NOT near-duplicates of
  // each other: pseudo-random word sequences (hash-derived, stable)
  // instead of the shared template doc() uses
  private val ndocWords =
    ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
      "nu xi omicron rho sigma tau upsilon phi").split(" ")
  private def ndoc(i: Long): String =
    // a hash-seeded PERMUTATION prefix: 12 distinct words, so the
    // gopher gate's top-word and duplicate-bigram checks always pass
    ndocWords.indices
      .sortBy(k => Math.floorMod(i * 7919 + k * (i + 31) * 104729 + k * k * 13, 997))
      .take(12).map(ndocWords).mkString(" ")

  private def counters(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
    df.as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

  test("foreachBatch curation over micro-batches == batch chain over the union") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("stream-curation")
    StreamCuration.init(spark, path)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamCuration.absorbBatch(batch.sparkSession, path, batch, "doc_id", "text")
      }
      .start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      // stream == batch after EVERY prefix, not just the end
      assert(counters(StreamCuration.loadCounters(spark, path)) ==
        counters(StreamCuration.batchChain(b1.toDF("doc_id", "text"), "doc_id", "text")))
      in.addData(b2: _*); q.processAllAvailable()
      assert(counters(StreamCuration.loadCounters(spark, path)) ==
        counters(StreamCuration.batchChain((b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")))
      in.addData(b3: _*); q.processAllAvailable()
      val streamed = counters(StreamCuration.loadCounters(spark, path))
      val batch = counters(
        StreamCuration.batchChain((b1 ++ b2 ++ b3).toDF("doc_id", "text"), "doc_id", "text"))
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // the chain did real work: gate dropped rows, dedup dropped rows
      val total = streamed.values.map(_._1).sum
      assert(total == (b1 ++ b2 ++ b3).size - 2 /*gate*/ - 4 /*dups*/,
        s"survivor count wrong: $streamed")
    } finally q.stop()
  }

  test("near-dup chain: stream over batches == one-shot batch on direct-dup fixture") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("stream-curation-neardup")
    StreamCuration.initNearDup(spark, path, "doc_id", "text")
    // bases arrive in batch 1; near-dup variants (tail-appended — high
    // Jaccard, DIRECT match to the surviving base) and exact copies
    // arrive later; no transitive chains
    val nb1: Seq[(Long, String)] = (10L to 21L).map(i => (i, ndoc(i)))
    val nb2: Seq[(Long, String)] =
      Seq((200L, ndoc(11) + " tiny tail"), (201L, ndoc(13) + " tiny tail"),
        (202L, ndoc(15))) ++ (210L to 214L).map(i => (i, ndoc(i)))
    val nb3: Seq[(Long, String)] =
      Seq((300L, ndoc(212) + " tiny tail"), (301L, ndoc(10))) ++
        (310L to 312L).map(i => (i, ndoc(i)))
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamCuration.absorbBatchNearDup(batch.sparkSession, path, batch,
          "doc_id", "text")
      }
      .start()
    try {
      in.addData(nb1: _*); q.processAllAvailable()
      in.addData(nb2: _*); q.processAllAvailable()
      in.addData(nb3: _*); q.processAllAvailable()
      val streamed = counters(StreamCuration.loadCounters(spark, path))
      val batch = counters(StreamCuration.batchChainNearDup(
        (nb1 ++ nb2 ++ nb3).toDF("doc_id", "text"), "doc_id", "text"))
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // the chain did real work: 2 exact dups + 3 near-dup variants drop
      assert(streamed.values.map(_._1).sum == (nb1 ++ nb2 ++ nb3).size - 5,
        s"survivor count wrong: $streamed")
    } finally q.stop()
  }

  test("near-dup chain: an all-variant batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("stream-curation-neardup2")
    StreamCuration.initNearDup(spark, path, "doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamCuration.absorbBatchNearDup(batch.sparkSession, path, batch,
          "doc_id", "text")
      }
      .start()
    try {
      in.addData((10L to 15L).map(i => (i, ndoc(i))): _*); q.processAllAvailable()
      val before = counters(StreamCuration.loadCounters(spark, path))
      // every row is a near-dup variant or exact copy of batch 1
      in.addData(Seq((500L, ndoc(10) + " tiny tail"), (501L, ndoc(12)),
        (502L, ndoc(14) + " tiny tail")): _*)
      q.processAllAvailable()
      assert(counters(StreamCuration.loadCounters(spark, path)) == before)
    } finally q.stop()
  }

  test("near-dup chain: an all-gate-dropped FIRST batch defers the store bootstrap") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("stream-curation-neardup3")
    StreamCuration.initNearDup(spark, path, "doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamCuration.absorbBatchNearDup(batch.sparkSession, path, batch,
          "doc_id", "text")
      }
      .start()
    try {
      // batch 1: nothing survives the gate — the store must NOT
      // bootstrap from it (an empty partitioned layout cannot load)
      in.addData(Seq((1L, "zz zz zz zz zz"), (2L, "")): _*); q.processAllAvailable()
      assert(counters(StreamCuration.loadCounters(spark, path)).isEmpty)
      in.addData((10L to 15L).map(i => (i, ndoc(i))): _*); q.processAllAvailable()
      val after = counters(StreamCuration.loadCounters(spark, path))
      assert(after.values.map(_._1).sum == 6, s"got $after")
      // and the store now exists: a variant batch is dropped against it
      in.addData(Seq((500L, ndoc(10) + " tiny tail")): _*); q.processAllAvailable()
      assert(counters(StreamCuration.loadCounters(spark, path)) == after)
    } finally q.stop()
  }

  test("seen-store probe prunes at the directory level (PartitionFilters on __fpb)") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("stream-curation-prune")
    StreamCuration.init(spark, path)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamCuration.absorbBatch(batch.sparkSession, path, batch, "doc_id", "text")
      }
      .start()
    try { in.addData(b1: _*); q.processAllAvailable() } finally q.stop()
    // the store is partitioned by the fingerprint prefix
    val dirs = new java.io.File(s"$path/seen").listFiles().filter(_.isDirectory)
    assert(dirs.nonEmpty && dirs.forall(_.getName.startsWith("__fpb=")),
      s"seen/ not prefix-partitioned: ${dirs.map(_.getName).toSeq}")
    // a single-fingerprint probe's store read carries the __fpb
    // partition filter — the anti-join never scans the whole store
    val probe = Seq("deadbeefdeadbeefdeadbeefdeadbeef").toDF("fp")
    val plan = StreamCuration.prunedSeen(spark, path, probe)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__fpb"),
      s"expected __fpb PartitionFilters in:\n$plan")
  }

  test("duplicate-only and gate-only batches leave the counters unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("stream-curation-noop")
    StreamCuration.init(spark, path)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamCuration.absorbBatch(batch.sparkSession, path, batch, "doc_id", "text")
      }
      .start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      val before = counters(StreamCuration.loadCounters(spark, path))
      // every row is either a replay of batch 1 or gate-failing noise
      in.addData(Seq((500L, doc(10)), (501L, doc(20)), (502L, "zzz zzz zzz zzz")): _*)
      q.processAllAvailable()
      assert(counters(StreamCuration.loadCounters(spark, path)) == before)
    } finally q.stop()
  }
}
