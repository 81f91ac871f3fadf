package graft

import graft.operators.Bm25

import org.apache.spark.sql.functions.col

/** BM25 retrieval: closed-form scores on a tiny corpus, deterministic
  * tie-breaks, unknown-term handling, and the save/load round trip
  * with partition-pruned postings reads.
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def expectedScore(
      terms: Seq[(Long, Long)], // (tf, df) per matched term
      n: Long, dl: Long, avgDl: Double): Double = {
    val sum = terms.map { case (tf, df) =>
      val idf = math.log(((n - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
      val norm = (tf.toDouble * (Bm25.K1 + 1.0)) /
        (tf.toDouble + Bm25.K1 * ((1.0 - Bm25.B) + Bm25.B * (dl.toDouble / avgDl)))
      math.floor(idf * norm * Bm25.ScoreScale).toLong
    }.sum
    BigDecimal(sum.toDouble / Bm25.ScoreScale)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("closed-form BM25 on a three-doc corpus") {
    // dl: d1=4, d2=2, d3=3; N=3, total=9, avgdl=3
    val corpus = Seq(
      (1L, "cat dog cat fish"),
      (2L, "dog bird"),
      (3L, "fish fish fish")).toDF("doc_id", "text")
    val idx = Bm25.build(corpus, "doc_id", "text")
    assert(idx.nDocs == 3 && idx.totalDl == 9 && idx.avgDl == 3.0)

    val hits = Bm25.search(idx, Seq("cat", "fish"), k = 3).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_terms"), r.getAs[Double]("score")))
    // cat: df=1; fish: df=2
    val d1 = expectedScore(Seq((2L, 1L), (1L, 2L)), 3, 4, 3.0) // cat tf=2, fish tf=1
    val d3 = expectedScore(Seq((3L, 2L)), 3, 3, 3.0)           // fish tf=3
    assert(hits.map(_._1).toSeq == Seq(1L, 3L), s"ranking wrong: ${hits.toSeq}")
    assert(hits(0) == ((1L, 2L, d1)) && hits(1) == ((3L, 1L, d3)), s"scores wrong: ${hits.toSeq}")
    assert(hits.length == 2, "doc 2 matches no query term and must not appear")
    idx.unpersist()
  }

  test("ties break by ascending id; unknown terms are ignored") {
    val corpus = Seq(
      (7L, "alpha beta"),
      (3L, "alpha beta"),
      (5L, "alpha beta")).toDF("doc_id", "text")
    val idx = Bm25.build(corpus, "doc_id", "text")
    val hits = Bm25.search(idx, Seq("alpha", "no_such_term"), k = 2).collect()
      .map(r => r.getAs[Long]("id"))
    assert(hits.toSeq == Seq(3L, 5L), s"tie-break wrong: ${hits.toSeq}")
    idx.unpersist()
  }

  test("save -> load round-trips search; loaded postings read is partition-pruned") {
    val corpus = (0L until 40L).map { i =>
      (i, if (i % 4 == 0) s"needle common$i filler filler" else s"common$i filler hay stack")
    }.toDF("doc_id", "text")
    val idx = Bm25.build(corpus, "doc_id", "text")
    val live = Bm25.search(idx, Seq("needle", "hay"), k = 10).collect().toSeq

    val path = tmpDir("bm25-index")
    Bm25.save(idx, path, prefixBuckets = 16)
    val loaded = Bm25.load(spark, path)
    assert(loaded.prefixBuckets.contains(16))
    assert(loaded.nDocs == idx.nDocs && loaded.totalDl == idx.totalDl)
    val replayed = Bm25.search(loaded, Seq("needle", "hay"), k = 10)
    assert(replayed.collect().toSeq == live, "loaded search must equal live search")

    val plan = replayed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__tp"),
      s"expected __tp partition pruning in:\n$plan")
    idx.unpersist()
  }

  test("absorb-then-search equals rebuild-then-search (in-memory)") {
    val first = Seq(
      (1L, "cat dog cat fish"),
      (2L, "dog bird")).toDF("doc_id", "text")
    val second = Seq(
      (3L, "fish fish fish"),
      (4L, "cat bird bird dog")).toDF("doc_id", "text")
    val absorbed = Bm25.absorb(Bm25.build(first, "doc_id", "text"), second, "doc_id", "text")
    val rebuilt = Bm25.build(first.unionByName(second), "doc_id", "text")
    assert(absorbed.nDocs == rebuilt.nDocs && absorbed.totalDl == rebuilt.totalDl)
    val a = Bm25.search(absorbed, Seq("cat", "fish", "bird"), k = 10).collect().toSeq
    val r = Bm25.search(rebuilt, Seq("cat", "fish", "bird"), k = 10).collect().toSeq
    assert(a == r, s"absorbed=$a rebuilt=$r")
    assert(a.nonEmpty)
    absorbed.unpersist(); rebuilt.unpersist()
  }

  test("persisted absorb appends O(increment) and searches like a full rebuild") {
    val first = (0L until 30L).map { i =>
      (i, if (i % 3 == 0) s"needle common$i filler" else s"common$i filler hay")
    }.toDF("doc_id", "text")
    val second = (100L until 110L).map { i =>
      (i, if (i % 2 == 0) s"needle fresh$i" else s"hay fresh$i stack")
    }.toDF("doc_id", "text")

    val path = tmpDir("bm25-absorb")
    Bm25.save(Bm25.build(first, "doc_id", "text"), path, prefixBuckets = 16)
    val before = new java.io.File(s"$path/docs").listFiles().count(_.getName.endsWith(".parquet"))
    Bm25.absorbIntoSaved(spark, path, second, "doc_id", "text")
    val after = new java.io.File(s"$path/docs").listFiles().count(_.getName.endsWith(".parquet"))
    assert(after > before, "absorb must append new doc-length files, not rewrite")

    val loaded = Bm25.load(spark, path)
    val rebuilt = Bm25.build(first.unionByName(second), "doc_id", "text")
    assert(loaded.nDocs == rebuilt.nDocs && loaded.totalDl == rebuilt.totalDl)
    val a = Bm25.search(loaded, Seq("needle", "hay"), k = 15).collect().toSeq
    val r = Bm25.search(rebuilt, Seq("needle", "hay"), k = 15).collect().toSeq
    assert(a == r, s"absorbed=$a rebuilt=$r")
    // increment docs must be reachable
    assert(a.exists { row => row.getAs[Long]("id") >= 100L })
    rebuilt.unpersist()
  }

  test("retract-then-search equals rebuild-on-survivors (in-memory)") {
    val corpus = Seq(
      (1L, "cat dog cat fish"), (2L, "dog bird"),
      (3L, "fish fish fish"), (4L, "cat bird cat")).toDF("doc_id", "text")
    val full = Bm25.build(corpus, "doc_id", "text")
    val retracted = Bm25.retract(full, Seq(2L, 4L).toDF("doc_id"), "doc_id")
    val rebuilt = Bm25.build(
      corpus.filter(col("doc_id") === 1L || col("doc_id") === 3L), "doc_id", "text")
    assert(retracted.nDocs == rebuilt.nDocs && retracted.totalDl == rebuilt.totalDl)
    val a = Bm25.search(retracted, Seq("cat", "fish", "bird"), k = 4).collect().toSeq
    val b = Bm25.search(rebuilt, Seq("cat", "fish", "bird"), k = 4).collect().toSeq
    assert(a == b)
    assert(!a.exists(r => r.getAs[Long]("id") == 2L || r.getAs[Long]("id") == 4L))
  }

  test("saved retraction tombstones lazily and scores like a survivor rebuild") {
    val corpus = Seq(
      (1L, "cat dog cat fish"), (2L, "dog bird"),
      (3L, "fish fish fish"), (4L, "cat bird cat")).toDF("doc_id", "text")
    val path = tmpDir("bm25-retract")
    Bm25.save(Bm25.build(corpus, "doc_id", "text"), path, prefixBuckets = 8)
    Bm25.retractFromSaved(spark, path, Seq(2L, 4L).toDF("doc_id"), "doc_id")
    val loaded = Bm25.load(spark, path)
    val rebuilt = Bm25.build(
      corpus.filter(col("doc_id") === 1L || col("doc_id") === 3L), "doc_id", "text")
    assert(loaded.nDocs == rebuilt.nDocs && loaded.totalDl == rebuilt.totalDl)
    val a = Bm25.search(loaded, Seq("cat", "fish", "bird"), k = 4).collect().toSeq
    val b = Bm25.search(rebuilt, Seq("cat", "fish", "bird"), k = 4).collect().toSeq
    assert(a == b)
    // compaction: re-saving the loaded index folds the tombstones away
    val path2 = tmpDir("bm25-compact")
    Bm25.save(loaded, path2, prefixBuckets = 8)
    val compacted = Bm25.load(spark, path2)
    assert(Bm25.search(compacted, Seq("cat", "fish", "bird"), k = 4).collect().toSeq == b)
    assert(compacted.postings.count() == rebuilt.postings.count())
  }

  test("overlapping saved retractions never double-subtract the totals") {
    val corpus = Seq(
      (1L, "cat dog cat fish"), (2L, "dog bird"),
      (3L, "fish fish fish"), (4L, "cat bird cat")).toDF("doc_id", "text")
    val path = tmpDir("bm25-overlap")
    Bm25.save(Bm25.build(corpus, "doc_id", "text"), path, prefixBuckets = 8)
    Bm25.retractFromSaved(spark, path, Seq(2L).toDF("doc_id"), "doc_id")
    // second batch re-lists id 2 (normal in right-to-be-forgotten
    // flows) — its dl must subtract exactly once
    Bm25.retractFromSaved(spark, path, Seq(2L, 4L).toDF("doc_id"), "doc_id")
    val loaded = Bm25.load(spark, path)
    val rebuilt = Bm25.build(
      corpus.filter(col("doc_id") === 1L || col("doc_id") === 3L), "doc_id", "text")
    assert(loaded.nDocs == rebuilt.nDocs && loaded.totalDl == rebuilt.totalDl,
      s"meta diverged: loaded=(${loaded.nDocs},${loaded.totalDl}) " +
        s"rebuilt=(${rebuilt.nDocs},${rebuilt.totalDl})")
    val a = Bm25.search(loaded, Seq("cat", "fish", "bird"), k = 4).collect().toSeq
    val b = Bm25.search(rebuilt, Seq("cat", "fish", "bird"), k = 4).collect().toSeq
    assert(a == b)
    rebuilt.unpersist()
  }

  test("absorbing a previously retracted id clears its tombstone") {
    val corpus = Seq(
      (1L, "cat dog cat fish"), (2L, "dog bird"),
      (3L, "fish fish fish")).toDF("doc_id", "text")
    val path = tmpDir("bm25-reingest")
    Bm25.save(Bm25.build(corpus, "doc_id", "text"), path, prefixBuckets = 8)
    Bm25.retractFromSaved(spark, path, Seq(2L).toDF("doc_id"), "doc_id")
    // doc 2 re-enters the corpus with fresh text
    Bm25.absorbIntoSaved(spark, path, Seq((2L, "bird bird cat")).toDF("doc_id", "text"),
      "doc_id", "text")
    val loaded = Bm25.load(spark, path)
    val rebuilt = Bm25.build(
      Seq((1L, "cat dog cat fish"), (3L, "fish fish fish"), (2L, "bird bird cat"))
        .toDF("doc_id", "text"),
      "doc_id", "text")
    assert(loaded.nDocs == rebuilt.nDocs && loaded.totalDl == rebuilt.totalDl)
    val a = Bm25.search(loaded, Seq("cat", "bird", "fish"), k = 4).collect().toSeq
    val b = Bm25.search(rebuilt, Seq("cat", "bird", "fish"), k = 4).collect().toSeq
    assert(a == b, s"loaded=$a rebuilt=$b")
    assert(a.exists(_.getAs[Long]("id") == 2L), "re-ingested doc must be served")
    rebuilt.unpersist()
  }

  test("vacuumSaved drops tombstoned rows physically and scores identically") {
    val corpus = Seq(
      (1L, "cat dog cat fish"), (2L, "dog bird"),
      (3L, "fish fish fish"), (4L, "cat bird cat")).toDF("doc_id", "text")
    val path = tmpDir("bm25-vacuum")
    Bm25.save(Bm25.build(corpus, "doc_id", "text"), path, prefixBuckets = 8)
    Bm25.retractFromSaved(spark, path, Seq(2L, 4L).toDF("doc_id"), "doc_id")
    val before = Bm25.search(Bm25.load(spark, path), Seq("cat", "fish", "bird"), k = 4)
      .collect().toSeq
    Bm25.vacuumSaved(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "vacuum must reset the tombstone table")
    val loaded = Bm25.load(spark, path)
    assert(Bm25.search(loaded, Seq("cat", "fish", "bird"), k = 4).collect().toSeq == before)
    val rebuilt = Bm25.build(
      corpus.filter(col("doc_id") === 1L || col("doc_id") === 3L), "doc_id", "text")
    assert(loaded.postings.count() == rebuilt.postings.count(),
      "vacuumed store must hold only survivor postings")
    assert(loaded.docs.count() == rebuilt.docs.count())
    // idempotent: a second vacuum with no tombstones is a no-op
    Bm25.vacuumSaved(spark, path)
    assert(Bm25.search(Bm25.load(spark, path), Seq("cat", "fish", "bird"), k = 4)
      .collect().toSeq == before)
    rebuilt.unpersist()
  }

  test("phraseSearch: aligned positional intersection, 1-based positions") {
    val docs = Seq(
      (1L, "the quick brown fox and the quick brown dog"),
      (2L, "quick brown quick brown fox"),
      (3L, "brown quick fox"),
      (4L, "quick brown")).toDF("doc_id", "text")
    val got = Bm25.phraseSearch(docs, "doc_id", "text", Seq("quick", "brown", "fox"))
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1 matches once at token 2; doc 2 once at token 3 (the first
    // "quick brown" is not followed by fox); 3 has wrong order; 4 too short
    assert(got == Seq((1L, 1L, 2L), (2L, 1L, 3L)), s"got $got")
  }

  test("phraseSearch counts overlapping and repeated occurrences") {
    val docs = Seq((1L, "go go go stop")).toDF("doc_id", "text")
    val got = Bm25.phraseSearch(docs, "doc_id", "text", Seq("go", "go"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L)), s"got $got") // starts at 1 and 2
  }

  test("moreLikeThis ranks shared-rare-term docs above shared-common-term docs") {
    // every doc shares 'common'; doc 1 also shares the rare 'needle'
    val docs = Seq(
      (0L, "needle common alpha"),
      (1L, "needle common beta"),
      (2L, "common gamma delta"),
      (3L, "common epsilon zeta")).toDF("doc_id", "text")
    val got = Bm25.moreLikeThis(docs, "doc_id", "text", queryId = 0L, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.head._1 == 1L, s"got $got")    // the needle-sharer wins
    assert(got.head._2 == 2L)                 // shares needle + common
    assert(!got.map(_._1).contains(0L))       // self excluded
  }
}
