package graft

import graft.multimodal.Multimodal
import graft.operators.{SimilaritySearch, TextDedup}

import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today!"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals and codegen"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "yet another unrelated string talking about parquet row groups and page indexes"))
    .toDF("doc_id", "text")

  test("exactClusters finds exact duplicate groups only") {
    val clusters = TextDedup.exactClusters(corpus, "doc_id", "text").collect()
    assert(clusters.length == 1)
    assert(clusters.head.getAs[Long]("keep_id") == 1L)
    assert(clusters.head.getAs[scala.collection.Seq[Long]]("ids").toSeq == Seq(1L, 4L))
  }

  test("minhash LSH surfaces near-duplicates, not unrelated docs") {
    val pairs = TextDedup
      .minhashCandidatePairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "near-dup pair missed")
    assert(pairs.contains((1L, 4L)), "exact-dup pair missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc flagged")
  }

  test("portable-md5 minhash scheme finds the same duplicate structure") {
    val pairs = TextDedup
      .minhashCandidatePairs(corpus, "doc_id", "text", threshold = 0.5,
        scheme = TextDedup.PortableMd5Scheme)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "near-dup pair missed")
    assert(pairs.contains((1L, 4L)), "exact-dup pair missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc flagged")
  }

  test("globalNgramDupStats counts corpus-wide duplicated n-grams per doc") {
    // docs 1, 2, 4 share their first 3-grams; docs 3 and 5 are unique
    val stats = TextDedup.globalNgramDupStats(corpus, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("dup_grams"), r.getAs[Double]("dup_frac"))).toMap
    // identical docs 1 and 4: every 3-gram duplicated
    assert(stats(1L)._2 == stats(1L)._1 && stats(1L)._3 == 1.0)
    assert(stats(4L) == stats(1L))
    // near-dup doc 2 shares all but the trailing "today!" grams
    assert(stats(2L)._2 > 0 && stats(2L)._2 < stats(2L)._1)
    // unique docs share nothing
    assert(stats(3L)._2 == 0L && stats(3L)._3 == 0.0)
    assert(stats(5L)._2 == 0L)
  }

  test("minhash LSH mega-bucket pair budget drops oversized buckets") {
    // budget 0 -> every bucket with >=2 members (i.e. every candidate
    // bucket) emits >0 pairs and is dropped -> no pairs at all
    val capped = TextDedup
      .minhashCandidatePairs(corpus, "doc_id", "text", threshold = 0.5, maxBucketPairs = 0L)
      .count()
    assert(capped == 0)
  }

  test("planted identical mega-cluster is guard-dropped; other pairs unaffected") {
    // A 3000-doc identical cluster would be ~4.5M candidate pairs without
    // the bucket cap — the guard must drop it while leaving the real
    // near-dup pairs intact (it is a duplicate *group*: exactClusters work).
    val cluster = (0 until 3000)
      .map(i => (10000L + i, "identical boilerplate text repeated across the whole cluster forever"))
      .toDF("doc_id", "text")
    val df = corpus.unionByName(cluster)
    val mh = TextDedup
      .minhashCandidatePairs(df, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((1L, 2L)) && mh.contains((1L, 4L)), "real near-dup pairs lost")
    assert(!mh.exists(p => p._1 >= 10000L || p._2 >= 10000L), "mega-cluster leaked pairs")
    val sh = TextDedup
      .simhashCandidatePairs(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh.contains((1L, 4L)), "real exact-dup pair lost")
    assert(!sh.exists(p => p._1 >= 10000L || p._2 >= 10000L), "mega-cluster leaked pairs")
    // exactClusters is the right tool for the cluster — one row, not m^2/2
    val clusters = TextDedup.exactClusters(df, "doc_id", "text")
      .filter(col("keep_id") === 10000L).collect()
    assert(clusters.length == 1 && clusters.head.getAs[Long]("n_copies") == 3000L)
  }

  test("simhash mega-bucket cap drops oversized buckets") {
    val capped = TextDedup
      .simhashCandidatePairs(corpus, "doc_id", "text", maxHamming = 16, maxBucketPairs = 0L)
      .count()
    assert(capped == 0)
  }

  test("ngramJaccard: exact verification separates near-dup from unrelated") {
    val j = corpus.as("a").crossJoin(corpus.as("b"))
      .filter(col("a.doc_id") === 1 && col("b.doc_id").isin(2, 3))
      .select(col("b.doc_id"),
        TextDedup.ngramJaccard(col("a.text"), col("b.text")).as("j"))
      .as[(Long, Double)].collect().toMap
    assert(j(2L) > 0.9)
    assert(j(3L) < 0.2)
  }

  test("minhashCandidatePairsAndShingles: staged shingles power the exact verify") {
    val (pairs, shingled) = TextDedup
      .minhashCandidatePairsAndShingles(corpus, "doc_id", "text", threshold = 0.5)
    val jmap = shingled.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .join(pairs.select("id_a", "id_b"), "id_a")
      .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        TextDedup.jaccardFromShingles(col("sh_a"), col("sh_b")).as("j"))
      .as[(Long, Long, Double)].collect()
      .map(v => (v._1, v._2) -> v._3).toMap
    assert(jmap((1L, 4L)) == 1.0, "exact dup must verify at jaccard 1")
    assert(jmap((1L, 2L)) > 0.8, "near dup must verify high")
    shingled.unpersist()
    pairs.unpersist()
    ()
  }

  test("SessionScopedCache: per-app entries, one listener, evicted at app end") {
    val reg = graft.util.SessionScopedCache
    val appId = spark.sparkContext.applicationId
    // start from a clean application: eviction drops every entry of the
    // shared test session, and each one rebuilds on its next use
    reg.evict(appId)
    val others = reg.entryCount // entries of other applications, if any
    val listeners0 = reg.listenersAdded
    val misses0 = reg.totalMisses
    val first = reg.getOrElseUpdate(spark, "lsh:/cache-test/dirA")((corpus, corpus))
    assert(reg.totalMisses == misses0 + 1, "a build counts one miss")
    val second = reg.getOrElseUpdate(spark, "lsh:/cache-test/dirA")((corpus.limit(1), corpus))
    assert(first._1 eq second._1, "second lookup must return the cached stage")
    assert(reg.totalMisses == misses0 + 1, "a hit counts no miss")
    assert(reg.entryCount == others + 1)
    // the same dir under two owners' prefixes is two entries
    assert(reg.getOrElseUpdate(spark, "ivf:/cache-test/dirA")(1L) == 1L)
    assert(reg.getOrElseUpdate(spark, "pq:/cache-test/dirA")(2L) == 2L)
    assert(reg.get[Long](spark, "ivf:/cache-test/dirA").contains(1L))
    assert(reg.entryCount == others + 3)
    // any number of prefixes in one application: exactly one listener
    Seq("count:", "schema:", "ensured:", "batches:", "exact-top:").foreach { p =>
      reg.put(spark, p + "/cache-test/dirA", p)
    }
    assert(reg.listenersAdded == listeners0 + 1)
    // another application's end leaves this application's entries alone
    reg.evict(appId + "-other")
    assert(reg.entryCount == others + 8)
    assert(reg.get[String](spark, "schema:/cache-test/dirA").contains("schema:"))
    // what the registered onApplicationEnd listener fires:
    reg.evict(appId)
    assert(reg.entryCount == others, "entries for the ended application must be gone")
    // a later session (same or new appId) recomputes instead of double-holding
    val third = reg.getOrElseUpdate(spark, "lsh:/cache-test/dirA")((corpus.limit(2), corpus))
    assert(!(third._1 eq first._1), "evicted entry must be recomputed")
    reg.evict(appId)
    ()
  }

  test("simhash pairs: near-dups within small hamming distance") {
    // exact duplicate at hamming 0 with the tight default
    val strict = TextDedup
      .simhashCandidatePairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(strict.contains((1L, 4L)))
    // one-token edit flips a handful of bits; widen the radius
    val relaxed = TextDedup
      .simhashCandidatePairs(corpus, "doc_id", "text", maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(relaxed.contains((1L, 2L)) && relaxed.contains((1L, 4L)))
    assert(!relaxed.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("portable-md5 simhash scheme (60-bit) finds the same duplicate structure") {
    val strict = TextDedup
      .simhashCandidatePairs(corpus, "doc_id", "text", maxHamming = 3,
        scheme = TextDedup.PortableMd5Simhash)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(strict.contains((1L, 4L)), "exact-dup pair missed")
    val relaxed = TextDedup
      .simhashCandidatePairs(corpus, "doc_id", "text", maxHamming = 16,
        scheme = TextDedup.PortableMd5Simhash)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(relaxed.contains((1L, 2L)) && relaxed.contains((1L, 4L)))
    assert(!relaxed.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc flagged")
  }

  private lazy val vectors = {
    val base = (0 until 32).map(i => math.sin(i * 0.7).toFloat)
    val near = base.map(_ + 0.001f)
    val opposite = base.map(-_)
    val unrelated = (0 until 32).map(i => math.cos(i * 2.3 + 1).toFloat)
    Seq((0L, base), (1L, near), (2L, opposite), (3L, unrelated)).toDF("vec_id", "embedding")
  }

  test("bruteForceTopK ranks the near vector first after self") {
    val top = SimilaritySearch
      .bruteForceTopK(vectors, vectors.filter(col("vec_id") === 0), "vec_id", "embedding", 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(top.take(2) == Seq(0L, 1L))
    assert(!top.contains(2L), "opposite vector ranked in top-3")
  }

  test("lshTopK finds the same head as brute force") {
    val top = SimilaritySearch
      .lshTopK(vectors, vectors.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 2, bits = 32, maxHamming = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L))
  }

  test("lshTopK: an already-partitioned corpus gets NO repartition exchange") {
    val cores = spark.sparkContext.defaultParallelism
    // >= cores partitions: the production shape; the conditional spread
    // must be the identity, so no round-robin exchange precedes the
    // signature filter (hash repartition here so the only possible
    // RoundRobin in the plan would be the operator's own)
    val spreadCorpus = vectors.repartition(cores, col("vec_id"))
    val plan = SimilaritySearch
      .lshTopK(spreadCorpus, vectors.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 2, bits = 32, maxHamming = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("RoundRobinPartitioning"),
      s"unconditional repartition leaked back into lshTopK:\n$plan")
    // a single-partition local input still gets spread across cores
    val onePart = vectors.coalesce(1)
    val spreadPlan = SimilaritySearch
      .lshTopK(onePart, vectors.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 2, bits = 32, maxHamming = 4)
      .queryExecution.executedPlan.toString
    assert(spreadPlan.contains("RoundRobinPartitioning"),
      s"single-partition input no longer spread:\n$spreadPlan")
  }

  test("embeddingNearDupPairs: only the planted near-pair survives") {
    val pairs = SimilaritySearch
      .embeddingNearDupPairs(vectors, "vec_id", "embedding", bits = 16, minCosine = 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("embeddingNearDupPairs mega-bucket cap drops oversized buckets") {
    val capped = SimilaritySearch
      .embeddingNearDupPairs(vectors, "vec_id", "embedding", bits = 16, minCosine = 0.98,
        maxBucketPairs = 0L)
      .count()
    assert(capped == 0)
  }

  test("multimodal: stub feature extraction is deterministic with real schema") {
    val docs = Seq((1L, "some media payload bytes", "en", "src1", 24L),
      (2L, "other media payload", "en", "src1", 19L),
      (3L, "third content blob for video", "en", "src2", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.syntheticMediaFromDocs(spark, docs)
    val feats = Multimodal.extractFeatures(media, dim = 8).collect().sortBy(_.media_id)
    assert(feats.length == 3)
    assert(feats.forall(_.features.length == 8))
    assert(feats.forall(f => f.features.forall(v => v >= -1f && v <= 1f)))
    // deterministic: same input -> same features
    val again = Multimodal.extractFeatures(media, dim = 8).collect().sortBy(_.media_id)
    assert(feats.zip(again).forall { case (x, y) => x.features.sameElements(y.features) })
    // video rows sample >1 frame when content is long enough
    assert(feats.forall(f => f.frames_sampled >= 1))
    // resize: metadata updated, content re-derived deterministically
    val resized = Multimodal.resize(media, 128, 96).collect().sortBy(_.media_id)
    assert(resized.forall(m => m.width == 128 && m.height == 96))
    val resized2 = Multimodal.resize(media, 128, 96).collect().sortBy(_.media_id)
    assert(resized.zip(resized2).forall { case (a, b) => a.content.sameElements(b.content) })
  }

  test("SQL registration: get_schema_id / get_confluent_avro_value / avro_decode") {
    GraftFunctions.registerAll(spark)
    val msg = AvroTestData.message(33, AvroTestData.usersKeySchema, Map("id" -> 9))
    Seq(Tuple1(msg)).toDF("value").createOrReplaceTempView("kafka_batch")
    val row = spark.sql(
      s"""SELECT get_schema_id(value) AS sid,
         |  avro_decode(get_confluent_avro_value(value), '${AvroTestData.usersKeySchema}').id AS id
         |FROM kafka_batch""".stripMargin).collect().head
    assert(row.getInt(0) == 33 && row.getInt(1) == 9)
  }

  test("SQL registration: lang_id / scrub_pii / interleave_bits / hyperplane_signature") {
    GraftFunctions.registerAll(spark)
    val row = spark.sql(
      """SELECT lang_id('the cat is on the mat') AS lang,
        |  scrub_pii('mail a@b.co or +1 555-123-9876 x') AS scrubbed,
        |  interleave_bits(CAST(0 AS BIGINT)) AS z,
        |  hyperplane_signature(array(CAST(1.0 AS FLOAT)), 8, 42) AS sig""".stripMargin)
      .collect().head
    assert(row.getString(0) == "en")
    assert(row.getString(1) == "mail <EMAIL> or <PHONE> x")
    assert(row.getLong(2) == Long.MinValue) // monotone(0) flips the sign bit
    ()
  }

  test("b-bit minhash: agreement, estimator inversion, xx twin shape") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextDedup
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this one here now"))
      .toDF("id", "text")
    val sigs = docs.select(col("id"),
      TextDedup.minhashSignatureFromShingles(
        array_distinct(graft.functions.TextFunctions.ngramsFromTokens(
          graft.functions.TextFunctions.tokens(col("text")), 3)),
        32, TextDedup.PortableMd5Scheme).as("sig"))
    val bb = sigs.select(col("id"), TextDedup.bbitSignatureMd5(col("sig"), 4).as("bb"))
    val rows = bb.select(col("id").as("ia"), col("bb").as("ba"))
      .crossJoin(bb.select(col("id").as("ib"), col("bb").as("bbx")))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        TextDedup.bbitAgreement(col("ba"), col("bbx")).as("k"))
      .withColumn("est", TextDedup.bbitEstimateMicro(col("k"), 32, 4))
      .as[(Long, Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // identical docs agree everywhere -> exactly 1.0 (1e6 micro)
    assert(rows((1L, 2L)) == ((32, 1000000L)))
    // unrelated docs: low agreement clamps at >= 0
    val (k13, est13) = rows((1L, 3L))
    assert(k13 < 32 && est13 >= 0L && est13 < 500000L)
    // xxhash64 twin has the same shape on longs (values differ)
    val sigsXx = docs.select(col("id"),
      TextDedup.minhashSignatureFromShingles(
        array_distinct(graft.functions.TextFunctions.ngramsFromTokens(
          graft.functions.TextFunctions.tokens(col("text")), 3)), 32).as("sig"))
    val bbXx = sigsXx.select(TextDedup.bbitSignatureXx(col("sig"), 4).as("bb"))
      .as[Seq[Long]].collect()
    assert(bbXx.forall(s => s.length == 32 && s.forall(v => v >= 0 && v < 16)))
  }

  test("withinPairBudget is exact at mega-bucket scale (no long wrap) and clamps the budget") {
    def admits(n: Long, budget: Long): Boolean =
      Seq(Tuple1(n)).toDF("n")
        .filter(TextDedup.withinPairBudget(col("n"), budget))
        .count() == 1L
    // the default boundary: 2000·1999/2 = 1999000 exactly
    assert(admits(2000L, TextDedup.defaultBucketPairBudget))
    assert(!admits(2001L, TextDedup.defaultBucketPairBudget))
    // the wrap regime the guard exists to bound: n ~ 4e9 makes
    // n·(n−1) overflow Long to a negative value, which would pass a
    // `<=` comparison and admit ~8e18 pairs — the decimal form must
    // still reject
    assert(!admits(4_000_000_000L, TextDedup.defaultBucketPairBudget))
    assert(!admits(Long.MaxValue, Long.MaxValue / 2))
    // degenerate buckets always pass (they emit zero pairs)
    assert(admits(1L, 0L) && admits(0L, 0L) && !admits(2L, 0L))
    // budgets whose doubling would overflow are rejected loudly
    intercept[IllegalArgumentException] {
      TextDedup.withinPairBudget(col("n"), Long.MaxValue / 2 + 1)
    }
  }
}
