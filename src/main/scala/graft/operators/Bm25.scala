package graft.operators

import graft.functions.TextFunctions
import graft.sources.Store
import graft.util.Staged

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval over a document corpus — the lookup side of a
  * training-data pipeline: "show me the strongest matches for these
  * terms" drives eval-set decontamination audits, targeted corpus
  * inspection, and seed-set expansion. Okapi BM25 with the Lucene
  * positive idf:
  *
  *   idf(t)    = ln((N - df + 0.5) / (df + 0.5) + 1)
  *   score(d)  = SUM_t idf(t) * tf * (k1+1) / (tf + k1*(1-b + b*dl/avgdl))
  *
  * Scale shape: the index is two projections of the corpus — postings
  * (term, id, tf) from one explode+count, and doc lengths (id, dl)
  * from a map-only `size` — built once, saved partitioned by a term
  * hash prefix. A search touches ONLY the query terms' postings
  * (partition-pruned on disk, an `isin` scan filter in memory), joins
  * them to doc lengths on id (bucket both by id at 100 TB for a
  * shuffle-free sort-merge), and takes top-k via ORDER+LIMIT —
  * Spark plans that as TakeOrderedAndProject, never a global sort.
  * Nothing in the search is proportional to corpus size except the
  * postings rows of the searched terms themselves.
  *
  * Numeric contract (repo-wide integer-space discipline): every
  * per-(doc,term) contribution is floor-quantized to a 1e-6-scaled
  * LONG before the per-doc sum, so ranking and scores are EXACT under
  * any partition order and replay bit-for-bit in SQL — idf/length
  * normalization are IEEE arithmetic over exactly-representable
  * counts, identical on any engine that parses the same literals.
  */
object Bm25 {

  /** Okapi defaults (Robertson; the Lucene/Elasticsearch constants). */
  val K1: Double = 1.2
  val B: Double = 0.75

  /** Scale factor of the quantized per-term contribution. */
  val ScoreScale: Double = 1e6

  /** A built index: `postings` (term, id, tf), `docs` (id, dl), and
    * the exact corpus totals avgdl derives from. `prefixBuckets` is
    * set on loaded indexes: postings then carry a `__tp` partition
    * column and [[search]] prunes the read to the query terms'
    * prefixes.
    */
  final case class Index(
      postings: DataFrame,
      docs: DataFrame,
      nDocs: Long,
      totalDl: Long,
      prefixBuckets: Option[Int] = None) {
    /** avgdl recomputed from the exact totals — identical IEEE
      * division on build and after load, so saved scores replay.
      */
    def avgDl: Double = totalDl.toDouble / nDocs.toDouble
    def unpersist(): Unit = { postings.unpersist(); docs.unpersist(); () }
  }

  /** Build the index: one staged tokenize feeding the postings
    * explode+count and the map-combinable length projection.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String): Index = {
    val toks = TextDedup.spreadToCores(corpus)
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .persist()
    val docs = toks.select(col("id"), size(col("toks")).cast("long").as("dl")).persist()
    val postings = toks
      .select(col("id"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("id")).agg(count(lit(1)).as("tf"))
      .persist()
    postings.count()
    val totals = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("total")).head()
    toks.unpersist()
    Index(postings, docs, totals.getAs[Long]("n"), totals.getAs[Long]("total"))
  }

  /** Top-k documents for `queryTerms`, ranked by the quantized BM25
    * sum (ties broken by ascending id — fully deterministic).
    *
    * @return (id, n_terms, score): matched query-term count and the
    *         rounded(4) BM25 score, k rows, best first.
    */
  def search(
      index: Index,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = K1,
      b: Double = B): DataFrame = {
    require(k > 0, "k must be positive")
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val spark = index.postings.sparkSession
    import spark.implicits._
    val terms = queryTerms.distinct
    // Disk-backed index: prune the postings read to the query terms'
    // partitions. The collect is |terms| values computed by a one-job
    // lookup of Spark's own xxhash64 (driver-side reimplementation
    // would risk divergence).
    val matchedAll = index.prefixBuckets match {
      case Some(nb) =>
        Store.pruned(index.postings, "__tp", terms.toDF("term").select(Store.prefix(nb, col("term"))))
          .drop("__tp")
      case None => index.postings
    }
    // The matched postings feed BOTH the df aggregation and the
    // contribution join — staged once so the postings scan (the only
    // corpus-proportional cost in a search) doesn't run twice.
    val matched = matchedAll.filter(col("term").isin(terms: _*)).persist()
    // df per searched term: |terms| rows — broadcast back onto postings.
    val dfreq = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(
      ((lit(index.nDocs) - col("df")).cast("double") + 0.5) /
        (col("df").cast("double") + 0.5) + 1.0)
    val norm = (col("tf").cast("double") * (k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / index.avgDl)))
    val contrib = matched
      .join(broadcast(dfreq), Seq("term"))
      .join(index.docs, Seq("id"))
      .select(col("id"), floor(idf * norm * ScoreScale).cast("long").as("lp"))
    Staged.materialized(
      contrib.groupBy(col("id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("lp")).as("lp_sum"))
        .orderBy(col("lp_sum").desc, col("id"))
        .limit(k)
        .select(
          col("id"),
          col("n_terms"),
          round(col("lp_sum").cast("double") / lit(ScoreScale), 4).as("score")),
      Seq(matched))
  }

  /** Fold new documents into an index without rebuilding — the
    * [[TextDedup.absorbIntoMinhashStore]] shape: only the INCREMENT is
    * tokenized (one staged pass — postings explode+count and the
    * map-only length projection over the new docs alone; no corpus
    * rescan, no corpus shuffle), then unioned in with the exact totals
    * added. Increment ids must be new to the index (the ingest
    * contract every absorb in this repo shares); postings rows can
    * then never collide, so the result is row-identical to [[build]]
    * over the union corpus and searches score bit-for-bit the same
    * (Bm25Spec's absorb==rebuild differential).
    */
  def absorb(index: Index, increment: DataFrame, idCol: String, textCol: String): Index = {
    val inc = build(increment, idCol, textCol)
    val incPostings = index.prefixBuckets match {
      case Some(nb) => inc.postings.withColumn("__tp", Store.prefix(nb, col("term")))
      case None => inc.postings
    }
    val mergedPostings = index.postings.unionByName(incPostings).persist()
    val mergedDocs = index.docs.unionByName(inc.docs).persist()
    mergedPostings.count()
    mergedDocs.count()
    inc.unpersist()
    Index(mergedPostings, mergedDocs,
      index.nDocs + inc.nDocs, index.totalDl + inc.totalDl, index.prefixBuckets)
  }

  /** [[absorb]] for a PERSISTED index: tokenize the increment, then
    * add its postings to the saved term-prefix layout — only the
    * prefixes that receive rows gain files, existing files are
    * untouched — add the new doc lengths, and rewrite the one-row meta
    * with the summed exact totals, all in ONE store write. Cost is
    * O(increment); a subsequent [[load]] serves searches over the
    * merged corpus with the same partition-pruned reads.
    */
  def absorbIntoSaved(
      spark: SparkSession,
      path: String,
      increment: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val st = Store(spark, path)
    val nb = st.meta.getAs[Int]("prefixBuckets")
    val inc = build(increment, idCol, textCol)
    val postings = inc.postings.withColumn("__tp", Store.prefix(nb, col("term")))
    val docs = inc.docs.select(col("id"), col("dl"))
    val meta = totals(spark, st, inc.nDocs, inc.totalDl)
    // A previously retracted id may legitimately re-enter the corpus.
    // Its tombstone must clear or load() would filter the fresh rows
    // while the meta counts them — but clearing alone would un-mask
    // the id's OLD rows still on disk, so those rows are physically
    // vacuumed in the same write (a targeted rewrite, paid only when a
    // batch actually re-uses a retracted id — rare by construction).
    val tombs = Option.when(st.exists("tombstones"))(
      st.read("tombstones").select(col("id")).distinct().persist())
    val reused = tombs.map(
      _.join(broadcast(docs.select(col("id")).distinct()), Seq("id"), "left_semi").persist())
    reused.filterNot(_.isEmpty) match {
      case None => Store.write(spark, path)(
        Store.Add("postings", postings, Some("__tp")), Store.Add("docs", docs), meta)
      case Some(ids) =>
        Store.write(spark, path)(
          Store.Put("postings", without(st.read("postings"), ids).unionByName(postings), Some("__tp")),
          Store.Put("docs", without(st.read("docs"), ids).unionByName(docs)),
          Store.Put("tombstones", without(tombs.get, ids).repartition(1)),
          meta)
    }
    reused.foreach(_.unpersist()); tombs.foreach(_.unpersist()); inc.unpersist()
  }

  /** The one-row meta with the store's exact totals moved by `dN` docs
    * of `dDl` total length.
    */
  private def totals(spark: SparkSession, st: Store, dN: Long, dDl: Long): Store.Op =
    Store.meta(spark,
      "nDocs" -> (st.meta.getAs[Long]("nDocs") + dN),
      "totalDl" -> (st.meta.getAs[Long]("totalDl") + dDl),
      "prefixBuckets" -> st.meta.getAs[Int]("prefixBuckets"))

  /** A postings or docs table without the rows of `ids`. */
  private def without(table: DataFrame, ids: DataFrame): DataFrame =
    table.join(broadcast(ids), Seq("id"), "left_anti")

  /** Physically drop tombstoned rows from a persisted index and reset
    * the tombstone table — the compaction half of the retract
    * lifecycle, run when lazy anti-join filtering has accumulated
    * enough dead weight (each tombstone broadcast-filters EVERY
    * subsequent pruned read; past a few thousand ids the rewrite pays
    * for itself). Meta is untouched: [[retractFromSaved]] already
    * keeps it at the survivors' exact totals, so searches before and
    * after a vacuum score bit-for-bit the same (Bm25Spec's
    * vacuum==retract differential). Postings and docs swap in and the
    * tombstones leave in ONE store write — a crash leaves the whole
    * pre-vacuum store, never a vacuumed postings next to unvacuumed
    * docs.
    *
    * No-op when no tombstones exist.
    */
  def vacuumSaved(spark: SparkSession, path: String): Unit = {
    val st = Store(spark, path)
    if (!st.exists("tombstones")) return
    val tombs = st.read("tombstones").select(col("id")).distinct().persist()
    Store.write(spark, path)(
      Store.Put("postings", without(st.read("postings"), tombs), Some("__tp")),
      Store.Put("docs", without(st.read("docs"), tombs)),
      Store.Drop("tombstones"))
    tombs.unpersist()
    ()
  }

  /** Remove documents from an index without rebuilding — the
    * right-to-be-forgotten half of the ingest lifecycle, and the
    * inverse [[absorb]] deserves because every index statistic is
    * per-(term, doc) rows plus two exact totals: retraction is an
    * anti-join on the removed ids and a subtraction, row-identical to
    * [[build]] over the surviving corpus (Bm25Spec's differential and
    * the `bm25_retract_search` gate both assert it). The removal set
    * broadcasts — deletion batches are curated and small by
    * construction.
    */
  def retract(index: Index, removeIds: DataFrame, idCol: String): Index = {
    val ids = removeIds.select(col(idCol).as("id")).distinct().persist()
    val gone = index.docs.join(ids, Seq("id"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("t")).head()
    val postings = index.postings.join(broadcast(ids), Seq("id"), "left_anti").persist()
    val docs = index.docs.join(broadcast(ids), Seq("id"), "left_anti").persist()
    postings.count(); docs.count()
    ids.unpersist()
    Index(postings, docs,
      index.nDocs - gone.getAs[Long]("n"), index.totalDl - gone.getAs[Long]("t"),
      index.prefixBuckets)
  }

  /** [[retract]] for a PERSISTED index, the Lucene/Delta way: the
    * term-prefix layout is partitioned on the WRONG axis for doc
    * deletion (one doc's postings scatter across every term prefix),
    * so instead of rewriting the store the removed ids are added to a
    * TOMBSTONE table and [[load]] anti-joins them out lazily; the one-
    * row meta updates to the survivors' exact totals in the same
    * write, so avgdl/idf score as if rebuilt. Fold tombstones away
    * when they accumulate with [[vacuumSaved]] — the compaction half
    * of the cycle.
    */
  def retractFromSaved(
      spark: SparkSession,
      path: String,
      removeIds: DataFrame,
      idCol: String): Unit = {
    val st = Store(spark, path)
    // Overlapping deletion batches are normal in right-to-be-forgotten
    // flows: ids already tombstoned must NOT subtract from the totals
    // again (the physical docs row is still on disk, so the join alone
    // can't tell a live doc from a previously retracted one).
    val raw = removeIds.select(col(idCol).as("id")).distinct()
    val ids = (if (st.exists("tombstones"))
      raw.join(broadcast(st.read("tombstones").select(col("id")).distinct()), Seq("id"), "left_anti")
    else raw).persist()
    val gone = st.read("docs").join(ids, Seq("id"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("t")).head()
    Store.write(spark, path)(
      Store.Add("tombstones", ids),
      totals(spark, st, -gone.getAs[Long]("n"), -gone.getAs[Long]("t")))
    ids.unpersist()
    ()
  }

  /** Persist the index: postings partitioned by a term hash prefix
    * (searches read only the query terms' directories), doc lengths
    * plain, exact totals in a one-row meta parquet — one store write.
    * The written frames have any tombstone filter already applied
    * ([[load]] bakes it into the plan), so the write drops a tombstone
    * table at the target: `save(load(path), path)` compacts a store in
    * place, like [[vacuumSaved]].
    */
  def save(index: Index, path: String, prefixBuckets: Int = 64): Unit = {
    val spark = index.postings.sparkSession
    Store.write(spark, path)(
      Store.Put("postings",
        index.postings.select(col("term"), col("id"), col("tf"))
          .withColumn("__tp", Store.prefix(prefixBuckets, col("term"))),
        Some("__tp")),
      Store.Put("docs", index.docs.select(col("id"), col("dl"))),
      Store.meta(spark,
        "nDocs" -> index.nDocs, "totalDl" -> index.totalDl, "prefixBuckets" -> prefixBuckets),
      Store.Drop("tombstones"))
  }

  /** Load a persisted index; nothing is eagerly cached and searches
    * prune the postings read by partition. Tombstoned ids (from
    * [[retractFromSaved]]) anti-join out lazily — a broadcast filter
    * on the pruned postings read, never a store rewrite.
    */
  def load(spark: SparkSession, path: String): Index = {
    val st = Store(spark, path)
    val postings = st.read("postings").select(col("term"), col("id"), col("tf"), col("__tp"))
    val docs = st.read("docs").select(col("id"), col("dl"))
    val tombs = Option.when(st.exists("tombstones"))(
      st.read("tombstones").select(col("id")).distinct())
    Index(
      tombs.fold(postings)(without(postings, _)),
      tombs.fold(docs)(without(docs, _)),
      st.meta.getAs[Long]("nDocs"),
      st.meta.getAs[Long]("totalDl"),
      Some(st.meta.getAs[Int]("prefixBuckets")))
  }

  /** Exact phrase search via positional-posting intersection — the
    * boolean complement of the BM25 ranker ("find the documents
    * containing THIS exact token sequence"), the primitive behind
    * quote tracing, eval-decontamination audits, and boilerplate
    * hunting.
    *
    * Scale shape: the positional postings are filtered to the phrase's
    * terms BEFORE anything else (an `isin` predicate that reaches the
    * scan — the postings of a handful of terms, a vanishing slice of
    * the corpus), then each term's postings are aligned to the phrase
    * start (`pos - i`) and intersected with |phrase|-1 equi-joins on
    * (doc, start). This is exactly how positional inverted indexes
    * evaluate phrases; the rarest term bounds the join size. Nothing
    * is proportional to corpus size except the matched terms' postings.
    *
    * @return (id, n_matches, first_pos) — first_pos 1-based, docs
    *         containing the phrase at least once
    */
  /** "More like this" — top-k documents by sparse TF-IDF cosine to a
    * query DOCUMENT (doc-to-doc similarity through the inverted
    * index, the retrieval complement of term-query BM25: seed-set
    * expansion, related-content, near-topic audit).
    *
    * Exactness: weights ride an integer milli-idf grid
    * (`tf · (idf_µ div 1000)` — the div keeps squared sums far inside
    * long range at any document length), so dots and norms are exact
    * integer sums; ONE double cosine at the edge, rounded before the
    * deterministic (sim, id) ranking.
    *
    * Scale shape: the weighted posting table is built once (explode +
    * count, map-combinable; the df join is vocabulary-keyed); the
    * query document's terms broadcast (one doc — bounded by
    * construction) and the dot aggregation touches ONLY postings of
    * the query's terms. Top-k is ORDER+LIMIT.
    *
    * @return (id, shared_terms, sim) — k rows, sim rounded to 6
    */
  def moreLikeThis(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryId: Long,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val nDocs = docs.count()
    val tf = TextDedup.spreadToCores(docs)
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idfQ =
      floor(log(lit(nDocs + 1.0) / (col("df").cast("double") + 1.0))
        * lit(Lexicon.IdfScale.toDouble)).cast("long") + lit(Lexicon.IdfScale)
    val w = tf.join(dfT, "term")
      .withColumn("__idfq", idfQ)
      .select(col("id"), col("term"),
        (col("tf") * expr("__idfq div 1000")).as("w"))
      .persist()
    val norms = w.groupBy(col("id"))
      .agg(sum(col("w") * col("w")).as("n2"))
      .persist()
    val qv = w.filter(col("id") === queryId)
      .select(col("term"), col("w").as("wq"))
    val qn = norms.filter(col("id") === queryId).select(col("n2").as("qn2"))
    val out = w.join(broadcast(qv), "term")
      .filter(col("id") =!= queryId)
      .groupBy(col("id"))
      .agg(sum(col("w") * col("wq")).as("dot"),
        count(lit(1)).as("shared_terms"))
      .join(norms, "id")
      .crossJoin(broadcast(qn))
      .select(col("id"), col("shared_terms").cast("long").as("shared_terms"),
        round(col("dot").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
    Staged.materialized(out, Seq(w, norms))
  }

  def phraseSearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val pos = TextDedup.spreadToCores(docs)
      .select(col(idCol).as("id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__p", "__term")))
      .filter(col("__term").isin(phrase.distinct: _*))
    val aligned = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("__term") === t)
        .select(col("id"), (col("__p") - i).as("__start"))
    }
    aligned
      .reduce((a, b) => a.join(b, Seq("id", "__start")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_matches"),
        (min(col("__start")) + 1L).as("first_pos"))
  }
}
