package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.util.Staged

/** Corpus-vocabulary operators for a training-data pipeline: build a
  * bounded top-V vocabulary, measure per-document out-of-vocabulary
  * rates against it (the tokenizer-fit signal that decides whether a
  * corpus needs a retrained vocab), and extract per-document top
  * TF-IDF terms (the cheap keyword/topic signal used for corpus
  * exploration and mixture design).
  *
  * Scale shape: the vocabulary and the document-frequency table are
  * VOCABULARY-sized (post-aggregation), never corpus-sized — the only
  * corpus-sized exchanges are the map-combinable token-count
  * aggregations. The OOV probe is a per-row fold against a set that
  * ships once per executor (same [[graft.functions.ArrayHitCount]]
  * path as streaming decontamination), so it also runs on an
  * unaggregated stream.
  */
object Lexicon {

  /** Per-document token-distribution Shannon entropy on the µ-nat
    * integer grid (`-sum k_t * floor(1e6 * ln(k_t/n))` — the
    * CorpusDrift replay trick, so the score is an exact integer both
    * engines agree on): near-zero entropy flags single-token spam /
    * template repetition, abnormally high entropy flags encoded blobs
    * — the distribution-shape complement of the Gopher repetition
    * fractions. One explode + a per-doc window sum + one aggregation;
    * everything shuffles on (doc, token) pairs, never raw text.
    */
  def tokenEntropy(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = docs
      .select(col(idCol).as("__doc"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("__w"))
      .groupBy(col("__doc"), col("__w"))
      .agg(count(lit(1)).as("__k"))
    val withN = counts.withColumn("__n",
      sum(col("__k")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("__doc"))))
    withN
      .groupBy(col("__doc"))
      .agg(
        max(col("__n")).cast("long").as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        (-sum(col("__k") *
          floor(log(col("__k").cast("double") / col("__n")) * lit(1e6)).cast("long")))
          .cast("long").as("entropy_micro"))
      .select(col("__doc").as(idCol), col("n_tokens"),
        col("distinct_tokens").cast("long").as("distinct_tokens"), col("entropy_micro"))
  }

  /** N-gram diversity statistics per group (distinct-n, Li et al.
    * 2016): total vs distinct n-gram counts and their ratio — the
    * standard corpus-diversity signal (a collapsing ratio flags
    * template spam / mode-collapsed synthetic data before training).
    * One explode + one aggregation (the distinct count is the only
    * shuffle-heavy part; at 100 TB swap `countDistinct` for
    * [[graft.functions.HyperLogLog.sketch]] — same query shape,
    * fixed-state distinct).
    */
  def diversityStats(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      groupCol: String,
      n: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col(groupCol),
        explode(graft.functions.TextFunctions
          .ngramsFromTokens(graft.functions.TextFunctions.tokens(col(textCol)), n)).as("__g"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_grams"),
        countDistinct(col("__g")).as("n_distinct"))
      .select(
        col(groupCol),
        col("n_grams").cast("long").as("n_grams"),
        col("n_distinct").cast("long").as("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_grams"), 4).as("distinct_ratio"))

  /** Integer idf grid (µ-nats): `floor(ln(x) * IdfScale)` — the same
    * engine-portable quantization as [[CorpusDrift]]/[[NgramLm]], so
    * TF-IDF scores order and replay identically across engines.
    */
  val IdfScale: Long = 1000000L

  /** Top-`vocabSize` tokens by corpus frequency, ties broken by token
    * ascending. The collect is bounded by construction (`vocabSize`
    * rows survive the TakeOrdered); the corpus pass is one
    * map-combinable count aggregation whose output is
    * vocabulary-sized.
    */
  def buildVocab(docs: DataFrame, textCol: String, vocabSize: Int): Seq[String] = {
    require(vocabSize > 0, "vocabSize must be positive")
    docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(vocabSize)
      .collect()
      .map(_.getString(0))
      .toSeq
  }

  /** Per-document OOV accounting against a fixed vocabulary: token
    * count, OOV token count, OOV fraction (rounded 4). One stateless
    * projection — the vocab set rides the task closure and is hashed
    * once per executor inside [[graft.functions.ArrayHitCount]]; no
    * shuffle, no join, streaming-safe. `tokens("")` yields `[""]`, so
    * the divisor is never zero.
    */
  def oovStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: Seq[String]): DataFrame = {
    val staged = docs.select(
      col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("__ws"))
    val hits = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.ArrayHitCount(
        org.apache.spark.sql.GraftColumnShim.expression(col("__ws")),
        vocab.distinct.sorted))
    staged
      .select(
        col("id"),
        size(col("__ws")).cast("long").as("n_tokens"),
        (size(col("__ws")).cast("long") - hits).as("oov_tokens"))
      .withColumn(
        "oov_frac",
        round(col("oov_tokens").cast("double") / col("n_tokens"), 4))
  }

  /** Per-document top-`topK` terms by smoothed TF-IDF
    * (`idf = ln((N+1)/(df+1)) + 1`), scored on the integer µ-nat grid
    * so ranking and the reported score replay bit-identically in SQL.
    *
    * Plan shape and why it scales:
    *   1. `tf`: one (id, term) count — map-side combined, the only
    *      corpus-sized shuffle.
    *   2. `df`: term-count over the cached `tf` — output is
    *      vocabulary-sized.
    *   3. idf join: `df` is BROADCAST (vocabulary-sized by
    *      construction; a web-scale vocab at ~10^7 terms × ~24 B is
    *      broadcast-safe). `tf` keeps its partitioning.
    *   4. top-k: `row_number <= k` over (id) — Spark's
    *      WindowGroupLimit pushes a per-map-partition top-k BEFORE the
    *      exchange, so the window shuffle carries ≤ k rows per (id,
    *      map partition), not the full tf table.
    */
  def tfIdfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val nDocs = docs.count()
    val tf = docs
      .select(col(idCol).as("id"), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val dfTable = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idfQ =
      floor(log(lit(nDocs + 1.0) / (col("df").cast("double") + 1.0)) * IdfScale)
        .cast("long") + IdfScale
    val scored = tf
      .join(broadcast(dfTable.withColumn("__idf_q", idfQ)), "term")
      .select(
        col("id"), col("term"), col("tf"), col("df"),
        (col("tf") * col("__idf_q")).as("__sq"))
    val w = Window.partitionBy(col("id")).orderBy(col("__sq").desc, col("term").asc)
    val top = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(
        col("id"), col("term"), col("tf"), col("df"),
        round(col("__sq").cast("double") / IdfScale, 4).as("score"))
    Staged.materialized(top, Seq(tf))
  }

  /** End-of-word marker for [[bpePairStats]] (the standard BPE word
    * boundary symbol).
    */
  val EowMarker = "</w>"

  /** BPE merge-candidate statistics: corpus-wide frequencies of
    * adjacent symbol pairs at the character stage of BPE training —
    * each word contributes its in-word character bigrams plus a
    * (last-char, `</w>`) boundary pair, weighted by the word's corpus
    * frequency. The top pair IS iteration 1's merge; the ranked list
    * is the statistic every BPE trainer recomputes per iteration
    * (Sennrich et al. 2016). Returns the `topK` (pair, n) rows, count
    * descending, pair ascending.
    *
    * Scale shape: one tokenize+count aggregation collapses the corpus
    * to its vocabulary FIRST (map-combinable, vocabulary-sized
    * output), then pairs explode from the vocabulary — corpus size
    * only enters through the word-count weights, so the pair
    * aggregation is bounded by distinct-word count, not corpus
    * length. Fully engine-portable (string ops + integer sums): the
    * oracle replays it verbatim.
    */
  def bpePairStats(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val words = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wn"))
      .filter(length(col("w")) >= 1)
    val pairs = words.select(
      col("wn"),
      explode(concat(
        when(length(col("w")) >= 2,
          transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2))))
          .otherwise(array().cast("array<string>")),
        array(concat(col("w").substr(length(col("w")), lit(1)), lit(EowMarker)))))
        .as("pair"))
    pairs
      .groupBy(col("pair"))
      .agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topK)
  }

  // --------------------------------------------------------------------
  // Iterative BPE training (Sennrich, Haddow & Birch 2016). Symbol
  // sequences are represented as BRACKETED STRINGS — '⟨h⟩⟨i⟩⟨</w>⟩' —
  // because applying one merge is then a LITERAL string replace
  // ('⟨x⟩⟨y⟩' -> '⟨xy⟩'), and literal replace is left-to-right
  // non-overlapping in every engine: exactly BPE's greedy merge
  // semantics ('⟨a⟩⟨a⟩⟨a⟩⟨a⟩' -> '⟨aa⟩⟨aa⟩'), replayed verbatim by
  // the DuckDB oracle. The bracket codepoints (U+27E8/27E9) never
  // appear in real tokens; words containing them are filtered (the
  // same WHERE runs in the oracle).
  // --------------------------------------------------------------------

  /** Bracketed symbol string of a word: every character becomes one
    * symbol, plus the `</w>` boundary symbol.
    */
  private[operators] def bpeSymInit(w: Column): Column =
    concat(regexp_replace(w, "(.)", "⟨$1⟩"), lit("⟨" + EowMarker + "⟩"))

  /** Symbol array from a bracketed string (strip the outer brackets,
    * split on the inner boundaries).
    */
  private[operators] def bpeSyms(symstr: Column): Column =
    split(regexp_replace(symstr, "^⟨|⟩$", ""), "⟩⟨")

  /** Train `nMerges` BPE merges over the corpus: per iteration, count
    * adjacent symbol pairs (weighted by word frequency), take the most
    * frequent (ties: x then y ascending), and apply it everywhere via
    * the literal replace. Returns (iter, x, y, n) — the ordered merge
    * table a tokenizer serves — fully deterministic and SQL-replayable
    * (the `bpe_train` oracle unrolls the same iterations).
    *
    * Scale shape: the corpus collapses to its VOCABULARY first (one
    * map-combinable count), so each iteration is two vocabulary-sized
    * jobs — a pair-count aggregation (output bounded by distinct
    * adjacent pairs) and a one-row TakeOrdered — plus a stateless
    * column rewrite. Corpus size enters only through the initial
    * count's weights; 50k merges would iterate the same shape.
    */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges > 0, "nMerges must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1 &&
        !col("w").contains("⟨") && !col("w").contains("⟩"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wn"))
      .select(bpeSymInit(col("w")).as("symstr"), col("wn"))
      .persist()
    words.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var iter = 1
    var exhausted = false
    try {
      while (iter <= nMerges && !exhausted) {
        val s = bpeSyms(col("symstr"))
        val top = words
          .select(col("wn"), s.as("s"))
          .select(col("wn"),
            explode(when(size(col("s")) >= 2,
              transform(sequence(lit(1), size(col("s")) - 1),
                i => struct(
                  element_at(col("s"), i).as("x"),
                  element_at(col("s"), i + 1).as("y"))))
              .otherwise(array().cast("array<struct<x:string,y:string>>")))
              .as("p"))
          .groupBy(col("p.x").as("x"), col("p.y").as("y"))
          .agg(sum(col("wn")).as("n"))
          .orderBy(col("n").desc, col("x").asc, col("y").asc)
          .limit(1)
          .collect() // bounded: one row
        if (top.isEmpty) exhausted = true
        else {
          val (x, y, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((iter, x, y, n))
          val replaced = org.apache.spark.sql.GraftColumnShim.column(
            org.apache.spark.sql.catalyst.expressions.StringReplace(
              org.apache.spark.sql.GraftColumnShim.expression(col("symstr")),
              org.apache.spark.sql.GraftColumnShim.expression(lit(s"⟨$x⟩⟨$y⟩")),
              org.apache.spark.sql.GraftColumnShim.expression(lit(s"⟨$x$y⟩"))))
          val next = words.select(replaced.as("symstr"), col("wn")).persist()
          next.count()
          words.unpersist()
          words = next
          iter += 1
        }
      }
    } finally words.unpersist()
    merges.toSeq.toDF("iter", "x", "y", "n").orderBy(col("iter"))
  }

  /** Apply an ordered merge table to segment text: every token becomes
    * its symbol array after all merges — the SERVING side of
    * [[bpeTrain]] (a pure per-row projection: the merge list rides the
    * plan as literal replaces, so it runs on streams too).
    */
  def bpeSegment(textCol: Column, merges: Seq[(String, String)]): Column = {
    val toks = TextFunctions.tokens(textCol)
    transform(toks, w => {
      val init = bpeSymInit(w)
      val merged = merges.foldLeft(init) { case (acc, (x, y)) =>
        org.apache.spark.sql.GraftColumnShim.column(
          org.apache.spark.sql.catalyst.expressions.StringReplace(
            org.apache.spark.sql.GraftColumnShim.expression(acc),
            org.apache.spark.sql.GraftColumnShim.expression(lit(s"⟨$x⟩⟨$y⟩")),
            org.apache.spark.sql.GraftColumnShim.expression(lit(s"⟨$x$y⟩"))))
      }
      bpeSyms(merged)
    })
  }

  /** Top-k bigram collocations by pointwise mutual information —
    * the corpus-analysis staple ("which word pairs co-occur far more
    * than chance?") that feeds phrase mining, tokenizer vocab seeding,
    * and boilerplate detection.
    *
    *   PMI(x,y) = ln p(x,y) - ln p(x) - ln p(y)
    *   with p(x,y) = c_xy / N_bi, p(x) = c_x / N_uni
    *
    * Scale shape: ONE tokenize pass staged and shared by the unigram
    * and bigram count aggregations (both map-combinable, outputs
    * vocabulary-sized); the bigram table joins the unigram table twice
    * keyed by token (vocab-sized sides, never the corpus); totals ride
    * a broadcast one-row cross join; the top-k is ORDER+LIMIT
    * (TakeOrderedAndProject, never a global sort).
    *
    * Numeric contract: the three ln terms are evaluated on exact
    * integer-count ratios in a fixed order and the sum is
    * floor-quantized to µ-nats ([[IdfScale]]) — the [[CorpusDrift]]
    * replay trick — so ranking AND score replay identically in SQL.
    * Single-token documents contribute unigrams but no bigrams
    * (the whole-text shingle a short doc would otherwise emit is not
    * a real co-occurrence).
    */
  def collocations(
      docs: DataFrame,
      textCol: String,
      minCount: Long,
      topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val toks = TextDedup.spreadToCores(docs)
      .select(TextFunctions.tokens(col(textCol)).as("__t"))
      .persist()
    val uni = toks
      .select(explode(col("__t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .persist()
    val bi = toks
      .filter(size(col("__t")) >= 2)
      .select(explode(TextFunctions.ngramsFromTokens(col("__t"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_pair"))
    val totals = uni.agg(sum(col("c")).as("__n_uni"))
      .crossJoin(bi.agg(sum(col("c_pair")).as("__n_bi")))
    val joined = bi
      .filter(col("c_pair") >= minCount)
      .withColumn("__w1", split(col("bigram"), " ").getItem(0))
      .withColumn("__w2", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("w").as("__w1"), col("c").as("c_left")), Seq("__w1"))
      .join(uni.select(col("w").as("__w2"), col("c").as("c_right")), Seq("__w2"))
      .crossJoin(broadcast(totals))
    val pmiMicro = floor(
      (log(col("c_pair").cast("double") / col("__n_bi").cast("double")) -
        log(col("c_left").cast("double") / col("__n_uni").cast("double")) -
        log(col("c_right").cast("double") / col("__n_uni").cast("double"))) *
        lit(IdfScale.toDouble)).cast("long")
    val out = joined
      .select(col("bigram"),
        col("c_pair").cast("long").as("c_pair"),
        col("c_left").cast("long").as("c_left"),
        col("c_right").cast("long").as("c_right"),
        pmiMicro.as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("bigram").asc)
      .limit(topK)
    Staged.materialized(out, Seq(toks, uni))
  }

  /** Zipf rank-frequency fit over the top-`topR` tokens: the OLS slope
    * of ln(count) on ln(rank) — the corpus-health scalar (natural text
    * sits near -1; template spam and encoded blobs bend the curve).
    *
    * Scale shape: one map-combinable count aggregation (vocab-sized
    * output), ORDER+LIMIT for the top ranks (TakeOrderedAndProject),
    * then a row_number window over the <= topR survivors (tiny) and
    * one single-row aggregation. Nothing after the count is corpus-
    * sized.
    *
    * Numeric contract: per-rank ln(rank)/ln(count) are floor-quantized
    * to µ-nats BEFORE summing, so all five OLS sums are exact integer
    * sums in any partition order; the slope is one double division at
    * the edge.
    */
  def zipfSlope(docs: DataFrame, textCol: String, topR: Int): DataFrame = {
    require(topR >= 2, "topR must be >= 2")
    val counts = TextDedup.spreadToCores(docs)
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val top = counts.orderBy(col("c").desc, col("w").asc).limit(topR)
    val ranked = top
      .withColumn("__r",
        row_number().over(Window.orderBy(col("c").desc, col("w").asc)))
      .select(
        floor(log(col("__r").cast("double")) * lit(IdfScale.toDouble))
          .cast("long").as("__x"),
        floor(log(col("c").cast("double")) * lit(IdfScale.toDouble))
          .cast("long").as("__y"))
    ranked.agg(
      count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__x") * col("__y")).as("__sxy"))
      .select(
        col("__n").cast("long").as("n_ranks"),
        round(
          (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
            (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double"),
          6).as("zipf_slope"))
  }
}
