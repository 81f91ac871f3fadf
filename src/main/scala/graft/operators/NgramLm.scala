package graft.operators

import graft.functions.TextFunctions
import graft.sources.Store
import graft.util.Staged

import org.apache.spark.sql.{DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.functions._

/** Bigram language-model perplexity scoring — the CCNet/RedPajama-class
  * quality signal large corpus pipelines run after rule-based filters:
  * score each document by how predictable its text is under an n-gram
  * model trained on a reference corpus; far-out perplexity (too high =
  * noise, too low = boilerplate) marks documents for the quality gate.
  *
  * Model: add-one-smoothed bigram probabilities over whitespace tokens,
  *
  *   P(w | ctx) = (c(ctx, w) + 1) / (c(ctx) + V)
  *
  * with V = |training vocabulary|. Unknown bigram and unknown context
  * degrade gracefully (numerator 1, denominator V-dominated).
  *
  * Scale shape: training is ONE explode to (ctx, w) pairs — O(total
  * tokens), the inherent n-gram cost — followed by two map-side-
  * combinable counts; the model tables' cardinality is the DISTINCT
  * gram count, far below corpus size. Scoring explodes the scored
  * slice only and joins it against the model on the gram key (AQE
  * broadcasts when the model fits; a shuffle join keyed by gram
  * otherwise — never an all-pairs anything), then aggregates per doc.
  *
  * Numeric contract (the repo-wide integer-space discipline): each
  * position's log-probability is floor-quantized to a 1e-6-scaled LONG
  * before summation, so the per-document sum is EXACT under any
  * partition/combine order and the whole score replays bit-for-bit in
  * SQL — `ln` of the same IEEE-rational probability plus an identical
  * floor is engine-portable the way a raw double sum is not.
  */
object NgramLm {

  /** Scale factor of the quantized per-position log-prob. */
  val LogProbScale: Double = 1e6

  /** A trained bigram model: `bigrams` (ctx, w, c) and `contexts`
    * (ctx, c_ctx), both persisted by [[train]] (release with
    * [[Model.unpersist]]; loaded models stay on disk), plus the
    * training vocabulary size.
    */
  final case class Model(bigrams: DataFrame, contexts: DataFrame, vocabSize: Long) {
    def unpersist(): Unit = { bigrams.unpersist(); contexts.unpersist(); () }
  }

  /** Persisted (id, toks) staging shared by train/score. */
  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextDedup.spreadToCores(df)
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .persist()

  /** Train the model: bigram counts, context counts, vocabulary size —
    * two map-side-combinable aggregations over one staged explode.
    */
  def train(corpus: DataFrame, idCol: String, textCol: String): Model = {
    val toks = tokenized(corpus, idCol, textCol)
    val pairs = pairsFromToks(toks).persist()
    pairs.count()
    val bigrams = pairs.groupBy(col("ctx"), col("w")).agg(count(lit(1)).as("c")).persist()
    val contexts = pairs.groupBy(col("ctx")).agg(count(lit(1)).as("c_ctx")).persist()
    val vocab = toks.select(explode(col("toks")).as("tok")).distinct().count()
    bigrams.count(); contexts.count()
    pairs.unpersist(); toks.unpersist()
    Model(bigrams, contexts, vocab)
  }

  /** One-pass (id, ctx, w) pairs: per row, zip the token array with
    * its own tail — no join, no second explode.
    */
  private def pairsFromToks(toks: DataFrame): DataFrame =
    toks.filter(size(col("toks")) >= 2)
      .select(col("id"),
        explode(
          zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1),
            (a, b) => struct(a.as("ctx"), b.as("w")))).as("e"))
      .select(col("id"), col("e.ctx").as("ctx"), col("e.w").as("w"))

  /** Score `docs` against a trained model.
    *
    * @return (id, n_bigrams, avg_logp, perplexity) — avg_logp is the
    *         mean quantized log-probability (4 decimals), perplexity
    *         its exponential inverse; both null for docs with no
    *         bigram (under 2 tokens).
    */
  def perplexity(
      docs: DataFrame,
      model: Model,
      idCol: String,
      textCol: String): DataFrame = {
    val toks = tokenized(docs, idCol, textCol)
    val pairs = pairsFromToks(toks)
    val p = (coalesce(col("c"), lit(0L)) + 1L).cast("double") /
      (coalesce(col("c_ctx"), lit(0L)) + model.vocabSize).cast("double")
    val scored = pairs
      .join(model.bigrams, Seq("ctx", "w"), "left")
      .join(model.contexts, Seq("ctx"), "left")
      .select(col("id"), floor(log(p) * LogProbScale).cast("long").as("lp"))
    val perDoc = scored.groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("lp_sum"))
      .select(
        col("id"),
        col("n_bigrams"),
        round(col("lp_sum").cast("double") / lit(LogProbScale) / col("n_bigrams").cast("double"), 4)
          .as("avg_logp"),
        round(exp(-(col("lp_sum").cast("double") / lit(LogProbScale) / col("n_bigrams").cast("double"))), 4)
          .as("perplexity"))
    val out = toks.select(col("id")).distinct()
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logp"), col("perplexity"))
    Staged.materialized(out, Seq(toks))
  }

  /** A driver-collected model for the stateless serving path — bounded
    * by construction ([[collectModel]] refuses above `maxRows`).
    */
  final case class CollectedModel(
      bigrams: Map[(String, String), Long],
      contexts: Map[String, Long],
      vocabSize: Long)

  /** Collect a trained model's tables for closure shipping. The
    * collect is guarded: a model past `maxRows` distinct grams should
    * score through the distributed join form ([[perplexity]]), not a
    * task closure.
    */
  def collectModel(model: Model, maxRows: Long = 2000000L): CollectedModel = {
    val nBi = model.bigrams.count()
    val nCtx = model.contexts.count()
    require(nBi + nCtx <= maxRows,
      s"model has ${nBi + nCtx} gram rows > $maxRows; use the join-based perplexity " +
        "(or raise maxRows if the closure size is acceptable)")
    CollectedModel(
      model.bigrams.collect()
        .map(r => (r.getAs[String]("ctx"), r.getAs[String]("w")) -> r.getAs[Long]("c")).toMap,
      model.contexts.collect()
        .map(r => r.getAs[String]("ctx") -> r.getAs[Long]("c_ctx")).toMap,
      model.vocabSize)
  }

  /** One-pass per-row score of a token array against a collected
    * model: a struct (n_bigrams, avg_logp, perplexity) —
    * [[graft.functions.BigramLmScore]], the stateless projection that
    * makes the perplexity gate streamable.
    */
  def scoreColumn(toks: org.apache.spark.sql.Column, model: CollectedModel): org.apache.spark.sql.Column =
    GraftColumnShim.column(graft.functions.BigramLmScore(
      GraftColumnShim.expression(toks), model.bigrams, model.contexts, model.vocabSize))

  /** Stateless-projection twin of [[perplexity]]: same output schema
    * and (proven by differential spec) identical values, works on
    * streaming DataFrames because nothing aggregates across rows.
    */
  def perplexityInline(
      docs: DataFrame,
      model: CollectedModel,
      idCol: String,
      textCol: String): DataFrame =
    docs.select(
        col(idCol).as("id"),
        scoreColumn(TextFunctions.tokens(col(textCol)), model).as("s"))
      .select(col("id"), col("s.n_bigrams").as("n_bigrams"),
        col("s.avg_logp").as("avg_logp"), col("s.perplexity").as("perplexity"))

  /** Persist a trained model: gram tables partitioned by a hash prefix
    * of the context (same directory-pruning layout as the dedup
    * stores), vocabulary size in a one-row meta parquet.
    */
  def save(model: Model, path: String, prefixBuckets: Int = 64): Unit = {
    val spark = model.bigrams.sparkSession
    val cp = Store.prefix(prefixBuckets, col("ctx"))
    Store.write(spark, path)(
      Store.Put("bigrams", model.bigrams.select(col("ctx"), col("w"), col("c")).withColumn("__cp", cp),
        Some("__cp")),
      Store.Put("contexts", model.contexts.select(col("ctx"), col("c_ctx")).withColumn("__cp", cp),
        Some("__cp")),
      Store.meta(spark, "vocabSize" -> model.vocabSize))
  }

  /** Load a persisted model; nothing is eagerly cached. */
  def load(spark: SparkSession, path: String): Model = {
    val st = Store(spark, path)
    Model(
      st.read("bigrams").select(col("ctx"), col("w"), col("c")),
      st.read("contexts").select(col("ctx"), col("c_ctx")),
      st.meta.getAs[Long]("vocabSize"))
  }
}
