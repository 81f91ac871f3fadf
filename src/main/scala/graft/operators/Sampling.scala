package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.util.Staged

/** Deterministic sampling for training-data pipelines.
  *
  * Both operators use hash-ordering rather than RNG state: the sample
  * is a pure function of the data, so re-runs, retries, and oracle
  * checks agree — the property a reproducible data pipeline needs.
  */
object Sampling {

  /** Weighted sampling without replacement (Efraimidis & Spirakis
    * 2006), deterministic: each row draws a hash-derived uniform
    * `u = (hex60(md5(id)) mod 1e6 + 1) / 1e6` and the k rows with the
    * largest exponential key `ln(u) / w` win — quality-weighted
    * subsampling (w = a quality/importance score) with inclusion
    * probability proportional to weight, no RNG state (the repo's
    * sampling discipline), and one TakeOrderedAndProject (no global
    * sort). The key is floor-quantized to the integer µ-grid so the
    * ranking — and therefore the sample — replays exactly in an ANSI
    * oracle (ties break by id).
    *
    * @param weight strictly-positive weight column; zero/negative
    *               weights fail loud in ANSI mode via 1/w
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weight: Column,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long")
      % 1000000L + 1L).cast("double") / 1000000.0
    val keyMicro = floor(log(u) / weight.cast("double") * 1e6).cast("long")
    df.withColumn("__wkey", keyMicro)
      .orderBy(col("__wkey").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic stratified sample: the `k` rows with the smallest
    * `xxhash64(idCols)` per group. Physically a rank-limit window —
    * Spark 4 pushes a partial top-k before the shuffle
    * (WindowGroupLimit), so each map task ships at most `k` rows per
    * group.
    */
  def samplePerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      idCols: Seq[String],
      k: Int,
      hash: Option[Column] = None): DataFrame = {
    val h = hash.getOrElse(xxhash64(idCols.map(col): _*))
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(h.asc +: idCols.map(c => col(c).asc): _*)
    df.withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .drop("__graft_rk")
  }

  /** Deterministic Bernoulli sample: keep a row iff
    * `pmod(xxhash64(idCols), denom) < num` — an exact `num/denom`
    * hash-rate, stable across runs and engines that share the hash.
    * For oracle parity with engines lacking xxhash64, use
    * [[hashRateFilter]] with a custom hash column (e.g. md5-based).
    */
  def hashRate(df: DataFrame, idCols: Seq[String], num: Int, denom: Int): DataFrame =
    df.filter(pmod(xxhash64(idCols.map(col): _*), lit(denom.toLong)) < num.toLong)

  /** Rate-filter on a caller-supplied deterministic hash column. */
  private def hashRateFilter(df: DataFrame, hash: Column, num: Int, denom: Int): DataFrame =
    df.filter(pmod(hash, lit(denom.toLong)) < num.toLong)

  /** Deterministic MIXTURE sampling: each group (e.g. data source) is
    * hash-sampled at its own rate — the data-mixing step that reweights
    * sources before training. One codegen'd filter over the scan, no
    * shuffle, no RNG: the mixture is a pure function of the data and
    * the rate table.
    *
    * @param rates per-group (num, denom) keep rates; groups absent from
    *              the map use `default` ((1, 1) keeps everything)
    */
  def mixtureSample(
      df: DataFrame,
      groupCol: String,
      idCols: Seq[String],
      rates: Map[String, (Int, Int)],
      default: (Int, Int) = (1, 1)): DataFrame = {
    val h = xxhash64(idCols.map(col): _*)
    val num = rates.toSeq.sortBy(_._1).foldLeft(lit(default._1.toLong)) {
      case (acc, (g, (n, _))) => when(col(groupCol) === g, lit(n.toLong)).otherwise(acc)
    }
    val den = rates.toSeq.sortBy(_._1).foldLeft(lit(default._2.toLong)) {
      case (acc, (g, (_, d))) => when(col(groupCol) === g, lit(d.toLong)).otherwise(acc)
    }
    df.filter(pmod(h, den) < num)
  }

  /** [[mixtureSample]] in engine-portable form: keep iff the row's md5
    * hex is below the group's threshold digit — rates are sixteenths
    * (`md5(id) < '4'` keeps 4/16), replayable verbatim in any engine
    * with md5 (that is how the `mixture_sample` oracle gate works).
    * Rate 16 keeps everything ('g' sorts after every hex digit).
    */
  def mixtureSampleMd5(
      df: DataFrame,
      groupCol: String,
      idCol: Column,
      rateSixteenths: Map[String, Int],
      defaultSixteenths: Int = 16): DataFrame = {
    def thr(r: Int): String =
      if (r >= 16) "g" else "0123456789abcdef".charAt(r).toString
    val bound = rateSixteenths.toSeq.sortBy(_._1).foldLeft(lit(thr(defaultSixteenths))) {
      case (acc, (g, r)) => when(col(groupCol) === g, lit(thr(r))).otherwise(acc)
    }
    df.filter(md5(idCol.cast("string")) < bound)
  }

  /** Deterministic train/validation/test assignment: each row lands in
    * the split whose cumulative weight range contains
    * `xxhash64(idCols) mod total` — a pure function of the row's id, so
    * the assignment survives re-runs, repartitions, and incremental
    * appends (a doc added next month cannot move an existing doc across
    * splits, which a rank- or RNG-based splitter cannot promise).
    * Stateless per-row projection: no shuffle at any corpus size.
    *
    * @param splits (name, weight) in assignment order, e.g.
    *               `Seq(("train", 98), ("val", 1), ("test", 1))`
    */
  def hashSplit(df: DataFrame, idCols: Seq[String], splits: Seq[(String, Int)]): DataFrame =
    hashSplitBy(df, pmod(xxhash64(idCols.map(col): _*), lit(splits.map(_._2).sum.toLong)), splits)

  /** [[hashSplit]] with a caller-supplied non-negative hash column.
    * Engine-portable form: pass an md5-derived bucket (e.g.
    * `conv(substr(md5(id),1,15),16,10) % total`) and the assignment is
    * replayable in any engine with md5 — the `split_assign` oracle gate.
    */
  def hashSplitBy(df: DataFrame, bucket: Column, splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "weights must be positive")
    val bounds = splits.scanLeft(0L) { case (acc, (_, w)) => acc + w }.tail
    val expr = splits.zip(bounds).foldRight(lit(splits.last._1): Column) {
      case (((name, _), bound), acc) => when(bucket < bound, lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Leakage-guarded train/val/test split: a near-duplicate of a
    * training document sitting in the test set is evaluation leakage
    * — the standard failure of id-hashed splits over an UNdeduplicated
    * corpus. This variant assigns each row by its dedup CLUSTER
    * representative (the connected component's minimum id over
    * `dupPairs` — MinHash/SimHash/embedding near-dup pairs, any
    * verified pair source) instead of its own id, so every member of
    * a duplicate cluster lands in the SAME split by construction,
    * while rows with no duplicates keep exactly the plain-
    * [[hashSplitBy]] assignment of their own id.
    *
    * Scale shape: the label table is pair-graph-sized (a small
    * fraction of the corpus in a deduplicated-pipeline world), so the
    * join is broadcast-or-hash on the id; everything else is the
    * stateless per-row split projection.
    *
    * @param bucketOf non-negative bucket from the representative id
    *                 (e.g. the md5 form `split_assign` gates)
    */
  def clusterAwareSplit(
      df: DataFrame,
      idCol: String,
      dupPairs: DataFrame,
      aCol: String,
      bCol: String,
      splits: Seq[(String, Int)],
      bucketOf: Column => Column): DataFrame = {
    val labels = Clustering.connectedComponents(dupPairs, aCol, bCol)
      .withColumnsRenamed(Map("id" -> "__cid", "cluster" -> "__cluster"))
    val withRep = df.join(labels, col(idCol) === col("__cid"), "left")
      .withColumn("__rep", coalesce(col("__cluster"), col(idCol)))
    hashSplitBy(withRep, bucketOf(col("__rep")), splits)
      .drop("__cid", "__cluster", "__rep")
  }

  /** Exact budget-capped corpus selection: keep documents in
    * (score desc, id asc) order while the running token total stays
    * within `budget` — "take the best docs until N tokens", the step
    * after quality scoring in a training-data pipeline.
    *
    * A naive global-window running sum moves the WHOLE corpus to one
    * partition; this computes the same total order in two scale-safe
    * layers instead:
    *  1. per-distinct-score token totals (one groupBy; output is
    *     |distinct scores| rows) get an exclusive prefix sum — the
    *     only unpartitioned window, over scores, not documents;
    *  2. each document adds its within-score running total (window
    *     PARTITIONED by score, ordered by id) on top of its score's
    *     broadcast prefix.
    * `prefix(score) + within(score, id)` IS the global running sum
    * under the total order, so the result is exact, not approximate.
    *
    * BEHAVIOR NOTE for callers with higher-than-4-decimal scores: the
    * default quantization changes the selection order relative to the
    * raw column and the reported `score` is the quantized value. Pass
    * [[NoScoreQuantization]] to select on the raw score — accepting
    * that the layer-1 prefix table then scales with the DISTINCT-score
    * count (O(n_docs) for a continuous score), which is the hazard the
    * quantization exists to cap.
    *
    * The two-layer shape is only scale-safe when the distinct-score
    * count is bounded, so the score is QUANTIZED here: rounded to
    * `scorePrecision` decimals (and `+ 0.0`-normalized, so an IEEE
    * -0.0 producer upstream is harmless) before grouping/ordering.
    * That caps layer 1 at ~2·10^p·range+1 rows by construction — a
    * continuous score column can no longer degenerate the prefix
    * window and broadcast to O(n_docs). The quantized score DEFINES
    * the selection order (ties broken by id) and is what the output
    * reports; pass-through of an already-rounded score (e.g.
    * [[QualityClassifier.score]]'s 4-decimal output) is exact.
    *
    * @return kept rows only: (id, score, n_tokens, cum_tokens)
    */
  /** Sentinel for [[tokenBudgetSelect]]'s `scorePrecision`: no
    * quantization — the raw score column defines the selection order.
    * The caller owns the distinct-score-count scale hazard.
    */
  val NoScoreQuantization: Int = -1

  def tokenBudgetSelect(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      tokensCol: String,
      budget: Long,
      scorePrecision: Int = 4): DataFrame = {
    require(scorePrecision == NoScoreQuantization || (scorePrecision >= 0 && scorePrecision <= 6),
      "scorePrecision must be in [0, 6] (or NoScoreQuantization) — the prefix table is 2*10^p*range rows")
    val quantized =
      if (scorePrecision == NoScoreQuantization) col(scoreCol) + lit(0.0)
      else round(col(scoreCol), scorePrecision) + lit(0.0)
    val base = df.select(
      col(idCol).as("id"),
      quantized.as("score"),
      col(tokensCol).cast("long").as("n_tokens"))
    val perScore = base.groupBy(col("score")).agg(sum(col("n_tokens")).as("score_toks"))
    val wScores = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = perScore.select(
      col("score"),
      coalesce(sum(col("score_toks")).over(wScores), lit(0L)).as("prefix_toks"))
    val wWithin = Window.partitionBy(col("score")).orderBy(col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .join(broadcast(prefix), "score")
      .withColumn("cum_tokens", col("prefix_toks") + sum(col("n_tokens")).over(wWithin))
      .filter(col("cum_tokens") <= budget)
      .select(col("id"), col("score"), col("n_tokens"), col("cum_tokens"))
  }

  /** Square-root-temperature mixture plan: per-source token totals →
    * natural share, sqrt-tempered weight, token target under a global
    * budget, and the implied epoch/repeat factor (>1 means the source
    * is upsampled). The standard mixture-design step before
    * [[mixtureSample]] picks per-source rates.
    *
    * One map-combinable corpus pass produces the source-sized totals
    * table (persisted — the grand-total agg and the final projection
    * both read it); the totals row is broadcast back over it. All
    * arithmetic is engine-portable: sqrt is correctly rounded IEEE,
    * quantized to an integer grid (`floor(sqrt(tokens) * 10^6)`) so
    * the weight normalizer is an exact integer sum with no
    * float-summation-order hazard; everything after is single
    * divisions/multiplies of identical doubles.
    */
  def mixturePlan(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val per = docs
      .select(col(sourceCol).as("source"), TextFunctions.tokenCount(col(textCol)).as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
      .withColumn("sq", floor(sqrt(col("tokens").cast("double")) * lit(1000000.0)).cast("long"))
      .persist()
    val totals = per.agg(
      sum(col("tokens")).as("all_tokens"),
      sum(col("sq")).as("all_sq"))
    val weight = col("sq").cast("double") / col("all_sq")
    val target = floor(weight * budgetTokens).cast("long")
    val out = per
      .crossJoin(broadcast(totals))
      .select(
        col("source"),
        col("n_docs"),
        col("tokens"),
        round(col("tokens").cast("double") / col("all_tokens"), 4).as("share"),
        round(weight, 4).as("weight"),
        target.as("target_tokens"),
        round(target.cast("double") / col("tokens"), 4).as("epochs"))
    Staged.materialized(out, Seq(per))
  }

  /** Materialize a mixture plan: repeat each row `sixteenths/16`
    * epochs — `sixteenths / 16` guaranteed copies for everyone plus
    * one extra for the deterministic md5 fraction `(sixteenths % 16)
    * / 16` of ids (same portable primitive as [[mixtureSampleMd5]]).
    * Emits `copy_idx` (0-based) per copy; rows whose source resolves
    * to 0 copies disappear, >16 sixteenths upsample (epochs > 1).
    *
    * No shuffle and no RNG: one generate/explode over the scan, the
    * layout a 100 TB repeat pass wants (downstream shuffles, if any,
    * belong to the consumer). Fractional-epoch granularity is 1/16 by
    * contract — the md5-hexdigit threshold is what makes the
    * selection replayable in any engine.
    */
  def upsampleSixteenths(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      sixteenths: Map[String, Int],
      defaultSixteenths: Int = 16): DataFrame = {
    require((sixteenths.values ++ Seq(defaultSixteenths)).forall(_ >= 0),
      "sixteenths must be non-negative")
    val hexDigits = "0123456789abcdef"
    def resolve(f: Int => Int): Column =
      sixteenths.toSeq.sortBy(_._1).foldLeft(lit(f(defaultSixteenths))) {
        case (acc, (s, v)) => when(col(sourceCol) === s, lit(f(v))).otherwise(acc)
      }
    // the fractional threshold compares as a single-hex-digit STRING
    val thr = sixteenths.toSeq.sortBy(_._1)
      .foldLeft(lit(hexDigits.charAt(defaultSixteenths % 16).toString)) {
        case (acc, (s, v)) =>
          when(col(sourceCol) === s, lit(hexDigits.charAt(v % 16).toString)).otherwise(acc)
      }
    val copies =
      (resolve(_ / 16) + when(md5(col(idCol).cast("string")) < thr, 1).otherwise(0))
        .as("__copies")
    df.withColumn("__copies", copies)
      .withColumn(
        "copy_idx",
        explode(
          when(col("__copies") > 0, sequence(lit(0), col("__copies") - 1))
            .otherwise(array().cast("array<int>"))))
      .drop("__copies")
  }

  /** Deterministic epoch shuffle key: a pseudo-random total order over
    * rows that is a pure function of (epoch, id) — the reproducible
    * "shuffle the training corpus differently every epoch" primitive.
    * The key is the portable 60-bit md5 hash of `"epoch<e>:<id>"`
    * (the repo's engine-replayable hash convention), so two runs — or
    * two engines — produce the identical permutation.
    *
    * This is a STATELESS projection (stream-legal): writers emit files
    * sorted by `__ek` (sortWithinPartitions + a range partitioner at
    * scale) and the position is implicit in the layout. Materializing
    * explicit positions with a global row_number is a single-partition
    * sort — gate/debug-sized slices only.
    */
  def epochShuffleKey(df: DataFrame, idCol: String, epoch: Int): DataFrame =
    df.withColumn("__ek",
      conv(substring(md5(
        concat(lit(s"epoch$epoch:"), col(idCol).cast("string"))), 1, 15), 16, 10)
        .cast("long"))
}
