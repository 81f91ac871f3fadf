package graft.operators

import graft.functions.TextFunctions
import graft.util.Staged

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Token-distribution drift between two corpus snapshots — the
  * monitoring step a training-data pipeline runs between ingest
  * epochs ("did this crawl round shift the language?"): add-one
  * smoothed unigram distributions over the UNION vocabulary, per-token
  * KL contributions, top movers, and the scalar KL in both directions.
  *
  *   p_a(t) = (c_a(t) + 1) / (N_a + V)        (V = |union vocab|)
  *   KL(A||B) = SUM_t p_a(t) * ln(p_a(t) / p_b(t))
  *
  * Scale shape: each side is ONE explode + map-combinable count whose
  * output cardinality is the DISTINCT token count, far below corpus
  * size; the sides meet in a single full-outer join keyed by token
  * (the minimal movement for a vocabulary-aligned compare), and the
  * totals ride a broadcast one-row cross join — nothing downstream of
  * the counts is proportional to either corpus. Top movers go through
  * ORDER+LIMIT (TakeOrderedAndProject, never a global sort).
  *
  * Numeric contract: per-token contributions are floor-quantized to
  * 1e-12-scaled LONGs, so the scalar KL is an EXACT sum in any
  * partition order and the whole thing replays bit-for-bit in SQL
  * (probabilities are IEEE rationals of exact counts; `ln` is
  * StrictMath on Spark's side and libm's correctly-rounded ln on the
  * oracle's — equal on every input the gates exercise).
  */
object CorpusDrift {

  /** Scale factor of the quantized per-token KL contribution. */
  val ContribScale: Double = 1e12

  /** Per-token drift table: (token, c_a, c_b, lp_ab, lp_ba) where
    * lp_xy is the quantized contribution of the token to KL(X||Y).
    * Input column names are fixed by [[tokenCounts]].
    */
  def drift(corpusA: DataFrame, corpusB: DataFrame, textCol: String): DataFrame = {
    val (out, staged) = driftStaged(corpusA, corpusB, textCol)
    Staged.materialized(out, Seq(staged))
  }

  /** The drift table plus the persisted (token, c_a, c_b) stage it
    * derives from. The stage is vocabulary-sized (tiny next to either
    * corpus) and feeds BOTH the totals row and the contribution
    * projection — without it the totals cross join would recompute the
    * two corpus-wide tokenize+count passes a second time (measured
    * ~2x CPU at sf0.1; a second full corpus scan at 100 TB).
    */
  private def driftStaged(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String): (DataFrame, DataFrame) = {
    val ca = tokenCounts(corpusA, textCol).withColumnRenamed("c", "c_a")
    val cb = tokenCounts(corpusB, textCol).withColumnRenamed("c", "c_b")
    val joined = ca.join(cb, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .persist()
    val totals = joined.agg(
      count(lit(1)).as("v"),
      sum(col("c_a")).as("n_a"),
      sum(col("c_b")).as("n_b"))
    val pA = (col("c_a") + 1L).cast("double") / (col("n_a") + col("v")).cast("double")
    val pB = (col("c_b") + 1L).cast("double") / (col("n_b") + col("v")).cast("double")
    val out = joined.crossJoin(broadcast(totals))
      .select(col("token"), col("c_a"), col("c_b"),
        floor(pA * log(pA / pB) * ContribScale).cast("long").as("lp_ab"),
        floor(pB * log(pB / pA) * ContribScale).cast("long").as("lp_ba"))
    (out, joined)
  }

  /** Top-k drift movers by absolute KL(A||B) contribution (ties by
    * token — fully deterministic), with the rounded contribution.
    */
  def topMovers(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val (d, staged) = driftStaged(corpusA, corpusB, textCol)
    Staged.materialized(
      d.orderBy(abs(col("lp_ab")).desc, col("token"))
        .limit(k)
        .select(col("token"), col("c_a"), col("c_b"),
          round(col("lp_ab").cast("double") / lit(ContribScale), 6).as("kl_contrib")),
      Seq(staged))
  }

  /** One-row drift summary: union vocabulary size, token totals, and
    * the scalar KL in both directions (exact quantized sums, rounded
    * for reporting).
    */
  def summary(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String): DataFrame = {
    val (d, staged) = driftStaged(corpusA, corpusB, textCol)
    Staged.materialized(
      d.agg(
        count(lit(1)).as("vocab"),
        sum(col("c_a")).as("total_a"),
        sum(col("c_b")).as("total_b"),
        round(sum(col("lp_ab")).cast("double") / lit(ContribScale), 6).as("kl_ab"),
        round(sum(col("lp_ba")).cast("double") / lit(ContribScale), 6).as("kl_ba")),
      Seq(staged))
  }

  /** (token, c) unigram counts — one explode, map-side combinable. */
  private def tokenCounts(corpus: DataFrame, textCol: String): DataFrame =
    TextDedup.spreadToCores(corpus)
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))

  /** Exact two-sample Kolmogorov–Smirnov statistic per group — the
    * NUMERIC-distribution drift gate beside the token-distribution KL
    * above ("did this batch's value distribution shift?"):
    *
    *   D = sup_x |F_a(x) − F_b(x)|
    *
    * evaluated after every observed point, entirely in integers: the
    * supremum compares `|cumA·nB − cumB·nA|` (cross-multiplied ECDFs —
    * no float division until the reported ratio), so the same D comes
    * out of any engine. Values quantize to the milli-grid
    * ([[Outliers.Scale]]).
    *
    * Scale shape: one conditional-count aggregation keyed by (group,
    * value) — output is distinct-value-sized — then a per-group
    * ordered window for the running sums and one max aggregation. The
    * group-ordered window is the inherent cost of an exact ECDF sup.
    * Long cross-products bound n_a·n_b < 2^63 (~3e9 rows per side) —
    * switch the products to decimal(38,0) beyond that.
    *
    * @return (groupCols..., n_a, n_b, d_num, ks_micro) where
    *         ks_micro = d_num·1e6 div (n_a·n_b)
    */
  def ksStatistic(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: org.apache.spark.sql.Column,
      isB: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(col)
    val counts = df
      .select(gCols :+ floor(valueCol * Outliers.Scale).cast("long").as("__v")
        :+ when(isB, 1L).otherwise(0L).as("__b"): _*)
      .groupBy(gCols :+ col("__v"): _*)
      .agg(sum(lit(1L) - col("__b")).as("__ca"), sum(col("__b")).as("__cb"))
    val wCum = Window.partitionBy(gCols: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gCols: _*)
    counts
      .withColumn("__cuma", sum(col("__ca")).over(wCum))
      .withColumn("__cumb", sum(col("__cb")).over(wCum))
      .withColumn("__na", sum(col("__ca")).over(wAll))
      .withColumn("__nb", sum(col("__cb")).over(wAll))
      .groupBy(gCols: _*)
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        max(abs(col("__cuma") * col("__nb") - col("__cumb") * col("__na")))
          .as("d_num"))
      .select(gCols :+ col("n_a") :+ col("n_b") :+ col("d_num")
        :+ expr("d_num * 1000000 div (n_a * n_b)").as("ks_micro"): _*)
  }
}
