package graft.operators

import graft.util.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: linear interpolation of an irregular
  * per-key series onto a fixed-step grid — the resampling step before
  * any windowed model sees sensor/metric data.
  *
  * Exactness: values ride the milli-grid and the interpolation is
  *
  *   v(g) = v_prev + trunc((v_next − v_prev)·(g − t_prev) / (t_next − t_prev))
  *
  * with TRUNCATING integer division — Spark's `div` and DuckDB's `//`
  * both round toward zero (verified on negative numerators), so a
  * falling segment interpolates identically in either engine.
  *
  * Scale shape: one groupBy for per-(key, t) observations, a per-key
  * min/max for the grid bounds, a `sequence` explode for grid points
  * (bounded by span/step per key), and ONE per-key ordered window pass
  * that carries the bracketing observations to every grid row (the
  * union-and-scan formulation of an as-of join — no per-grid-point
  * probe). Everything shuffles on the key.
  */
object TimeSeries {

  /** Interpolate `valueMilliCol` onto grid instants every `stepS`
    * seconds within each key's observed span. Grid points that land
    * exactly on an observation return it unchanged.
    *
    * @return (keyCol, t_s, v_milli) — grid rows only, inclusive of
    *         on-observation hits
    */
  def interpolateAtGrid(
      df: DataFrame,
      keyCol: String,
      tsSecCol: Column,
      valueMilliCol: Column,
      stepS: Long): DataFrame = {
    require(stepS > 0, "stepS must be positive")
    val obs = df
      .select(col(keyCol).as("__k"), tsSecCol.as("__t"), valueMilliCol.as("__v"))
      .groupBy(col("__k"), col("__t"))
      .agg(max(col("__v")).as("__v"))
      .persist()
    val bounds = obs.groupBy(col("__k"))
      .agg(min(col("__t")).as("__lo"), max(col("__t")).as("__hi"))
    val grid = bounds.select(col("__k"),
      explode(sequence(
        // first grid instant at or after __lo: a sign-safe ceiling —
        // `div` truncates toward zero, which is already the ceiling for
        // negative lo (pre-1970 epochs); bump by one step only when a
        // positive remainder proves truncation rounded down
        expr(s"((__lo div $stepS) + (case when __lo % $stepS > 0 then 1 else 0 end)) * $stepS"),
        col("__hi"), lit(stepS))).as("__t"))
    val unioned = obs
      .select(col("__k"), col("__t"), col("__v"), lit(0).as("__flag"))
      .unionByName(grid.select(col("__k"), col("__t"),
        lit(null).cast("long").as("__v"), lit(1).as("__flag")))
    val wFwd = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__flag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBwd = Window.partitionBy(col("__k"))
      .orderBy(col("__t").desc, col("__flag").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tObs = when(col("__flag") === 0, col("__t"))
    val carried = unioned
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(wFwd))
      .withColumn("__pt", last(tObs, ignoreNulls = true).over(wFwd))
      .withColumn("__nv", last(col("__v"), ignoreNulls = true).over(wBwd))
      .withColumn("__nt", last(tObs, ignoreNulls = true).over(wBwd))
      .filter(col("__flag") === 1)
    val out = carried
      .select(col("__k").as(keyCol), col("__t").as("t_s"),
        when(col("__pt") === col("__t"), col("__pv"))
          .otherwise(col("__pv") +
            expr("((__nv - __pv) * (__t - __pt)) div (__nt - __pt)"))
          .as("v_milli"))
    Staged.materialized(out, Seq(obs))
  }

  /** Per-key lag-1 autocorrelation of a milli-grid value series —
    * "is this metric noise or momentum": Pearson r over consecutive
    * pairs (x_i, x_{i+1}) in a FULLY ordered series (time, then tie
    * column, so equal timestamps replay identically):
    *
    *   r = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²) · (nΣy² − (Σy)²))
    *
    * All moments are exact integer sums per key; the cross products
    * cast to decimal before the 38-digit range; ONE double expression
    * at the edge. Degenerate keys (fewer than 2 pairs, zero variance
    * on either side) drop.
    *
    * Scale shape: one per-key ordered window pass (`lead`) + one
    * map-combinable moment aggregation — the same shape as any
    * windowed analytic; shuffles only on the key.
    *
    * @return (keyCol, n_pairs, r1) — r1 rounded to 6
    */
  def lag1Autocorr(
      df: DataFrame,
      keyCol: String,
      tsSecCol: Column,
      tieCol: Column,
      valueMilliCol: Column): DataFrame = {
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__tie"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val pairs = df
      .select(col(keyCol).as("__k"), tsSecCol.as("__t"), tieCol.as("__tie"),
        valueMilliCol.as("__x"))
      .withColumn("__y", lead(col("__x"), 1).over(w))
      .filter(col("__y").isNotNull)
    val m = pairs.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(dec(col("__x")) * dec(col("__y"))).as("__sxy"),
        sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"),
        sum(dec(col("__y")) * dec(col("__y"))).as("__syy"))
    m.withColumn("__vx", dec(col("__n")) * col("__sxx") - dec(col("__sx")) * dec(col("__sx")))
      .withColumn("__vy", dec(col("__n")) * col("__syy") - dec(col("__sy")) * dec(col("__sy")))
      .filter(col("__n") >= 2 && col("__vx") =!= lit(0) && col("__vy") =!= lit(0))
      .select(col("__k").as(keyCol), col("__n").cast("long").as("n_pairs"),
        round((dec(col("__n")) * col("__sxy") - dec(col("__sx")) * dec(col("__sy")))
          .cast("double") /
          (sqrt(col("__vx").cast("double")) * sqrt(col("__vy").cast("double"))), 6)
          .as("r1"))
  }

  /** Per-key OLS trend slope of a milli-grid value series over time
    * (milli-units per second) — "which users/sensors/domains are
    * drifting, and how fast":
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²),  x = t − min_t(key)
    *
    * The five sums are exact longs per key (x rebased to the key's own
    * origin keeps products small); the combine casts to decimal BEFORE
    * the 38-digit cross products so nothing overflows at any n; ONE
    * double division at the edge. Keys with fewer than two distinct
    * instants (denominator 0) are dropped — a slope needs two points.
    *
    * Scale shape: a per-key min, a join back (broadcast-or-hash on the
    * key), and one map-combinable moment aggregation. No windows, no
    * sorts.
    *
    * @return (keyCol, n, slope_milli_per_s) — slope rounded to 6
    */
  def trendSlopes(
      df: DataFrame,
      keyCol: String,
      tsSecCol: Column,
      valueMilliCol: Column): DataFrame = {
    val base = df.select(col(keyCol).as("__k"), tsSecCol.as("__t"),
      valueMilliCol.as("__y"))
    val origins = base.groupBy(col("__k")).agg(min(col("__t")).as("__t0"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val moments = base.join(origins, "__k")
      .select(col("__k"), (col("__t") - col("__t0")).as("__x"), col("__y"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(dec(col("__x")) * dec(col("__y"))).as("__sxy"),
        sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"))
    moments
      .withColumn("__den",
        dec(col("__n")) * col("__sxx") - dec(col("__sx")) * dec(col("__sx")))
      .filter(col("__den") =!= lit(0))
      .select(col("__k").as(keyCol), col("__n").cast("long").as("n"),
        round((dec(col("__n")) * col("__sxy") - dec(col("__sx")) * dec(col("__sy")))
          .cast("double") / col("__den").cast("double"), 6)
          .as("slope_milli_per_s"))
  }
}
