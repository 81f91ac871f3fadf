package graft.operators

import graft.sources.{Store => Persisted}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable log-bucket quantile sketch — distributed percentiles
  * without a global sort, the missing member of the sketch-store
  * family (HLL for distincts, count-min for frequencies, this for
  * quantiles).
  *
  * A positive long value lands in the bucket addressed by its top
  * `mantissaBits + 1` significant bits: the bucket's lower bound IS
  * the value with everything below those bits zeroed. Buckets are
  * value-indexed (no side table), monotone in the value, and the
  * bucket width at lower bound `b` is at most `b >> mantissaBits`, so
  * any rank query answered with a bucket lower bound carries a proven
  * relative error of 2^-mantissaBits. The whole scheme is integer
  * bit-twiddling — deterministic, engine-portable (the oracle replays
  * it in DuckDB bit-for-bit), and codegen-friendly (shifts and string
  * length of `bin`, no UDF).
  *
  * The sketch of a frame is just `(keys..., __qb, __n)` — a counted
  * group-by — so it merges by ADDITION: union + re-sum equals the
  * sketch of the concatenated inputs exactly (QuantileSketchSpec's
  * merge==rebuild differential). That makes it the right shape for
  * partial aggregation (map-side combine does most of the work), for
  * incremental absorb into a persisted store ([[AggStore]] lifecycle),
  * and for streaming accumulation — none of which an exact-percentile
  * sort supports at 100 TB.
  *
  * Error/size trade: `mantissaBits = m` keeps at most
  * `(64 - m) * 2^m` buckets per key regardless of data volume
  * (m = 7 -> <= 7296 buckets, 0.8% worst-case relative error).
  */
object QuantileSketch {

  /** Bucket lower bound of a POSITIVE long value: the value truncated
    * to its top `mantissaBits + 1` significant bits. Monotone
    * non-decreasing in `v`; identity for `v < 2^(mantissaBits+1)`
    * (small values are exact).
    */
  def bucketOf(v: Column, mantissaBits: Int): Column = {
    require(mantissaBits >= 1 && mantissaBits <= 40,
      "mantissaBits must be in [1, 40]")
    import org.apache.spark.sql.GraftColumnShim.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.{ShiftLeft, ShiftRight}
    // exponent = floor(log2(v)) computed exactly as the bit length of
    // the binary rendering minus one — no IEEE log near-power rounding.
    // The functions API only exposes literal shift amounts; the
    // underlying ShiftLeft/ShiftRight expressions take columns.
    val e = (length(bin(v)) - 1).cast("int")
    val shift = greatest(lit(0), e - lit(mantissaBits))
    val down = toCol(ShiftRight(toExpr(v), toExpr(shift)))
    toCol(ShiftLeft(toExpr(down), toExpr(shift)))
  }

  /** Sketch of `df`: bucket counts per key — `(keys..., __qb, __n)`.
    * Values must be positive; nulls and non-positives are rejected
    * in-plan (a sketch that silently drops rows mis-ranks every
    * quantile after the drop).
    */
  def build(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: Column,
      mantissaBits: Int = 7): DataFrame = {
    val v = valueCol.cast("long")
    val guarded = when(v.isNull || v <= 0,
      raise_error(concat(lit("QuantileSketch requires positive values, got "),
        coalesce(v.cast("string"), lit("null"))))).otherwise(v)
    df.groupBy((keyCols.map(col) :+ bucketOf(guarded, mantissaBits).as("__qb")): _*)
      .agg(count(lit(1)).as("__n"))
  }

  /** Merge sketches built with the SAME mantissaBits: bucket counts
    * add. Exactly equals `build` over the concatenated inputs.
    */
  def merge(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((keyCols.map(col) :+ col("__qb")): _*)
      .agg(sum(col("__n")).as("__n"))

  /** Per-key quantile estimates from a sketch: for each q = num/den,
    * the lower bound of the bucket holding the rank-`ceil(q * n)`
    * value (type-1/lower quantile on the bucketized distribution).
    * Pure integer arithmetic end to end.
    *
    * @param qs (name, num, den) triples, e.g. ("p95", 19, 20)
    * @return keys..., one `<name>` column per requested quantile
    */
  def quantiles(
      sketch: DataFrame,
      keyCols: Seq[String],
      qs: Seq[(String, Int, Int)]): DataFrame = {
    require(qs.nonEmpty, "at least one quantile")
    qs.foreach { case (_, num, den) =>
      require(num > 0 && num <= den, s"quantile must be in (0, 1]: $num/$den")
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__qb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sketch
      .withColumn("__cum", sum(col("__n")).over(w))
      .withColumn("__tot",
        sum(col("__n")).over(Window.partitionBy(keyCols.map(col): _*)))
    // first bucket whose cumulative count reaches ceil(q*n): min over
    // qualifying buckets — one pass over the (tiny) sketch per key
    val aggs = qs.map { case (name, num, den) =>
      min(when(col("__cum") * den >= col("__tot") * num, col("__qb")))
        .as(name)
    }
    cum.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A loaded persisted sketch store: the bucket-count table (key cols
    * + `__qb`, `__n`, partition col `__kp`), its key columns, the
    * mantissa width it was built with, and its prefix bucket count.
    */
  final case class Store(
      sketch: DataFrame,
      keyCols: Seq[String],
      mantissaBits: Int,
      prefixBuckets: Int)

  /** Persist a sketch key-hash-prefix-partitioned — the [[AggStore]]
    * layout: absorbs and probes touch only the partition directories
    * their keys hash into, never the whole store.
    */
  def save(
      sketch: DataFrame,
      keyCols: Seq[String],
      mantissaBits: Int,
      path: String,
      prefixBuckets: Int = 64): Unit = {
    val spark = sketch.sparkSession
    Persisted.write(spark, path)(
      Persisted.Put("sketch",
        sketch.withColumn("__kp", Persisted.prefix(prefixBuckets, keyCols.map(col): _*))
          .repartition(col("__kp")),
        Some("__kp")),
      Persisted.meta(spark, "prefixBuckets" -> prefixBuckets, "mantissaBits" -> mantissaBits,
        "keyCols" -> keyCols.mkString("\u0001")))
  }

  /** Load a persisted store (lazy — absorbs/probes read only their
    * prefixes).
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Store = {
    val st = Persisted(spark, path)
    Store(
      st.read("sketch"),
      st.meta.getAs[String]("keyCols").split('\u0001').toSeq,
      st.meta.getAs[Int]("mantissaBits"),
      st.meta.getAs[Int]("prefixBuckets"))
  }

  /** Fold an increment into the SAVED layout at O(increment): sketch
    * the increment, read back only the store partitions its keys hash
    * into (bounded prefix collect), merge bucket counts, swap those
    * partitions in by one store write. Absorb == rebuild
    * exactly — bucket counts are a commutative monoid.
    */
  def absorbIntoSaved(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      increment: DataFrame,
      valueCol: Column): Unit = {
    val st = load(spark, path)
    val kp = Persisted.prefix(st.prefixBuckets, st.keyCols.map(col): _*)
    val inc = build(increment, st.keyCols, valueCol, st.mantissaBits)
      .withColumn("__kp", kp)
      .persist()
    val slice = Persisted.pruned(st.sketch, "__kp", inc.select(col("__kp")))
    Persisted.write(spark, path)(Persisted.Patch("sketch",
      merge(slice.drop("__kp"), inc.drop("__kp"), st.keyCols)
        .withColumn("__kp", kp)
        .repartition(col("__kp")),
      "__kp"))
    inc.unpersist()
    ()
  }

  /** The sketch's proof obligation, in-plan: for an estimate `est`
    * and the true rank value `exact`, the bucket containment bound is
    * `est <= exact` and `exact - est <= est >> mantissaBits`. True by
    * construction for every rank — gate queries cross it with exact
    * per-key order statistics and assert the conjunction. Phrased as a
    * subtraction so the check cannot overflow near Long.MaxValue
    * (`est + width` wraps; `exact - est` is within [0, width]).
    */
  def errorBoundOk(est: Column, exact: Column, mantissaBits: Int): Column =
    est <= exact && exact - est <= shiftright(est, mantissaBits)
}
