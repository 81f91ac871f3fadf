package graft.operators

import graft.sources.{Store => Persisted}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact-aggregate store — materialized-view maintenance
  * for the grouped metrics every corpus dashboard recomputes from
  * scratch: per-group count / sum / min / max kept in a persisted,
  * hash-prefix-partitioned parquet table that new data folds into at
  * O(increment) cost instead of a full-corpus re-aggregation.
  *
  * All four maintained aggregates are commutative-monoid folds
  * (+, +, min, max), so absorbing an increment's partial aggregate
  * equals rebuilding over the union EXACTLY — the same argument as the
  * sketch-store absorb ([[SketchStore]]), but over exact values: sums
  * ride the repo-wide integer micro-grid (floor(value·1e6) LONGs), so
  * they are partition-order-independent and ANSI-SQL-replayable where
  * raw double sums are neither. (AVG is sum/cnt at read time;
  * non-monoid aggregates — exact distinct, percentiles — belong to the
  * sketch store's HLL/histogram columns instead.)
  *
  * Scale shape: the group table is GROUP-cardinality-sized, not
  * corpus-sized. Build is one map-side-combinable aggregation.
  * [[absorbIntoSaved]] aggregates ONLY the increment, reads back only
  * the store partitions its groups hash into (directory-pruned), and
  * swaps in only those partitions — untouched partitions are never
  * read or written. Probes prune the same way.
  */
object AggStore {

  /** Micro-grid scale for exact value sums. */
  val ValueScale: Double = 1e6

  /** A loaded store: the group table (key cols + `cnt`, `sum_micro`,
    * `min_micro`, `max_micro`, partition col `__kp`) and its prefix
    * bucket count.
    */
  final case class Store(groups: DataFrame, keyCols: Seq[String], prefixBuckets: Int)

  /** One map-side-combinable aggregation of `df` to the group table
    * shape (without the partition column).
    */
  def build(df: DataFrame, keyCols: Seq[String], valueCol: Column): DataFrame = {
    val v = floor(valueCol * ValueScale).cast("long")
    df.select(keyCols.map(col) :+ v.as("__v"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("__v")).as("sum_micro"),
        min(col("__v")).as("min_micro"),
        max(col("__v")).as("max_micro"))
  }

  /** Merge two group tables (monoid fold per aggregate): full outer on
    * the keys so groups unique to either side survive.
    */
  def merge(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame = {
    val zero = (c: Column) => coalesce(c, lit(0L))
    a.join(b.withColumnsRenamed(
        Map("cnt" -> "__cnt2", "sum_micro" -> "__sum2",
          "min_micro" -> "__min2", "max_micro" -> "__max2")),
        keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (zero(col("cnt")) + zero(col("__cnt2"))).as("cnt"),
        (zero(col("sum_micro")) + zero(col("__sum2"))).as("sum_micro"),
        least(col("min_micro"), col("__min2")).as("min_micro"),
        greatest(col("max_micro"), col("__max2")).as("max_micro")): _*)
  }

  /** Persist a group table hash-prefix-partitioned on its keys. */
  def save(groups: DataFrame, keyCols: Seq[String], path: String,
      prefixBuckets: Int = 64): Unit = {
    val spark = groups.sparkSession
    // repartition on the partition column: one file per __kp dir per
    // write instead of one per (dir x upstream task) — the small-file
    // guard every partitioned store write needs
    Persisted.write(spark, path)(
      Persisted.Put("groups",
        groups.withColumn("__kp", Persisted.prefix(prefixBuckets, keyCols.map(col): _*))
          .repartition(col("__kp")),
        Some("__kp")),
      Persisted.meta(spark,
        "prefixBuckets" -> prefixBuckets, "keyCols" -> keyCols.mkString("\u0001")))
  }

  /** Load a persisted store (lazy — probes read only their prefixes). */
  def load(spark: SparkSession, path: String): Store = {
    val st = Persisted(spark, path)
    Store(
      st.read("groups"),
      st.meta.getAs[String]("keyCols").split('\u0001').toSeq,
      st.meta.getAs[Int]("prefixBuckets"))
  }

  /** Fold an increment into the SAVED layout at O(increment): the
    * increment is aggregated, the store partitions its groups hash
    * into are read back (directory-pruned — bounded prefix collect,
    * same contract as the dedup stores), merged, and swapped in by one
    * store write. Partitions no increment group touches are
    * neither read nor written.
    */
  def absorbIntoSaved(
      spark: SparkSession,
      path: String,
      increment: DataFrame,
      valueCol: Column): Unit = {
    val st = load(spark, path)
    val kp = Persisted.prefix(st.prefixBuckets, st.keyCols.map(col): _*)
    val inc = build(increment, st.keyCols, valueCol)
      .withColumn("__kp", kp)
      .persist()
    val slice = Persisted.pruned(st.groups, "__kp", inc.select(col("__kp")))
    Persisted.write(spark, path)(Persisted.Patch("groups",
      merge(slice, inc.drop("__kp"), st.keyCols)
        .withColumn("__kp", kp)
        .repartition(col("__kp")),
      "__kp"))
    inc.unpersist()
    ()
  }

  /** Pruned point reads: the store rows for the probe's groups only —
    * directory-pruned to the probe's prefixes, joined on the keys
    * (broadcast when the probe is small; never a full store scan).
    */
  def probe(store: Store, keys: DataFrame): DataFrame =
    Persisted.pruned(store.groups, "__kp",
        keys.select(Persisted.prefix(store.prefixBuckets, store.keyCols.map(col): _*)))
      .drop("__kp")
      .join(keys.select(store.keyCols.map(col): _*), store.keyCols)

  /** Read-time presentation: micro-grid columns back to rounded
    * doubles (sum, min, max, avg).
    */
  def present(groups: DataFrame, keyCols: Seq[String]): DataFrame =
    groups.select(keyCols.map(col) ++ Seq(
      col("cnt"),
      round(col("sum_micro").cast("double") / lit(ValueScale), 4).as("sum_value"),
      round(col("min_micro").cast("double") / lit(ValueScale), 4).as("min_value"),
      round(col("max_micro").cast("double") / lit(ValueScale), 4).as("max_value"),
      round(col("sum_micro").cast("double") / lit(ValueScale) / col("cnt").cast("double"), 4)
        .as("avg_value")): _*)
}
