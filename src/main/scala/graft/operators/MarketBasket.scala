package graft.operators

import graft.util.Staged

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence analysis: which items appear in the
  * same basket far more than their popularity predicts — the
  * cross-sell/affinity staple, and (over document/source baskets) the
  * "these resources always ship together" signal a corpus audit reads.
  *
  *   lift(x, y) = (c_xy / N) / ((c_x / N) * (c_y / N))
  *              =  c_xy * N / (c_x * c_y)
  *
  * Scale shape: baskets deduplicate to DISTINCT (basket, item) rows
  * first (one map-combinable pass), then pairs come from a self-join
  * keyed by basket — fan-out bounded by the per-basket item count
  * squared, never all-pairs across baskets (a mega-basket would blow
  * that bound: cap or skip baskets above a size guard upstream). Item
  * margins join back broadcast-or-hash; top-k is ORDER+LIMIT.
  *
  * Numeric contract: lift rides the µ-grid as
  * `c_xy * N * 1e6 div (c_x * c_y)` — exact positive-integer floor
  * division, engine-identical.
  */
object MarketBasket {

  /** Top-`topK` item pairs by co-occurrence count (ties by item pair),
    * with support counts and the quantized lift.
    *
    * @return (item_a, item_b, n_pairs, n_a, n_b, lift_micro),
    *         item_a < item_b
    */
  def pairLift(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long,
      topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val items = df.select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .distinct()
      .persist()
    val nBaskets = items.select(col("__bk")).distinct().count()
    val itemCounts = items.groupBy(col("__it")).agg(count(lit(1)).as("__c"))
    val pairs = items.select(col("__bk"), col("__it").as("item_a"))
      .join(items.select(col("__bk"), col("__it").as("item_b")), Seq("__bk"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minSupport)
    val out = pairs
      .join(itemCounts.select(col("__it").as("item_a"), col("__c").as("n_a")), "item_a")
      .join(itemCounts.select(col("__it").as("item_b"), col("__c").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        expr(s"n_pairs * ${nBaskets}L * 1000000 div (n_a * n_b)").as("lift_micro"))
      .orderBy(col("n_pairs").desc, col("item_a"), col("item_b"))
      .limit(topK)
    Staged.materialized(out, Seq(items))
  }
}
