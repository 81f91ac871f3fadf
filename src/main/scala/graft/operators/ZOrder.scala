package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout clustering — the lakehouse
  * file-skipping lever (Delta OPTIMIZE ZORDER BY, Iceberg sort
  * orders): interleave the bits of several columns' range-normalized
  * buckets so that sorting by the single z value co-locates rows
  * close in EVERY dimension, and per-file min/max ranges become
  * selective for predicates on ANY of the z columns — where a plain
  * sort helps only its leading column.
  *
  * Numeric contract: buckets are integral range normalization
  * `(v - min) * 2^bits div (max - min + 1)` and the interleave is a
  * closed-form bit sum, so z values, file assignment, and per-file
  * ranges replay bit-for-bit in SQL (`zorder_layout`). The min/max
  * pass is one cheap aggregate; everything else is map-side
  * expression work plus ONE range shuffle on the z value.
  *
  * Scale shape: at 100 TB the writer is exactly
  * `repartitionByRange(nFiles, z).sortWithinPartitions(z)` — Spark
  * samples range bounds distributively, every file gets an equal row
  * share regardless of skew, and the parquet footers carry the
  * narrow per-file column ranges the scan planner prunes on.
  *
  * Relation to [[graft.functions.InterleaveBits]] (the native
  * expression behind the `interleave_bits` SQL function): that form
  * maps each value monotonically into unsigned-64 space and
  * interleaves TOP bits — zero data passes, so it drops into a
  * streaming write, but a column occupying a narrow slice of its
  * type's range wastes most of its bits. This operator spends one min/max aggregate to
  * RANGE-NORMALIZE first — the Delta/Iceberg OPTIMIZE-style batch
  * re-layout, where the extra pass is free relative to the rewrite
  * and buys full bucket resolution on every column.
  */
object ZOrder {

  /** Morton interleave of pre-bucketed [0, 2^bits) LONG columns: bit
    * j of column i lands at position `j * k + (k - 1 - i)` — column 0
    * owns the most significant bit of each group, the standard
    * layout.
    */
  def interleave(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.nonEmpty, "need at least one column")
    require(bits > 0 && bits * buckets.size <= 62, "bits * columns must fit a Long")
    val k = buckets.size
    val terms = for {
      (c, i) <- buckets.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(shiftright(c, j).bitwiseAND(lit(1L)), j * k + (k - 1 - i))
    terms.reduce(_ + _)
  }

  /** The frame with its z value attached as `__z` (cols cast to long;
    * bucket bounds from one global min/max aggregate, broadcast
    * back).
    */
  def withZ(df: DataFrame, cols: Seq[String], bits: Int = 8): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c).cast("long")).as(s"__min$i"),
        max(col(c).cast("long")).as(s"__max$i"))
    }
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    // integral range normalization via div — the Column `/` operator
    // is IEEE double division, which loses exactness past 2^53;
    // decimal(38,0) keeps the scaled difference exact even when the
    // column spans nearly the full Long range. Buckets stage as their
    // own projection so the interleave's terms reference ONE computed
    // value per column instead of re-expanding the div per bit.
    val withBuckets = cols.zipWithIndex.foldLeft(df.crossJoin(broadcast(bounds))) {
      case (d, (c, i)) =>
        d.withColumn(s"__b$i",
          expr(s"(cast(`$c` as decimal(38,0)) - __min$i) * ${1L << bits}L " +
            s"div (cast(__max$i as decimal(38,0)) - __min$i + 1)"))
    }
    withBuckets
      .withColumn("__z", interleave(cols.indices.map(i => col(s"__b$i")), bits))
      .drop(cols.indices.flatMap(i => Seq(s"__min$i", s"__max$i", s"__b$i")): _*)
  }

  /** Deterministic value-range file assignment over the z domain plus
    * per-file column ranges — the skipping diagnostic (and the
    * `zorder_layout` gate): how narrow each file's min/max window is
    * on EVERY z column after clustering.
    *
    * @return (file_id, n_rows, and min_/max_ per z column)
    */
  /** The frame with its deterministic value-range file assignment
    * attached as `file_id` — the closed-form split [[fileRanges]]
    * aggregates and a `partitionBy("file_id")` write materializes
    * (both consume THIS column, so the written layout and the
    * diagnostic provably agree).
    */
  def withFileId(
      df: DataFrame,
      cols: Seq[String],
      bits: Int = 8,
      numFiles: Int = 16): DataFrame = {
    require(numFiles > 0, "numFiles must be positive")
    val z = withZ(df, cols, bits)
    val zb = z.agg(min(col("__z")).as("__zmin"), max(col("__z")).as("__zmax"))
    z.crossJoin(broadcast(zb))
      .withColumn("file_id",
        expr(s"(cast(__z as decimal(38,0)) - __zmin) * ${numFiles}L " +
          s"div (cast(__zmax as decimal(38,0)) - __zmin + 1)"))
      .drop("__z", "__zmin", "__zmax")
  }

  def fileRanges(
      df: DataFrame,
      cols: Seq[String],
      bits: Int = 8,
      numFiles: Int = 16): DataFrame = {
    withFileId(df, cols, bits, numFiles)
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(
          min(col(c).cast("long")).as(s"min_$c"),
          max(col(c).cast("long")).as(s"max_$c"))): _*)
  }

  /** Write the frame clustered by its z value: ONE range shuffle into
    * `numFiles` equal-share partitions, each sorted and written as
    * one file whose parquet footer carries the narrow per-column
    * ranges scan planners prune on.
    */
  def writeZordered(
      df: DataFrame,
      cols: Seq[String],
      path: String,
      bits: Int = 8,
      numFiles: Int = 16): Unit = {
    withZ(df, cols, bits)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
