package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** An open store: [[Store.apply]] rolls back a crashed write once. */
private[graft] final class Store private (spark: SparkSession, val root: String) {

  /** `table` under the root; "" is the root's own files. */
  def read(table: String): DataFrame = spark.read.parquet(Store.under(root, table))

  /** The one-row `meta` table, read once per handle. */
  lazy val meta: Row = read("meta").head()

  def exists(table: String): Boolean = {
    val p = new Path(Store.under(root, table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The store nested at `dir`: its writes join this store's
    * transaction ([[Store.nest]]), so it is recovered with it.
    */
  def nested(dir: String): Store = new Store(spark, Store.under(root, dir))
}

/** The persisted-store format, in one place. A store is a root dir of
  * named parquet tables (the table "" is the root's own files) plus,
  * for stores with parameters, a one-row `meta` table. A table probed
  * by key is partitioned by a hash PREFIX of the key ([[prefix]]): a
  * probe collects its keys' prefixes — at most `buckets` values — and
  * reads only those directories ([[pruned]]).
  *
  * Every write is ONE [[StagedSwap.commit]] on the root ([[write]]):
  * whole-table replacements ([[Put]]), new data files ([[Add]]),
  * replaced partitions ([[Patch]]) and removals ([[Drop]]) swap in all
  * or nothing, so a killed multi-table write (rows plus the totals in
  * `meta`, an append plus its counters) replays from the old state. A
  * store kept in a sub-dir of another (a video store's frame hashes,
  * a curation store's MinHash store) joins the parent's write through
  * [[nest]] and is read through the parent's [[Store.nested]] handle.
  */
private[graft] object Store {

  /** Open the store at `root`, rolling back a crashed write first. */
  def apply(spark: SparkSession, root: String): Store = {
    StagedSwap.recover(spark, root)
    new Store(spark, root)
  }

  private def under(dir: String, table: String): String =
    if (table.isEmpty) dir else s"$dir/$table"

  /** The hash-prefix partition key of `keys`, in `[0, buckets)`. */
  def prefix(buckets: Int, keys: Column*): Column = {
    require(buckets > 0, "prefixBuckets must be positive")
    pmod(xxhash64(keys: _*), lit(buckets.toLong)).cast("int")
  }

  /** The rows of `table` whose partition `partCol` is among `prefixes`
    * (a one-int-column frame): the collect becomes an `isin` the scan
    * prunes directories with.
    */
  def pruned(table: DataFrame, partCol: String, prefixes: DataFrame): DataFrame =
    table.filter(col(partCol).isin(
      prefixes.distinct().collect().map(_.getInt(0)).toSeq: _*))

  /** One staged change to a table of the store being written. */
  sealed trait Op { def table: String }

  /** Replace `table` whole with `df`. */
  final case class Put(table: String, df: DataFrame, partCol: Option[String] = None) extends Op

  /** Add `df`'s rows to `table` as new data files. */
  final case class Add(table: String, df: DataFrame, partCol: Option[String] = None) extends Op

  /** Replace exactly the partitions of `table` that `df` produces. */
  final case class Patch(table: String, df: DataFrame, partCol: String) extends Op

  /** Remove `table`. */
  final case class Drop(table: String) extends Op

  /** `op` addressed to the store nested at `dir` of the root it joins. */
  def nest(dir: String)(op: Op): Op = op match {
    case o: Put => o.copy(table = under(dir, o.table))
    case o: Add => o.copy(table = under(dir, o.table))
    case o: Patch => o.copy(table = under(dir, o.table))
    case o: Drop => o.copy(table = under(dir, o.table))
  }

  /** Replace `table` with one row of `fields` (literals or columns). */
  def row(spark: SparkSession, table: String, fields: (String, Any)*): Op =
    Put(table, spark.range(0, 1, 1, 1).select(fields.map { case (n, v) => lit(v).as(n) }: _*))

  /** Replace the `meta` table. */
  def meta(spark: SparkSession, fields: (String, Any)*): Op = row(spark, "meta", fields: _*)

  /** Apply `ops` to the store at `root` in one transaction. A
    * replacement of the root's own files ("") is the only op of its
    * write.
    */
  def write(spark: SparkSession, root: String)(ops: Op*): Unit = {
    require(ops.map(_.table).distinct.size == ops.size,
      s"one op per table: ${ops.map(_.table).mkString(", ")}")
    def stage(df: DataFrame, partCol: Option[String], dst: String): Unit =
      StagedSwap.writeStage(spark, df, partCol.toSeq, dst)
    ops match {
      case Seq(Put("", df, partCol)) => StagedSwap.rotateIn(spark, root)(stage(df, partCol, _))
      case _ => StagedSwap.commit(spark, root) { staging =>
        val fs = new Path(staging).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val changes = ops.map {
          case Put(table, df, partCol) =>
            stage(df, partCol, under(staging, table))
            (Seq(table), Nil)
          case Add(table, df, partCol) =>
            stage(df, partCol, under(staging, table))
            (added(fs, staging, root, table), Nil)
          case Patch(table, df, partCol) =>
            stage(df, Some(partCol), under(staging, table))
            (StagedSwap.units(fs, new Path(under(staging, table)), 1)
              .map(d => under(table, d.getPath.getName)), Nil)
          case Drop(table) => (Nil, Seq(table))
        }
        (changes.flatMap(_._1), changes.flatMap(_._2))
      }
    }
  }

  /** The units an append of the staged `table` swaps in: for each new
    * data file, the shallowest path of it the live store lacks — a new
    * table or partition dir moves in whole (and a rollback deletes it
    * whole), an existing one gains only the new files. A write with no
    * data file (zero rows, partitioned) adds nothing.
    */
  private def added(fs: FileSystem, staging: String, root: String, table: String): Seq[String] = {
    val base = fs.makeQualified(new Path(staging)).toString + "/"
    val files = fs.listFiles(new Path(under(staging, table)), true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      // Spark's rule: `_SUCCESS` and `.crc` files are not data
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .map { p =>
        val parts = p.toString.stripPrefix(base).split('/')
        (1 to parts.length).map(parts.take(_).mkString("/"))
          .find(u => !fs.exists(new Path(root, u))).getOrElse(parts.mkString("/"))
      }
      .toSeq.distinct
  }
}
