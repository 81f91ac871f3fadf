package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** File-level statistics manifest over a parquet directory — the
  * data-skipping layer a lakehouse table format keeps in its log,
  * built here from the parquet FOOTERS the files already carry: one
  * footer read per file (O(files), never O(rows)), no data pages
  * touched. Combined with a z-ordered write ([[graft.operators.ZOrder]]),
  * the manifest turns a point/range predicate into a file subset long
  * before any scan task launches — and [[readPruned]] closes the loop
  * by scanning ONLY that subset.
  *
  * Scale shape: the file listing fans out per top-level subdirectory
  * as a Spark job (a partitioned table's million files list in
  * parallel across its partition dirs; a flat directory is one
  * driver RPC), and the footer reads fan out as a second job over the
  * file list (a million files is a million ~8 KB footer reads across
  * the cluster, zero row decoding). Statistics aggregate per file
  * from the row-group blocks — min of mins, max of maxs, exact sums —
  * so the manifest is a pure function of the files and replays
  * anywhere (`file_manifest_stats` gates it against a full data-scan
  * recomputation AND the SQL oracle).
  *
  * Covered statistics: integral (INT32/INT64) columns fill
  * `min_v`/`max_v`; string (UTF-8 BINARY) columns fill `min_s`/`max_s`
  * with UNSIGNED-byte-order bounds — the order parquet's min_value/
  * max_value contract specifies and the order Spark's UTF8String
  * comparisons use, so string-key pruning (domain/URL/lang — the
  * columns an LLM-data layout actually filters by) is exact. Every
  * (file, column) pair gets a manifest row UNCONDITIONALLY — a column
  * with no usable stats (all-null, float, nested) carries nulls, so
  * pruning can tell "provably disjoint" from "unknown, must keep" and
  * never loses a file.
  */
object FileManifest {

  /** List every `.parquet` file under `path`: one driver RPC for the
    * top level, then a Spark job fanning the recursive listing out
    * per subdirectory — the partition-dir layout a real table has is
    * exactly the parallelism axis. The returned list lives on the
    * driver, the same memory class as Spark's own file index.
    */
  private def listParquetFiles(spark: SparkSession, path: String): Seq[String] = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = fs.listStatus(root)
    val rootFiles = top.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq
    val dirs = top.filter(_.isDirectory).map(_.getPath.toString).toSeq
    if (dirs.isEmpty) rootFiles
    else {
      val parts = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, dirs.size))
      // ship the DRIVER's hadoop conf: executors rebuilding a bare
      // `new Configuration()` would drop every spark.hadoop.* setting
      // (object-store credentials, endpoints) set programmatically
      val bconf = broadcastHadoopConf(spark)
      val fanned = spark.createDataset(dirs).repartition(parts)
        .mapPartitions { ds =>
          val conf = bconf.value.value
          ds.flatMap { d =>
            val p = new org.apache.hadoop.fs.Path(d)
            val it = p.getFileSystem(conf).listFiles(p, true)
            val buf = scala.collection.mutable.ArrayBuffer[String]()
            while (it.hasNext) {
              val f = it.next()
              if (f.getPath.getName.endsWith(".parquet")) buf += f.getPath.toString
            }
            buf
          }
        }
        .collect().toSeq
      rootFiles ++ fanned
    }
  }

  /** One manifest row per (file, wanted column) — ALWAYS, even when
    * the column carries no usable footer stats (the row then has null
    * bounds and the pruners keep the file): exact per-file row count,
    * integral min/max, string min/max, and the null count.
    *
    * @return (file, column, n_rows, min_v, max_v, min_s, max_s, n_nulls)
    */
  def build(spark: SparkSession, path: String, statCols: Seq[String]): DataFrame = {
    val files = listParquetFiles(spark, path)
    require(files.nonEmpty, s"FileManifest.build: no .parquet files under $path")
    buildForFiles(spark, files, statCols)
  }

  /** Footer-stat rows for an EXPLICIT file list — the shared core of
    * [[build]] (everything under a directory) and [[appendToManifest]]
    * (only the files a saved manifest has not seen).
    */
  private def buildForFiles(
      spark: SparkSession, files: Seq[String], statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "statCols must be non-empty")
    import spark.implicits._
    val wanted = statCols.toVector
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, files.size))
    val bconf = broadcastHadoopConf(spark)
    spark.createDataset(files).repartition(parts)
      .mapPartitions { paths =>
        val conf = bconf.value.value
        // parquet's min_value/max_value contract for UTF-8 strings is
        // UNSIGNED lexicographic byte order — the same order Spark's
        // UTF8String comparisons use, so aggregating with it keeps the
        // manifest bounds consistent with the predicates pruned on
        def uCmp(a: Array[Byte], b: Array[Byte]): Int = {
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n) {
            val d = (a(i) & 0xff) - (b(i) & 0xff)
            if (d != 0) return d
            i += 1
          }
          a.length - b.length
        }
        paths.flatMap { p =>
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p), conf))
          try {
            val blocks = rdr.getFooter.getBlocks.asScala.toSeq
            val nRows = blocks.map(_.getRowCount).sum
            val ints = scala.collection.mutable.Map[String, (Long, Long)]()
            val strs = scala.collection.mutable.Map[String, (Array[Byte], Array[Byte])]()
            val nulls = scala.collection.mutable.Map[String, Long]()
            blocks.foreach { b =>
              b.getColumns.asScala.foreach { c =>
                val name = c.getPath.toDotString
                if (wanted.contains(name)) {
                  val st = c.getStatistics
                  if (st != null && !st.isEmpty) {
                    nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
                    if (st.hasNonNullValue) {
                      (st.genericGetMin, st.genericGetMax) match {
                        case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                          val (pmn, pmx) = ints.getOrElse(name, (Long.MaxValue, Long.MinValue))
                          ints(name) = (math.min(pmn, mn.longValue()),
                            math.max(pmx, mx.longValue()))
                        case (mn: java.lang.Long, mx: java.lang.Long) =>
                          val (pmn, pmx) = ints.getOrElse(name, (Long.MaxValue, Long.MinValue))
                          ints(name) = (math.min(pmn, mn.longValue()),
                            math.max(pmx, mx.longValue()))
                        case (mn: org.apache.parquet.io.api.Binary,
                              mx: org.apache.parquet.io.api.Binary)
                            if c.getPrimitiveType.getLogicalTypeAnnotation
                              .isInstanceOf[org.apache.parquet.schema
                                .LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                          val (bmn, bmx) = (mn.getBytes, mx.getBytes)
                          strs.get(name) match {
                            case Some((pmn, pmx)) =>
                              strs(name) = (
                                if (uCmp(bmn, pmn) < 0) bmn else pmn,
                                if (uCmp(bmx, pmx) > 0) bmx else pmx)
                            case None => strs(name) = (bmn, bmx)
                          }
                        case _ => () // float/boolean/nested: column stays unknown
                      }
                    }
                  }
                }
              }
            }
            // a row per wanted column UNCONDITIONALLY: a file must
            // never vanish from the manifest just because a column's
            // stats are absent — pruning derives its universe from
            // these rows
            // a string bound is usable only when its stat bytes
            // roundtrip UTF-8 decode/encode UNCHANGED: String() maps
            // invalid sequences to U+FFFD, which can DECREASE a max
            // bound (bytes >= 0xF0 become EF BF BD) and make pruning
            // drop a file that holds matching rows. Non-roundtripping
            // bounds null out — "unknown, keep the file", never lossy.
            def rt(b: Array[Byte]): Option[String] = {
              val s = new String(b, java.nio.charset.StandardCharsets.UTF_8)
              if (java.util.Arrays.equals(
                s.getBytes(java.nio.charset.StandardCharsets.UTF_8), b)) Some(s)
              else None
            }
            wanted.map { c =>
              val iv = ints.get(c)
              val sv = strs.get(c).flatMap { case (mn, mx) =>
                for (a <- rt(mn); b <- rt(mx)) yield (a, b)
              }
              (p, c, nRows, iv.map(_._1), iv.map(_._2),
                sv.map(_._1), sv.map(_._2), nulls.get(c))
            }
          } finally rdr.close()
        }
      }
      .toDF("file", "column", "n_rows", "min_v", "max_v", "min_s", "max_s", "n_nulls")
  }

  // ----- persisted manifest lifecycle (the table-format log shape:
  // build once, maintain incrementally per ingest, vacuum on compaction
  // — never re-read old footers) -----

  /** Persist a manifest, partitioned by stat column so per-column
    * pruning reads only its directory. One store write: a reader never
    * sees a half-written manifest and a crash rolls back to the
    * previous one.
    */
  def saveManifest(manifest: DataFrame, path: String): Unit =
    Store.write(manifest.sparkSession, path)(Store.Put("", manifest, Some("column")))

  /** Load a saved manifest (healing a crashed write first). */
  def loadManifest(spark: SparkSession, path: String): DataFrame =
    Store(spark, path).read("")
      .select(col("file"), col("column"), col("n_rows"), col("min_v"),
        col("max_v"), col("min_s"), col("max_s"), col("n_nulls"))

  /** Incremental maintenance: stat ONLY the table files the saved
    * manifest has not seen and add their rows — O(new files) footer
    * reads per ingest instead of a full rebuild, the table-format-log
    * maintenance shape. New rows land per-column-partition as new
    * files in one store write; existing files are untouched. The
    * known-file set collects to the driver — the same memory class as
    * the table's file listing.
    *
    * @return number of new files statted (0 = manifest already
    *         current; nothing written)
    */
  def appendToManifest(
      spark: SparkSession,
      tablePath: String,
      manifestPath: String,
      statCols: Seq[String]): Long = {
    val known = loadManifest(spark, manifestPath)
      .select(col("file")).distinct().collect().map(_.getString(0)).toSet
    val fresh = listParquetFiles(spark, tablePath).filterNot(known)
    if (fresh.nonEmpty)
      Store.write(spark, manifestPath)(
        Store.Add("", buildForFiles(spark, fresh, statCols), Some("column")))
    fresh.size.toLong
  }

  /** Drop manifest rows for files the table no longer has (compaction
    * / OPTIMIZE rewrote them): one listing, one anti-filter, one
    * store write. Without this, [[readPruned]] over a saved
    * manifest would address dead paths.
    *
    * @return number of files whose rows were dropped
    */
  def vacuumManifest(
      spark: SparkSession,
      tablePath: String,
      manifestPath: String): Long = {
    import spark.implicits._
    val saved = loadManifest(spark, manifestPath)
    val livingSeq = listParquetFiles(spark, tablePath)
    require(livingSeq.nonEmpty,
      s"vacuumManifest: $tablePath has no parquet files — an all-files vacuum " +
        "would leave an unreadable empty manifest; drop the manifest dir instead")
    val living = livingSeq.toSet
    val stale = saved.select(col("file")).distinct()
      .collect().map(_.getString(0)).filterNot(living)
    if (stale.nonEmpty)
      saveManifest(
        saved.join(spark.createDataset(livingSeq).toDF("file"), Seq("file"), "left_semi"),
        manifestPath)
    stale.length.toLong
  }

  /** Files whose `[min_v, max_v]` window on `column` overlaps
    * `[lo, hi]` — the conservative skip set: a file absent from the
    * result provably contains no matching row. Files without integral
    * bounds for the column (all-null, uncovered type, or stats
    * missing) are KEPT — pruning must never lose data.
    */
  def pruneFiles(manifest: DataFrame, column: String, lo: Long, hi: Long): DataFrame =
    pruneOn(manifest, column, col("max_v") >= lo && col("min_v") <= hi,
      col("min_v").isNotNull && col("max_v").isNotNull)

  /** [[pruneFiles]] for a STRING column: overlap of the file's
    * unsigned-byte-order `[min_s, max_s]` window with `[lo, hi]`
    * (Spark string comparison is the same unsigned order). Files
    * without string bounds are KEPT.
    */
  def pruneFilesString(manifest: DataFrame, column: String, lo: String, hi: String): DataFrame =
    pruneOn(manifest, column, col("max_s") >= lit(lo) && col("min_s") <= lit(hi),
      col("min_s").isNotNull && col("max_s").isNotNull)

  private def pruneOn(
      manifest: DataFrame,
      column: String,
      overlap: org.apache.spark.sql.Column,
      hasBounds: org.apache.spark.sql.Column): DataFrame = {
    val all = manifest.select(col("file")).distinct()
    val covered = manifest.filter(col("column") === column && hasBounds)
    val overlapping = covered.filter(overlap).select(col("file"))
    val uncovered = all.join(covered.select(col("file")), Seq("file"), "left_anti")
    overlapping.unionByName(uncovered).distinct()
  }

  /** Scan ONLY the files [[pruneFiles]] keeps — the manifest→scan
    * loop closed: results equal the full-scan filter (pruning is
    * conservative by construction), but the scan's input file set is
    * the pruned subset, which a driver-side `queryExecution` file
    * listing can assert. The pruned predicate still applies (a kept
    * file may carry non-matching rows); pass `basePath` when the
    * layout is partitioned so the partition columns survive the
    * file-addressed read. The file-list collect is bounded by the
    * table's file count — the same driver memory Spark's own
    * InMemoryFileIndex spends on any scan of the table.
    */
  def readPruned(
      spark: SparkSession,
      manifest: DataFrame,
      column: String,
      lo: Long,
      hi: Long,
      basePath: Option[String] = None): DataFrame =
    readFiles(spark, manifest, pruneFiles(manifest, column, lo, hi), basePath)
      .filter(col(column) >= lo && col(column) <= hi)

  /** [[readPruned]] for a STRING column. */
  def readPrunedString(
      spark: SparkSession,
      manifest: DataFrame,
      column: String,
      lo: String,
      hi: String,
      basePath: Option[String] = None): DataFrame =
    readFiles(spark, manifest, pruneFilesString(manifest, column, lo, hi), basePath)
      .filter(col(column) >= lo && col(column) <= hi)

  private def readFiles(
      spark: SparkSession,
      manifest: DataFrame,
      pruned: DataFrame,
      basePath: Option[String]): DataFrame = {
    val files = pruned.collect().map(_.getString(0)).toSeq
    val rd = basePath.foldLeft(spark.read)((r, bp) => r.option("basePath", bp))
    if (files.nonEmpty) rd.parquet(files: _*)
    else {
      // empty prune set: an empty frame with the table's schema,
      // recovered from any manifest-listed file (zero rows read)
      val any = manifest.select(col("file")).limit(1).collect().map(_.getString(0)).toSeq
      require(any.nonEmpty,
        "FileManifest.readPruned: the manifest lists no files — build() " +
          "requires a non-empty table; an empty-table read needs an explicit schema")
      rd.parquet(any: _*).limit(0)
    }
  }

  /** Java-serializable carrier for the driver's hadoop conf (Spark's
    * own SerializableConfiguration is private[spark]); Configuration
    * is a Writable, so it serializes through its own write/readFields.
    */
  private[sources] class HadoopConfCarrier(
      @transient private var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Order-independent 64-bit fingerprint of every conf entry. */
  private def confFingerprint(conf: org.apache.hadoop.conf.Configuration): Long = {
    var acc = 0L
    val it = conf.iterator()
    while (it.hasNext) {
      val e = it.next()
      // mix each entry independently, combine commutatively (iteration
      // order of Configuration is not specified)
      var h = (e.getKey + "=" + e.getValue).hashCode.toLong * 0x9E3779B97F4A7C15L
      h ^= h >>> 32
      acc += h
    }
    acc
  }

  /** One hadoop-conf broadcast per SparkSession PER CONF FINGERPRINT,
    * cached: the callers (listParquetFiles/buildForFiles) run once per
    * micro-batch on a manifest-appending stream, and a fresh
    * never-destroyed Broadcast per batch accumulates driver/executor
    * blocks for the stream's lifetime with only GC + ContextCleaner to
    * reclaim them. The conf is NOT assumed immutable: runtime
    * mutations of `sparkContext.hadoopConfiguration` (credential/token
    * refresh, feature toggles) are detected by fingerprinting the
    * conf's entries on every call — a changed fingerprint destroys the
    * stale broadcast and ships the current conf, so executors never
    * keep listing with pre-refresh state. The fingerprint pass
    * iterates the conf once (microseconds against a per-micro-batch
    * listing of RPC calls).
    */
  private[graft] def broadcastHadoopConf(spark: SparkSession)
      : Broadcast[HadoopConfCarrier] = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = confFingerprint(conf)
    graft.util.SessionScopedCache.get[(Long, Broadcast[HadoopConfCarrier])](spark, "hadoop-conf") match {
      case Some((cached, b)) if cached == fp => b
      case stale =>
        stale.foreach { case (_, b) => b.destroy() }
        val b = spark.sparkContext.broadcast(new HadoopConfCarrier(conf))
        graft.util.SessionScopedCache.put(spark, "hadoop-conf", (fp, b))
        b
    }
  }
}
