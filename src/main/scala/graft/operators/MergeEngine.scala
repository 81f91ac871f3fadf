package graft.operators

import graft.config.TableConfig
import graft.sources.StagedSwap.{deleteOrThrow, renameOrThrow}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.util.UUID

/** Monotone-version MERGE engine over partitioned parquet tables.
  *
  * Re-creates, Spark-first, the capability the reference delegates to
  * Delta Lake's `MERGE INTO` (reference: src/kafka2delta/stream/
  * stream.py:114-148):
  *
  *   - [[resolveUpsert]] ≙ `WHEN MATCHED AND target.lsn < source.lsn THEN
  *     UPDATE SET * WHEN NOT MATCHED THEN INSERT *` (stream.py:114-133).
  *     The strict `<` guard makes replays idempotent: a stale row can
  *     never overwrite a newer one (ties keep the target row).
  *   - [[resolveDelete]] ≙ `WHEN MATCHED THEN DELETE` on primary key only,
  *     with NO version guard (stream.py:135-148) — deliberate reference
  *     semantics, preserved exactly.
  *   - Schema evolution ≙ Delta `schema.autoMerge` (conftest.py:101):
  *     both directions via `unionByName(allowMissingColumns = true)` —
  *     new source columns appear (old rows null), dropped source columns
  *     persist (new rows null).
  *   - Partition pruning ≙ the reference's manual inclusion of partition
  *     columns in the merge keys (stream.py:116-117): upserts only read
  *     and rewrite partitions present in the source batch; deletes only
  *     rewrite partitions that actually contained a matched key.
  *
  * Physical design, chosen for the 100 TB case:
  *   - One transaction per change set ([[apply]], the body of the
  *     reference's per-batch `foreachBatch`): ONE routing aggregation
  *     over the deduplicated changes — per-(upsert/delete, partition)
  *     row counts — decides which sides run and which partitions the
  *     upserts touch; then ONE target read, one resolve chain (upsert,
  *     then the pk-only delete), one staged swap and one catalog sync.
  *     [[upsert]] and [[delete]] are single-sided change sets.
  *   - The upsert is ONE shuffle at most: union target-slice + source,
  *     then a max_by aggregate with partial/final phases (map-side
  *     combine, skew-bounded) — and when the inputs are already
  *     partitioned on the keys (e.g. right after the batch dedup) the
  *     planner inserts NO further exchange at all. No full-outer join.
  *   - Writes are crash-atomic via a commit manifest + rename swap
  *     ([[writeStaged]]): resolved rows land in a staging dir laid out
  *     exactly like the target, a manifest (`_graft_txn.json` inside the
  *     table root, invisible to parquet scans) records the transaction
  *     (touched/removed partitions, staging and backup locations), old
  *     partition dirs are renamed into a backup dir and staged dirs
  *     renamed into place, and deleting the manifest is the commit
  *     point. Untouched partitions are never read or written. A crash at
  *     ANY point before the commit point is rolled back by
  *     [[recoverTable]] (invoked automatically from [[readTable]]): the
  *     table is restored bit-for-bit to its pre-merge version and the
  *     replayed micro-batch re-applies idempotently (checkpoint +
  *     monotone-version guard). Delta gets the same property from its
  *     log; here the manifest + rename swap provides it without a log
  *     format. Single-writer, like the reference's one streaming query
  *     per table.
  */
object MergeEngine {

  private val TagCol = "__graft_src"
  private val ManifestName = "_graft_txn.json"

  /** Table roots with a swap IN FLIGHT in this JVM. A manifest on disk
    * means either an abandoned transaction (crashed writer — roll it
    * back) or a LIVE one ([[writeStaged]] between manifest and commit
    * — rolling that back would delete dirs under the writer's feet).
    * In the single-writer model the two are distinguishable per
    * process: readers skip recovery while the writer is registered
    * here. Cross-process concurrent access remains out of scope
    * (single writer per table, like the reference's one streaming
    * query per table; see SCALE.md).
    */
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Unified read schema per table, maintained at commit time (and on
    * the first merged read), so the steady-state micro-batch loop reads
    * the target with an EXPLICIT schema — skipping the
    * `mergeSchema=true` footer sweep, whose cost grows with live file
    * count and is paid per batch. The schema written by a merge is the
    * union of the table's previous unified schema and the source's
    * (resolveUpsert unions both ways), so the cached value stays a
    * superset of every live file; parquet fills columns missing from
    * older files with nulls, exactly as the footer-merge read would.
    * JVM-local, single-writer model: an external writer that evolves
    * the table from another process requires [[invalidateSchema]] (or a
    * new session).
    */
  private val schemaCache = new graft.util.SessionScopedCache[StructType]

  /** Drop the cached read schema for `path` (external schema change). */
  def invalidateSchema(spark: SparkSession, path: String): Unit =
    schemaCache.remove(spark, path)

  /** All-nullable copy: files written before an evolution lack the new
    * columns, so a cached read schema must never claim non-nullability.
    */
  private def nullableOf(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  /** Test-only crash injection: [[writeStaged]] invokes this hook at the
    * named protocol points ("staged", "manifest", "backed-up",
    * "mid-swap", "pre-commit"); a hook that throws simulates a crash at
    * that point. No-op in production.
    */
  private[graft] object Failpoints {
    @volatile var hook: String => Unit = _ => ()
  }

  // ---------------------------------------------------------------------
  // Pure plan forms (no I/O) — usable as batch operators in their own right
  // ---------------------------------------------------------------------

  /** Merge `source` into `target` with monotone-version semantics.
    *
    * Assumes `target` has at most one row per key and `source` has been
    * deduplicated to one row per key ([[CdcDedup.latestPerKey]]).
    * `keyCols` should be pk + partition cols (stream.py:116).
    */
  def resolveUpsert(
      target: DataFrame,
      source: DataFrame,
      keyCols: Seq[String],
      versionCol: String): DataFrame = {
    val t = target.withColumn(TagCol, lit(0))
    val s = source.withColumn(TagCol, lit(1))
    val unioned = t.unionByName(s, allowMissingColumns = true)
    // Highest version wins; on a version tie the target row (tag 0) wins,
    // which is exactly the strict `target.lsn < source.lsn` guard (the
    // ordering key is (version, -tag), so equal versions prefer tag 0).
    // Aggregation form (max_by) rather than a row_number window: partial
    // aggregation bounds the shuffle to one row per key per map
    // partition, and as an Aggregate it reuses an upstream partitioning
    // on the keys (dedup + merge share one exchange — see CdcDedup doc).
    CdcDedup
      .latestPerKeyAgg(unioned, keyCols, struct(col(versionCol), -col(TagCol)))
      .drop(TagCol)
  }

  /** Remove from `target` every row whose primary key appears in
    * `deletes`. Matches on pk ONLY and has no version guard — reference
    * J2 semantics (stream.py:135-148).
    */
  def resolveDelete(target: DataFrame, deletes: DataFrame, pkCols: Seq[String]): DataFrame =
    target.join(deletes.select(pkCols.map(col): _*).distinct(), pkCols, "left_anti")

  // ---------------------------------------------------------------------
  // Table-backed operations
  // ---------------------------------------------------------------------

  /** Read a MergeEngine-managed table. Rolls back any in-flight
    * transaction first ([[recoverTable]]), so a reader never observes a
    * torn write. `mergeSchema` handles files written before a schema
    * evolution (untouched partitions keep old schema). Returns None when
    * the table has no data yet.
    */
  def readTable(spark: SparkSession, path: String): Option[DataFrame] = {
    recoverTable(spark, path)
    try Some(schemaCache.get(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.option("mergeSchema", "true").parquet(path)
        schemaCache.put(spark, path, nullableOf(df.schema)) // one footer sweep per session
        df
    })
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        schemaCache.remove(spark, path) // table gone; don't trust the cache on recreate
        None
    }
  }

  /** Roll back an uncommitted merge transaction, if one is present.
    *
    * A manifest at `<path>/_graft_txn.json` means a [[writeStaged]] swap
    * was interrupted before its commit point. Every unit (partition dir
    * or root data file) is restored: units already renamed into the
    * backup dir are moved back (after discarding whatever the swap put
    * in their place); units the swap never reached are still original
    * and untouched; brand-new units the swap renamed in are deleted.
    * Finally the staging dir, backup dir, and manifest are removed —
    * after which the table is bit-for-bit its pre-merge version.
    *
    * Returns true when a rollback was performed. Idempotent; crashing
    * mid-rollback and re-running is safe (each step re-checks existence).
    */
  def recoverTable(spark: SparkSession, path: String): Boolean = {
    val root = new Path(path)
    // a manifest belonging to a LIVE writer in this JVM is not a crash
    // — rolling it back would corrupt the in-flight swap
    if (inFlight.contains(root.toString)) return false
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash during manifest creation leaves only the tmp file: nothing
    // was swapped yet, so discarding it (and any staged bytes) suffices
    deleteOrThrow(fs, new Path(root, ManifestName + ".tmp"))
    val manifestPath = new Path(root, ManifestName)
    if (!fs.exists(manifestPath)) return false
    val m = Manifest.read(fs, manifestPath)
    val backup = new Path(m.backup)
    if (m.partitioned) {
      (m.touched ++ m.removed).distinct.foreach { rel =>
        val live = new Path(root, rel)
        val saved = new Path(backup, rel)
        if (fs.exists(saved)) {
          deleteOrThrow(fs, live)
          fs.mkdirs(live.getParent)
          renameOrThrow(fs, saved, live)
        } else if (!m.existing.contains(rel)) {
          // new partition: nothing to restore, remove if swapped in
          deleteOrThrow(fs, live)
        } // else: original still in place — the swap never reached it
      }
    } else {
      m.stagedFiles.foreach(f => deleteOrThrow(fs, new Path(root, f)))
      m.originalFiles.foreach { f =>
        val saved = new Path(backup, f)
        if (fs.exists(saved)) renameOrThrow(fs, saved, new Path(root, f))
      }
    }
    // a refused restore above threw: the backup is still the only copy
    deleteOrThrow(fs, new Path(m.staging))
    deleteOrThrow(fs, backup)
    deleteOrThrow(fs, manifestPath)
    true
  }

  /** Create an empty, optionally partitioned, catalog-registered table if
    * absent (reference: utils.py:37-58).
    */
  def createTableIfNotExists(spark: SparkSession, schema: StructType, cfg: TableConfig): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${cfg.schema}")
    if (!spark.catalog.tableExists(cfg.qualifiedName)) {
      // an ACTUAL (re)creation invalidates any memoized partition
      // registrations from a previous life of this table name — a
      // stale memo would skip the ALTER for a re-added partition and a
      // catalog reader would miss its data. The common per-batch call
      // (table exists) keeps the memo.
      registeredPartitions.remove(spark, cfg.qualifiedName)
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      val writer = empty.write.format("parquet").mode("ignore").option("path", cfg.path)
      (if (cfg.partitionCols.nonEmpty) writer.partitionBy(cfg.partitionCols: _*) else writer)
        .saveAsTable(cfg.qualifiedName)
    }
  }

  /** Marks the side of an [[upsert]] / [[delete]] change set. */
  private val OpCol = "__graft_op_deleted"

  /** MERGE one change set into the table at `cfg.path` — the micro-batch
    * transaction of the reference (stream.py:114-148: guarded upsert,
    * then pk-only delete) as ONE read-modify-write.
    *
    * `changes` holds one row per key ([[CdcDedup.latestPerKey]]);
    * `deletedCol == "true"` marks tombstones, any other value an upsert
    * (written without `deletedCol`), null neither. The frame is cached
    * for the call — and unpersisted on return, so pass one the caller
    * does not cache itself — and routed by ONE aggregation:
    * per-(side, partition) row counts, whose cardinality is sides x
    * touched partitions — small enough to collect by construction. The
    * counts say which sides are non-empty and which partitions the
    * upserts touch, so no side pays an emptiness probe or a
    * partition-discovery collect of its own.
    *
    * Only partitions the upserts touch or a deleted key occupies are read
    * and rewritten. Deletes match on pk alone, so their partitions come
    * from a probe of the pre-state ([[pkRangeFilter]] prunes it by
    * row-group stats when files are pk-clustered); partitions the swap
    * leaves empty are removed in the same transaction. Sequentially
    * equivalent to upsert-then-delete: an upsert can add keys only
    * inside its own touched partitions, so every row the delete could
    * see is in the slice; even a key on both sides ends deleted.
    */
  def apply(
      spark: SparkSession,
      cfg: TableConfig,
      changes: DataFrame,
      pkCols: Seq[String],
      versionCol: String,
      deletedCol: String): Unit = {
    val partCols = cfg.partitionCols
    changes.cache()
    try {
      val isDel = col(deletedCol) === "true"
      val routed = changes
        .groupBy(isDel.as("__is_del") +: partCols.map(col): _*)
        .count()
        .collect()
        .filterNot(_.isNullAt(0))
      val (delRows, upRows) = routed.partition(_.getBoolean(0))
      val upserts = changes.filter(!isDel).drop(deletedCol)
      val deletes = changes.filter(isDel)
      val target = readTable(spark, cfg.path)
      if (target.isEmpty && upRows.isEmpty) return // nothing to delete from
      // the partitions to read and rewrite: those the upserts touch plus
      // those holding a deleted key (probed on the pre-state)
      val rewrite: Array[Row] = target match {
        case Some(t) if partCols.nonEmpty =>
          val affected =
            if (delRows.isEmpty) Array.empty[Row]
            else
              pkRangeFilter(deletes, pkCols, cfg.sortCols).map(t.filter).getOrElse(t)
                .join(deletes.select(pkCols.map(col): _*).distinct(), pkCols, "left_semi")
                .select(partCols.map(col): _*)
                .distinct()
                .collect()
          val touched = upRows.map(r => Row.fromSeq((1 to partCols.size).map(r.get)))
          val union = (touched ++ affected).distinct
          if (union.isEmpty) return
          union
        case _ => Array.empty
      }
      val merged = target match {
        case None => upserts // brand-new table
        case Some(t) =>
          val slice = if (rewrite.isEmpty) t else t.filter(partitionPredicate(partCols, rewrite))
          if (upRows.isEmpty) slice
          else resolveUpsert(slice, upserts, (pkCols ++ partCols).distinct, versionCol)
      }
      val resolved = if (delRows.isEmpty) merged else resolveDelete(merged, deletes, pkCols)
      // a delete that empties an unpartitioned table leaves no rows to stage
      if (partCols.isEmpty && delRows.nonEmpty && target.isDefined && resolved.isEmpty)
        truncate(spark, cfg)
      else syncCatalog(spark, cfg, writeStaged(spark, cfg, resolved, rewrite))
    } finally { changes.unpersist(); () }
  }

  /** MERGE-upsert `source` (one row per key) into the table at `cfg.path`. */
  def upsert(
      spark: SparkSession,
      cfg: TableConfig,
      source: DataFrame,
      pkCols: Seq[String],
      versionCol: String): Unit =
    apply(spark, cfg, source.withColumn(OpCol, lit("false")), pkCols, versionCol, OpCol)

  /** MERGE-delete: remove the rows whose pk appears in `deletes`. Deletes
    * match on pk alone, so `deletes` may omit the partition columns
    * (routed as null); with no upsert side the version column is never
    * read.
    */
  def delete(spark: SparkSession, cfg: TableConfig, deletes: DataFrame, pkCols: Seq[String]): Unit =
    apply(spark, cfg,
      deletes.withColumns((cfg.partitionCols.filterNot(deletes.columns.contains).map(_ -> lit(null))
        :+ (OpCol -> lit("true"))).toMap),
      pkCols, OpCol, OpCol)

  /** Per-(application, table) memo of partition rels already registered
    * in the catalog: a steady-state CDC stream touches the same few
    * partitions batch after batch, and each redundant `ALTER TABLE ADD
    * IF NOT EXISTS PARTITION` is a catalog round trip — pure fixed cost
    * (NOTES' remaining CDC item). Entries are recorded only after the
    * ALTER succeeds, and evicted whenever the ENGINE itself invalidates
    * them: a swap that removes partitions drops those rels, truncate
    * and an actual table (re)creation drop the table's whole entry.
    * Caveat (same class as the read-schema cache): an EXTERNAL
    * `DROP PARTITION` against a live session's table is not observed;
    * the memo is session-scoped, so a fresh session re-adds.
    */
  private val registeredPartitions =
    new graft.util.SessionScopedCache[java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]]

  /** Keep a registered catalog table consistent with the path.
    *
    * The merge writes partitions directly to the path, so a registered
    * catalog table must learn about NEW partition dirs: ONE targeted
    * `ALTER TABLE ... ADD IF NOT EXISTS PARTITION` registers exactly
    * the swapped-in partitions NOT yet known to this session — O(new
    * per batch). `recoverPartitions` (the MSCK-equivalent fallback for
    * tables that reject the ALTER) lists the ENTIRE table tree, a cost
    * that grows with table size, not batch size.
    */
  private def syncCatalog(spark: SparkSession, cfg: TableConfig, touchedRels: Seq[String]): Unit =
    if (touchedRels.nonEmpty && spark.catalog.tableExists(cfg.qualifiedName)) {
      try {
        val known = registeredPartitions.getOrElseUpdate(spark, cfg.qualifiedName)(
          new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean])
        val fresh = touchedRels.filterNot(known.containsKey)
        if (fresh.nonEmpty) {
          val specs = fresh.map { rel =>
            rel.split("/").toSeq.map { seg =>
              val Array(k, v) = seg.split("=", 2)
              s"$k='${ExternalCatalogUtils.unescapePathName(v).replace("'", "''")}'"
            }.mkString("PARTITION (", ", ", ")")
          }
          spark.sql(
            s"ALTER TABLE ${cfg.qualifiedName} ADD IF NOT EXISTS ${specs.mkString(" ")}")
          fresh.foreach(known.put(_, java.lang.Boolean.TRUE))
        }
      } catch {
        // not a partitioned catalog table / DDL unsupported: best-effort
        case _: org.apache.spark.sql.AnalysisException =>
          try spark.catalog.recoverPartitions(cfg.qualifiedName)
          catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
    }

  /** When the table clusters files on a single-column pk
    * (`sortCols` head == the pk), the probe for affected partitions can
    * push `pk BETWEEN min(deletes) AND max(deletes)` into the scan:
    * parquet row-group min/max stats then skip every file/row-group
    * whose pk range cannot contain a deleted key — at 100 TB this turns
    * the J2 full-table probe into a read of only the candidate row
    * groups. Pruning is applied ONLY to the probe; the rewrite still
    * reads complete affected partitions (survivors must keep every
    * non-matched row).
    */
  private[graft] def pkRangeFilter(
      deletes: DataFrame,
      pkCols: Seq[String],
      sortCols: Seq[String]): Option[org.apache.spark.sql.Column] =
    if (pkCols.size == 1 && sortCols.headOption.contains(pkCols.head)) {
      val pk = pkCols.head
      val bounds = deletes.agg(min(col(pk)).as("lo"), max(col(pk)).as("hi")).head()
      if (bounds.isNullAt(0)) None
      else Some(col(pk) >= lit(bounds.get(0)) && col(pk) <= lit(bounds.get(1)))
    } else None

  /** Remove all data for a table (used when a delete empties an
    * unpartitioned table).
    */
  private def truncate(spark: SparkSession, cfg: TableConfig): Unit = {
    val root = new Path(cfg.path)
    deleteOrThrow(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    registeredPartitions.remove(spark, cfg.qualifiedName)
  }

  /** Compact a merge table's small files (micro-batch CDC writes leave
    * one file set per touched partition per batch; at 100 TB the read
    * amplification from thousands of tiny files dominates scan cost).
    *
    * Rewrites each partition whose file count exceeds
    * `maxFilesPerPartition` into `ceil(bytes / targetFileBytes)` files
    * via the same staged atomic-swap path the merge uses. Untouched
    * partitions keep their files. Returns the number of partitions
    * compacted.
    */
  def compact(
      spark: SparkSession,
      cfg: TableConfig,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxFilesPerPartition: Int = 4): Int = {
    val root = new Path(cfg.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0

    if (cfg.partitionCols.isEmpty) {
      val files = dataFiles(fs, root)
      if (files.size <= maxFilesPerPartition) 0
      else {
        val target = math.max(1, math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
        readTable(spark, cfg.path).foreach(t => writeStaged(spark, cfg, t.repartition(target)))
        1
      }
    } else {
      val oversized = partitionDirs(fs, root, cfg.partitionCols.size)
        .map(d => d -> dataFiles(fs, d))
        .filter(_._2.size > maxFilesPerPartition)
      val qualifiedRoot = fs.makeQualified(root).toString
      oversized.foreach { case (dir, files) =>
        val rel = fs.makeQualified(dir).toString.stripPrefix(qualifiedRoot).stripPrefix("/")
        val pred = rel.split("/").map { seg =>
          val Array(k, v) = seg.split("=", 2)
          if (v == "__HIVE_DEFAULT_PARTITION__") col(k).isNull
          else col(k) === lit(ExternalCatalogUtils.unescapePathName(v))
        }.reduce(_ && _)
        val target = math.max(1, math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
        readTable(spark, cfg.path).foreach { t =>
          writeStaged(spark, cfg, t.filter(pred).repartition(target))
        }
      }
      oversized.size
    }
  }

  // ---------------------------------------------------------------------

  private def partitionPredicate(partCols: Seq[String], values: Array[Row]) =
    values
      .map { r =>
        partCols.zipWithIndex
          .map { case (c, i) => col(c) <=> lit(r.get(i)) }
          .reduce(_ && _)
      }
      .reduce(_ || _)

  private def dataFiles(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))

  /** Leaf partition dirs at exactly `depth` levels below `dir`. */
  private def partitionDirs(fs: FileSystem, dir: Path, depth: Int): Seq[Path] =
    if (depth == 0) Seq(dir)
    else if (!fs.exists(dir)) Seq.empty
    else
      fs.listStatus(dir).toSeq
        .filter(_.isDirectory)
        .flatMap(d => partitionDirs(fs, d.getPath, depth - 1))

  /** Relative `k=v/...` path of one partition-value row. */
  private def partitionRel(partCols: Seq[String], r: Row): String =
    partCols.zipWithIndex
      .map { case (c, i) =>
        val v = Option(r.get(i))
          .map(x => ExternalCatalogUtils.escapePathName(x.toString))
          .getOrElse("__HIVE_DEFAULT_PARTITION__")
        s"$c=$v"
      }
      .mkString("/")

  /** Commit manifest: the durable record of an in-flight swap. Written
    * (atomically, via tmp + rename) before the first rename; deleted as
    * the commit point. Its presence on read means "roll back".
    */
  private case class Manifest(
      txid: String,
      partitioned: Boolean,
      staging: String,
      backup: String,
      touched: Seq[String], // partition rels receiving staged data
      removed: Seq[String], // partition rels removed with nothing staged
      existing: Seq[String], // subset of touched++removed that pre-existed
      stagedFiles: Seq[String], // unpartitioned: file names renamed in
      originalFiles: Seq[String]) // unpartitioned: file names renamed out

  private object Manifest {
    import org.json4s._
    import org.json4s.jackson.{JsonMethods, Serialization}
    private implicit val fmt: Formats = DefaultFormats

    def write(fs: FileSystem, root: Path, m: Manifest): Path = {
      val tmp = new Path(root, ManifestName + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(Serialization.write(m).getBytes("UTF-8"))
      finally out.close()
      val live = new Path(root, ManifestName)
      renameOrThrow(fs, tmp, live)
      live
    }

    def read(fs: FileSystem, p: Path): Manifest = {
      val in = fs.open(p)
      val bytes =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          buf.toByteArray
        } finally in.close()
      JsonMethods.parse(new String(bytes, "UTF-8")).extract[Manifest]
    }
  }

  /** Crash-atomic write of `df` into the table at `cfg.path`.
    *
    * Protocol (the commit manifest + rename swap described in the class
    * doc):
    *   1. stage — write `df` (clustered on `sortCols`) to a sibling
    *      staging dir with the target's exact partition layout;
    *   2. manifest — record txid, staging/backup locations, and every
    *      unit the swap will touch in `_graft_txn.json` (tmp + rename,
    *      so a partial manifest is never live);
    *   3. backup — rename each pre-existing touched unit (partition dir,
    *      or root data file for unpartitioned tables) into the backup
    *      dir;
    *   4. swap — rename staged units into place;
    *   5. commit — delete the manifest, then the backup and staging
    *      dirs.
    * A crash anywhere in 2-4 (and before the commit in 5) is rolled back
    * by [[recoverTable]]; after the commit the merge is durable.
    *
    * Every rename and delete is checked ([[StagedSwap]]): a refused one
    * throws, so the protocol never proceeds past a step that did not
    * happen.
    *
    * Partitioned tables swap only the partitions present in `df`
    * (plus `removeCandidates` partitions that received no staged data —
    * how [[apply]] drops emptied partitions in the same transaction).
    * Unpartitioned tables swap the full file set.
    *
    * @return the touched partition rel-paths (e.g. `year=2024`) for a
    *         partitioned table — the caller's targeted catalog sync —
    *         or Nil for unpartitioned / nothing-to-swap.
    */
  private def writeStaged(
      spark: SparkSession,
      cfg: TableConfig,
      df: DataFrame,
      removeCandidates: Array[Row] = Array.empty): Seq[String] = {
    val txid = UUID.randomUUID().toString.take(8)
    val stagingDir = new Path(s"${cfg.path}__staging_$txid")
    val backupDir = new Path(s"${cfg.path}__backup_$txid")
    val root = new Path(cfg.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    inFlight.add(root.toString)
    try {
      // 1. stage, clustered: within-partition sort -> parquet row-group
      // min/max stats cluster on sortCols, so later point/range scans
      // (incl. the delete probe) skip row groups. Deliberately NO
      // repartition-on-write: routing rows to one task per partition
      // value (plain or REBALANCE-hinted) costs an extra shuffle per
      // micro-batch that measured 25-40% ingest-rate regression at
      // small batch sizes, while AQE already coalesces the merge
      // aggregation's output shuffle. File-count growth is handled out
      // of band by [[compact]] (the OPTIMIZE model), which
      // [[graft.streaming.MicroBatchMerger]] can invoke on a cadence.
      val clustered =
        if (cfg.sortCols.isEmpty) df else df.sortWithinPartitions(cfg.sortCols.map(col): _*)
      val writer = clustered.write.mode("overwrite")
      (if (cfg.partitionCols.nonEmpty) writer.partitionBy(cfg.partitionCols: _*) else writer)
        .parquet(stagingDir.toString)
      Failpoints.hook("staged")

      fs.mkdirs(root) // first write on a brand-new path-only table
      val touchedRels: Seq[String] = if (cfg.partitionCols.nonEmpty) {
        val touched = partitionDirs(fs, stagingDir, cfg.partitionCols.size)
          .map(d => relativize(fs, stagingDir, d))
        val removed = removeCandidates
          .map(partitionRel(cfg.partitionCols, _))
          .filterNot(touched.contains)
          .filter(rel => fs.exists(new Path(root, rel)))
          .toSeq
        // partitions this swap removes leave the session memo, so a
        // future re-add of the same partition goes back through the
        // catalog ALTER (eviction is safe even if the swap fails: a
        // memo miss only costs one redundant idempotent ALTER)
        if (removed.nonEmpty)
          registeredPartitions.get(spark, cfg.qualifiedName)
            .foreach(known => removed.foreach(known.remove))
        val existing = (touched ++ removed).filter(rel => fs.exists(new Path(root, rel)))
        if (touched.isEmpty && removed.isEmpty) return Nil
        // 2. manifest
        Manifest.write(fs, root,
          Manifest(txid, partitioned = true, stagingDir.toString, backupDir.toString,
            touched, removed, existing, Nil, Nil))
        Failpoints.hook("manifest")
        // 3. backup pre-existing units
        existing.foreach { rel =>
          val dst = new Path(backupDir, rel)
          fs.mkdirs(dst.getParent)
          renameOrThrow(fs, new Path(root, rel), dst)
        }
        Failpoints.hook("backed-up")
        // 4. swap staged units in
        touched.zipWithIndex.foreach { case (rel, i) =>
          val dst = new Path(root, rel)
          fs.mkdirs(dst.getParent)
          renameOrThrow(fs, new Path(stagingDir, rel), dst)
          if (i == 0) Failpoints.hook("mid-swap")
        }
        touched
      } else {
        val staged = dataFiles(fs, stagingDir).map(_.getPath.getName)
        val originals = dataFiles(fs, root).map(_.getPath.getName)
        // 2. manifest
        Manifest.write(fs, root,
          Manifest(txid, partitioned = false, stagingDir.toString, backupDir.toString,
            Nil, Nil, Nil, staged, originals))
        Failpoints.hook("manifest")
        // 3. backup the current file set
        fs.mkdirs(backupDir)
        originals.foreach(f => renameOrThrow(fs, new Path(root, f), new Path(backupDir, f)))
        Failpoints.hook("backed-up")
        // 4. swap staged files in
        staged.zipWithIndex.foreach { case (f, i) =>
          renameOrThrow(fs, new Path(stagingDir, f), new Path(root, f))
          if (i == 0) Failpoints.hook("mid-swap")
        }
        Nil
      }
      Failpoints.hook("pre-commit")
      // 5. commit
      deleteOrThrow(fs, new Path(root, ManifestName))
      deleteOrThrow(fs, backupDir)
      deleteOrThrow(fs, stagingDir)
      // the committed schema is the table's new unified read schema
      // (see schemaCache): steady-state reads skip the footer sweep
      schemaCache.put(spark, cfg.path, nullableOf(df.schema))
      touchedRels
    } finally {
      inFlight.remove(root.toString)
      // normal-exit tidy only; after a crash the dirs are evidence for
      // recoverTable and must stay. No manifest means either nothing was
      // swapped (pre-manifest failure) or the commit already happened —
      // in both cases staging and backup are garbage. (A simulated
      // crash — a failpoint throw — also lands here: the writer
      // deregisters, so the left-behind manifest is correctly seen as
      // abandoned and recoverable.)
      if (!fs.exists(new Path(root, ManifestName))) {
        deleteOrThrow(fs, stagingDir)
        deleteOrThrow(fs, backupDir)
      }
    }
  }

  private def relativize(fs: FileSystem, base: Path, p: Path): String = {
    val b = fs.makeQualified(base).toString
    fs.makeQualified(p).toString.stripPrefix(b).stripPrefix("/")
  }
}
