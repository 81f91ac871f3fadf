package graft.operators

import graft.config.TableConfig
import graft.sources.StagedSwap
import graft.util.SessionScopedCache

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftPlanShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{escapeSingleQuotedString, quoteIdentifier}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

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
  *     rewrite partitions that actually contained a matched key (or,
  *     when the partition columns follow the pk, the partitions their
  *     tombstones name).
  *
  * Physical design, chosen for the 100 TB case:
  *   - One transaction per change set ([[apply]], the body of the
  *     reference's per-batch `foreachBatch`): ONE map-side routing pass
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
  *   - Writes are crash-atomic ([[writeStaged]]): each change set is
  *     one [[graft.sources.StagedSwap]] commit whose units are the
  *     touched partition dirs (an unpartitioned table's data files).
  *     Untouched partitions are never read or written. A crashed swap
  *     is rolled back by the [[StagedSwap.recover]] in [[readTable]]:
  *     the table is bit-for-bit its pre-merge version and the replayed
  *     micro-batch re-applies idempotently (checkpoint + monotone-version
  *     guard). Delta gets the same property from its log.
  */
object MergeEngine {

  private val TagCol = "__graft_src"

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
  private def schemaKey(path: String): String = "schema:" + path

  /** Drop the cached read schema for `path` (external schema change). */
  def invalidateSchema(spark: SparkSession, path: String): Unit =
    SessionScopedCache.remove(spark, schemaKey(path))

  /** All-nullable copy: files written before an evolution lack the new
    * columns, so a cached read schema must never claim non-nullability.
    */
  private def nullableOf(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

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
    * transaction first ([[StagedSwap.recover]]), so a reader never observes a
    * torn write. `mergeSchema` handles files written before a schema
    * evolution (untouched partitions keep old schema). Returns None when
    * the table was never written, without asking Spark to read a
    * missing root; an emptied table reads as an empty frame with its
    * schema.
    */
  def readTable(spark: SparkSession, path: String): Option[DataFrame] = {
    StagedSwap.recover(spark, path)
    val root = new Path(path)
    val table =
      if (!root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root)) None
      else
        try Some(SessionScopedCache.get[StructType](spark, schemaKey(path)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.option("mergeSchema", "true").parquet(path)
            SessionScopedCache.put(spark, schemaKey(path), nullableOf(df.schema)) // one footer sweep per session
            df
        })
        catch { case _: org.apache.spark.sql.AnalysisException => None }
    if (table.isEmpty) SessionScopedCache.remove(spark, schemaKey(path)) // table gone; don't trust the cache on recreate
    table
  }

  /** Create an empty, optionally partitioned, catalog-registered table if
    * absent (reference: utils.py:37-58). Registration writes no data
    * file, so a table holds files only once a merge commits them: until
    * then [[readTable]] returns None and a delete has nothing to rewrite.
    */
  def createTableIfNotExists(spark: SparkSession, schema: StructType, cfg: TableConfig): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${cfg.schema}")
    if (!spark.catalog.tableExists(cfg.qualifiedName)) {
      // an ACTUAL (re)creation invalidates any memoized partition
      // registrations and read schema from a previous life of this
      // table name — a stale memo would skip the ALTER for a re-added
      // partition and a catalog reader would miss its data, and a
      // stale schema would read the new empty root as a table. The
      // common per-batch call (table exists) keeps the memos.
      SessionScopedCache.remove(spark, partitionsKey(cfg))
      SessionScopedCache.remove(spark, schemaKey(cfg.path))
      val root = new Path(cfg.path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // an existing LOCATION: on a missing one, CREATE TABLE's
      // metadata-dir check logs a FileNotFoundException trace
      fs.mkdirs(root)
      // qualified: the catalog resolves a relative LOCATION against the
      // database dir, the merge writes against the working dir
      val location = fs.makeQualified(root)
      val partitioned =
        if (cfg.partitionCols.isEmpty) ""
        else cfg.partitionCols.map(quoteIdentifier).mkString(" PARTITIONED BY (", ", ", ")")
      spark.sql(s"CREATE TABLE ${cfg.qualifiedName} (${nullableOf(schema).toDDL}) USING parquet" +
        s"$partitioned LOCATION '${escapeSingleQuotedString(location.toString)}'")
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
    * does not cache itself — and routed by ONE map-side pass ([[route]]):
    * per-(side, partition) row counts, whose cardinality is sides x
    * touched partitions — small enough to collect by construction. The
    * counts say which sides are non-empty and which partitions the
    * upserts touch, so no side pays an emptiness probe or a
    * partition-discovery collect of its own.
    *
    * The upsert keys are pk + partition columns (stream.py:116-117), so
    * a key's partition values must never change: derive them from the
    * pk ([[partitionsFollowPk]]) or from an immutable column. An update
    * that moves a key to another partition value inserts a second row
    * and leaves the old one behind.
    *
    * Only partitions the upserts touch or a deleted key occupies are read
    * and rewritten; partitions the swap leaves empty are removed in the
    * same transaction, and a delete that empties an unpartitioned table
    * swaps in one empty data file that keeps the schema: every outcome
    * is one [[writeStaged]] commit. Deletes match on pk alone, so where
    * a deleted key lives comes from a probe of the pre-state — unless
    * every partition column follows the pk ([[partitionsFollowPk]]): a
    * deleted key then lives in the partition its tombstone names. A
    * change set with upserts rewrites those partitions with no probe
    * (its write runs anyway; a partition that only tombstones of absent
    * keys name is rewritten unchanged); a delete-only one probes just
    * them, so tombstones of absent keys — replays, repeated deletes —
    * commit nothing. Sequentially equivalent to upsert-then-delete: an
    * upsert can add keys only inside its own touched partitions, so
    * every row the delete could see is in the slice; even a key on both
    * sides ends deleted.
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
      val counts = route(changes, isDel, partCols)
      val upParts = counts.keys.collect { case (false, p) => p }.toArray
      val delParts = counts.keys.collect { case (true, p) => p }.toArray
      val upserts = changes.filter(!isDel).drop(deletedCol)
      val deletes = changes.filter(isDel)
      val target = readTable(spark, cfg.path)
      if (target.isEmpty && upParts.isEmpty) return // nothing to delete from
      // the partitions to read and rewrite: those the upserts touch plus
      // those holding a deleted key
      val rewrite: Array[Row] = target match {
        case Some(t) if partCols.nonEmpty =>
          val follows = delParts.nonEmpty && partitionsFollowPk(changes, partCols, pkCols)
          val affected =
            if (delParts.isEmpty || (follows && upParts.nonEmpty)) delParts
            else
              (if (follows) t.filter(partitionPredicate(partCols, delParts)) else t)
                .join(deletes.select(pkCols.map(col): _*).distinct(), pkCols, "left_semi")
                .select(partCols.map(col): _*)
                .distinct()
                .collect()
          val union = (upParts ++ affected).distinct
          if (union.isEmpty) return
          union
        case _ => Array.empty
      }
      val merged = target match {
        case None => upserts // brand-new table
        case Some(t) =>
          val slice = if (rewrite.isEmpty) t else t.filter(partitionPredicate(partCols, rewrite))
          if (upParts.isEmpty) slice
          else resolveUpsert(slice, upserts, (pkCols ++ partCols).distinct, versionCol)
      }
      val resolved = if (delParts.isEmpty) merged else resolveDelete(merged, deletes, pkCols)
      writeStaged(spark, cfg, resolved, rewrite)
    } finally { changes.unpersist(); () }
  }

  /** The routing of a change set in ONE map-side pass over `changes` (no
    * exchange): each task counts its rows per (is-delete, partition
    * values), and the driver sums the counts. Rows whose side is null
    * go to neither side.
    */
  private def route(
      changes: DataFrame,
      isDel: Column,
      partCols: Seq[String]): Map[(Boolean, Row), Long] =
    changes.select(isDel +: partCols.map(col): _*).rdd
      .mapPartitions { rows =>
        val counts = scala.collection.mutable.HashMap.empty[(Boolean, Row), Long]
        rows.filterNot(_.isNullAt(0)).foreach { r =>
          val key = (r.getBoolean(0), Row.fromSeq(r.toSeq.tail))
          counts(key) = counts.getOrElse(key, 0L) + 1
        }
        Iterator.single(counts.toMap)
      }
      .collect()
      .toSeq.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** True when every partition column of `changes` is known, from its
    * analyzed plan, to be a deterministic function of the pk alone: a pk
    * column itself, or an alias in the top projection (such as a
    * [[graft.config.TableConfig]]'s `additionalCols`) whose expression
    * is deterministic, reads at least one column, and whose leaves are
    * pk columns and literals. Any other leaf, such as the clock read
    * `current_date()`, lets a later tombstone name another partition;
    * a constant — the null [[delete]] fills in, or any placeholder —
    * says nothing about where a key lives.
    */
  private[graft] def partitionsFollowPk(
      changes: DataFrame,
      partCols: Seq[String],
      pkCols: Seq[String]): Boolean = {
    val out = GraftPlanShim.analyzed(changes) match {
      case p: Project => p.projectList
      case p => p.output
    }
    partCols.forall { c =>
      out.filter(_.name == c) match {
        case Seq(e) =>
          val body = e match {
            case Alias(child, _) => child
            case other => other
          }
          val leaves = body.collectLeaves()
          body.deterministic && leaves.exists(_.isInstanceOf[Attribute]) && leaves.forall {
            case a: Attribute => pkCols.contains(a.name)
            case _: Literal => true
            case _ => false
          }
        case _ => false
      }
    }
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
    * (routed as null, a constant, so this path always probes the
    * pre-state); with no upsert side the version column is never read.
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
    * them: a swap that removes partitions drops those rels, and an
    * actual table (re)creation drops the table's whole entry.
    * Caveat (same class as the read-schema cache): an EXTERNAL
    * `DROP PARTITION` against a live session's table is not observed;
    * the memo is session-scoped, so a fresh session re-adds.
    */
  private def partitionsKey(cfg: TableConfig): String = "partitions:" + cfg.qualifiedName

  /** Keep a registered catalog table consistent with a commit to its
    * path, which the merge and compaction write directly:
    *   - NEW partition dirs: ONE targeted `ALTER TABLE ... ADD IF NOT
    *     EXISTS PARTITION` for the swapped-in partitions not yet known
    *     to this session — O(new per batch); `recoverPartitions` (the
    *     MSCK-equivalent fallback for tables that reject the ALTER)
    *     lists the ENTIRE table tree, a cost that grows with table size;
    *   - columns the committed read schema adds: `ALTER TABLE ... ADD
    *     COLUMNS`;
    *   - replaced files: the session catalog's `refreshTable` drops the
    *     cached relation, with the file list of its first read, in the
    *     committing session and in the default session a streaming
    *     query's session is cloned from (other sessions run `REFRESH
    *     TABLE` themselves).
    * A commit that adds no partition and no column runs no Spark job and
    * no SQL execution here: the column check reads catalog metadata.
    */
  private def syncCatalog(
      spark: SparkSession,
      cfg: TableConfig,
      committed: StructType,
      touchedRels: Seq[String]): Unit =
    if (spark.catalog.tableExists(cfg.qualifiedName)) {
      if (touchedRels.nonEmpty) try {
        val known = SessionScopedCache.getOrElseUpdate(spark, partitionsKey(cfg))(
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
      val ident = TableIdentifier(cfg.tableName, Some(cfg.schema))
      val registered = spark.sessionState.catalog.getTableMetadata(ident).schema.fieldNames
      val added = committed.filterNot(f => registered.exists(_.equalsIgnoreCase(f.name)))
      if (added.nonEmpty)
        spark.sql(s"ALTER TABLE ${cfg.qualifiedName} ADD COLUMNS (${StructType(added).toDDL})")
      (spark +: SparkSession.getDefaultSession.filter(_ ne spark).toSeq)
        .foreach(_.sessionState.catalog.refreshTable(ident))
    }

  /** Compact a merge table's small files (micro-batch CDC writes leave
    * one file set per touched partition per batch; at 100 TB the read
    * amplification from thousands of tiny files dominates scan cost).
    *
    * Every partition whose file count exceeds `maxFilesPerPartition`
    * (an unpartitioned table: the root's file set) is rewritten into
    * `ceil(bytes / targetFileBytes)` files by ONE transaction: one read
    * filtered to those partitions, one `repartitionById` exchange in
    * which each output file is its own task, and one staged swap whose
    * units are exactly the partitions it rewrites. Untouched partitions
    * keep their files. Returns the number of partitions compacted.
    */
  def compact(
      spark: SparkSession,
      cfg: TableConfig,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxFilesPerPartition: Int = 4): Int = {
    val root = new Path(cfg.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val qualifiedRoot = fs.makeQualified(root).toString
    val dirs =
      if (cfg.partitionCols.isEmpty) Seq(root)
      else StagedSwap.units(fs, root, cfg.partitionCols.size).map(_.getPath)
    // (predicate, target file count) per oversized partition dir
    val oversized = dirs
      .map(d => d -> StagedSwap.units(fs, d, 0))
      .filter(_._2.size > maxFilesPerPartition)
      .map { case (dir, files) =>
        val rel = fs.makeQualified(dir).toString.stripPrefix(qualifiedRoot).stripPrefix("/")
        val pred = if (rel.isEmpty) lit(true) else rel.split("/").map { seg =>
          val Array(k, v) = seg.split("=", 2)
          if (v == "__HIVE_DEFAULT_PARTITION__") col(k).isNull
          else col(k) === lit(ExternalCatalogUtils.unescapePathName(v))
        }.reduce(_ && _)
        pred -> math.max(1, math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
      }
    if (oversized.isEmpty) return 0
    readTable(spark, cfg.path).foreach { t =>
      // output file j of partition i is exchange slot base_i + j, so no
      // two files share a task and each partition lands as exactly n_i
      // files
      val bases = oversized.scanLeft(0)(_ + _._2)
      lazy val rowHash = xxhash64( // map columns are not hashable
        t.schema.fields.filterNot(f => holdsMap(f.dataType)).map(f => col(f.name)).toSeq: _*)
      val branches = oversized.zip(bases).map { case ((pred, n), base) =>
        pred -> (if (n == 1) lit(base) else (lit(base) + pmod(rowHash, lit(n))).cast("int"))
      }
      val slot = branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (w, (pred, s)) => w.when(pred, s)
      }
      writeStaged(spark, cfg,
        t.filter(oversized.map(_._1).reduce(_ || _)).repartitionById(bases.last, slot))
    }
    oversized.size
  }

  private def holdsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => holdsMap(a.elementType)
    case s: StructType => s.fields.exists(f => holdsMap(f.dataType))
    case _ => false
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

  /** Crash-atomic write of `df` into the table at `cfg.path`: ONE
    * [[StagedSwap]] commit that stages `df` with the target's partition
    * layout and swaps in the partitions it produced — removing, in the
    * same transaction, the `removeCandidates` partitions that received
    * no rows (how [[apply]] drops emptied partitions). An unpartitioned
    * table swaps its whole data-file set; an empty `df` stages one
    * empty data file that keeps the schema.
    *
    * A registered table's catalog entry then follows the commit
    * ([[syncCatalog]]).
    */
  private def writeStaged(
      spark: SparkSession,
      cfg: TableConfig,
      df: DataFrame,
      removeCandidates: Array[Row] = Array.empty): Unit = {
    val root = new Path(cfg.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Deliberately NO repartition-on-write for a merge: routing rows to
    // one task per partition value (plain or REBALANCE-hinted) costs an
    // extra shuffle per micro-batch that measured 25-40% ingest-rate
    // regression at small batch sizes, while AQE already coalesces the
    // merge aggregation's output shuffle. File-count growth is handled
    // out of band by [[compact]] (the OPTIMIZE model: one call is one
    // such write and one commit for every oversized partition), which
    // [[graft.streaming.MicroBatchMerger]] can invoke on a cadence.
    val touched = StagedSwap.overwritePartitions(spark, cfg.path, df, cfg.partitionCols,
      removed = staged =>
        if (cfg.partitionCols.isEmpty)
          StagedSwap.units(fs, root, 0).map(_.getPath.getName).filterNot(staged.contains)
        else {
          val removed = removeCandidates.map(partitionRel(cfg.partitionCols, _))
            .filterNot(staged.contains).toSeq
          // partitions this swap removes leave the session memo, so a
          // future re-add of the same partition goes back through the
          // catalog ALTER (eviction is safe even if the swap fails: a
          // memo miss only costs one redundant idempotent ALTER)
          if (removed.nonEmpty)
            SessionScopedCache.get[java.util.Map[String, java.lang.Boolean]](spark, partitionsKey(cfg))
              .foreach(known => removed.foreach(known.remove))
          removed
        })
    // the committed schema is the table's new unified read schema
    // (see schemaKey): steady-state reads skip the footer sweep
    val committed = nullableOf(df.schema)
    SessionScopedCache.put(spark, schemaKey(cfg.path), committed)
    syncCatalog(spark, cfg, committed, if (cfg.partitionCols.isEmpty) Nil else touched)
  }
}
