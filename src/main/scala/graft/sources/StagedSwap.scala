package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol of every staged store — MergeEngine tables,
  * compaction layouts, and every persisted store through the store
  * layer ([[Store.write]]: BM25, aggregate, sketch, word, cluster,
  * dedup, media-hash, IVF/PQ/k-means, n-gram LM, file-manifest and
  * curation stores, one commit per store operation). It plays the
  * role Delta's transaction log plays for the reference's per-batch
  * MERGE (reference: src/kafka2delta/stream/stream.py:114-148): a
  * write is visible completely or not at all, and a crashed write is
  * rolled back so the replayed batch re-applies idempotently.
  *
  * A store is a `root` dir whose UNITS are paths relative to it — a
  * partition dir, a data file, a store table dir. [[commit]] replaces
  * some units and removes others in one transaction:
  *   1. stage — the caller writes the replacement units to the fixed
  *      sibling `<root>__staging`, laid out like `root`;
  *   2. manifest — `_graft_txn.json` inside `root` (invisible to
  *      parquet scans) records the touched and removed units and which
  *      of them exist (tmp + rename, so a partial manifest is never
  *      live);
  *   3. backup — each existing unit is renamed into `<root>__backup`;
  *   4. swap — each staged unit is renamed into place;
  *   5. commit — deleting the manifest is the commit point; the backup
  *      and staging dirs are then removed.
  * Untouched units are never read or written. [[recover]] (run by
  * every store reader and before every commit) decides by the
  * manifest alone: a crash before step 2 leaves a stage it drops — a
  * stage is never promoted; a crash in steps 2-4 is rolled back
  * bit-for-bit; a crash after the commit point leaves debris it clears.
  * Single writer per root, like the reference's one streaming query
  * per table. On object stores rename is copy+delete, so a reader
  * racing the writer can observe a partially copied unit.
  *
  * Every rename/delete is CHECKED: HDFS-style FileSystems report most
  * failures by returning false, not throwing, and a swallowed false
  * would let the protocol run its later steps against a state that
  * does not exist — or, in recovery, delete a backup it failed to
  * restore. A false here is an [[IOException]] so the caller aborts.
  */
private[graft] object StagedSwap {

  private val ManifestName = "_graft_txn.json"

  /** Roots with a commit IN FLIGHT in this JVM. Staging and a manifest
    * on disk mean either an abandoned transaction (crashed writer —
    * roll it back) or a LIVE one (rolling that back would delete dirs
    * under the writer's feet). In the single-writer model the two are
    * distinguishable per process: [[recover]] is a no-op while the
    * writer is registered here. Cross-process concurrent access
    * remains out of scope (see SCALE.md).
    */
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test-only crash injection: [[commit]] invokes this hook at the
    * named protocol points ("staged", "manifest", "backed-up",
    * "mid-swap", "pre-commit"); a hook that throws simulates a kill at
    * that point. No-op in production.
    */
  private[graft] object Failpoints {
    @volatile var hook: String => Unit = _ => ()
  }

  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IOException(s"rename($src, $dst) returned false — " +
        "aborting the swap; the data is intact under its pre-step name")

  /** The checked recursive delete; a missing path is already deleted. */
  private def deleteOrThrow(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new IOException(s"delete($p) returned false")

  /** The durable record of an in-flight commit: written before the
    * first rename, deleted as the commit point. Its presence on
    * [[recover]] means "roll back".
    */
  private case class Manifest(
      touched: Seq[String], // units receiving staged data
      removed: Seq[String], // units removed with nothing staged
      existing: Seq[String]) // subset of touched ++ removed that pre-existed

  private object Manifest {
    import org.json4s._
    import org.json4s.jackson.{JsonMethods, Serialization}
    private implicit val fmt: Formats = DefaultFormats

    def write(fs: FileSystem, root: Path, m: Manifest): Unit = {
      val tmp = new Path(root, ManifestName + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(Serialization.write(m).getBytes("UTF-8"))
      finally out.close()
      renameOrThrow(fs, tmp, new Path(root, ManifestName))
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

  /** Whether `p` is on the local file system as the `file` scheme
    * resolves by default — Hadoop's `LocalFileSystem`, or the proxy of
    * it that hive-exec registers for the scheme — which [[LocalFs]]
    * replaces. A session that names its own `fs.file.impl` keeps it.
    */
  private def isDefaultLocal(spark: SparkSession, p: Path): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.get("fs.file.impl") == null && p.getFileSystem(conf).getUri.getScheme == "file"
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!isDefaultLocal(spark, p)) p.getFileSystem(conf)
    else { val local = new LocalFs; local.initialize(p.getFileSystem(conf).getUri, conf); local }
  }

  /** The stage write of every commit: `df` as parquet at `dir`,
    * partitioned by `partCols`, replacing what is there. On the
    * default local file system the write's tasks and its committer run
    * on [[LocalFs]] (per-write Hadoop options, uncached so that no
    * other write's instance is reused).
    */
  private[graft] def writeStage(
      spark: SparkSession, df: DataFrame, partCols: Seq[String], dir: String): Unit = {
    val w = df.write.mode("overwrite")
    val local =
      if (!isDefaultLocal(spark, new Path(dir))) w
      else w.option("fs.file.impl", classOf[LocalFs].getName).option("fs.file.impl.disable.cache", "true")
    (if (partCols.nonEmpty) local.partitionBy(partCols: _*) else local).parquet(dir)
  }

  /** Replace units of the store at `root` in one transaction. `stage`
    * writes the replacement units under the staging dir it is handed
    * and returns `(touched, removed)`: the staged units to swap in, and
    * the live units to drop with nothing staged in their place. The
    * writer is registered in flight from the stage write on, so a
    * reader's [[recover]] never drops a stage being written. Heals a
    * prior crash first. Returns the touched units.
    */
  def commit(spark: SparkSession, root: String)(
      stage: String => (Seq[String], Seq[String])): Seq[String] = {
    recover(spark, root)
    val live = new Path(root)
    val staging = new Path(s"${root}__staging")
    val backup = new Path(s"${root}__backup")
    val fs = fsOf(spark, live)
    inFlight.add(live.toString)
    // no tidy on failure: whatever a failed commit leaves is evidence
    // for the next recover, exactly as after a kill
    try {
      val (touched, removed) = stage(staging.toString)
      Failpoints.hook("staged")
      val existing = (touched ++ removed).filter(u => fs.exists(new Path(live, u)))
      if (touched.nonEmpty || existing.nonEmpty) {
        fs.mkdirs(live) // first write on a brand-new root
        Manifest.write(fs, live, Manifest(touched, removed, existing))
        Failpoints.hook("manifest")
        existing.foreach { u =>
          val dst = new Path(backup, u)
          fs.mkdirs(dst.getParent)
          renameOrThrow(fs, new Path(live, u), dst)
        }
        Failpoints.hook("backed-up")
        touched.zipWithIndex.foreach { case (u, i) =>
          val dst = new Path(live, u)
          fs.mkdirs(dst.getParent)
          renameOrThrow(fs, new Path(staging, u), dst)
          if (i == 0) Failpoints.hook("mid-swap")
        }
        Failpoints.hook("pre-commit")
        deleteOrThrow(fs, new Path(live, ManifestName)) // the commit point
      }
      deleteOrThrow(fs, backup)
      deleteOrThrow(fs, staging)
      touched
    } finally { inFlight.remove(live.toString); () }
  }

  /** Heal the store at `root`: roll back an uncommitted transaction —
    * units already backed up are restored over whatever the swap put
    * in their place, units the swap never reached are untouched, new
    * units it renamed in are deleted — then drop the staging and backup
    * dirs and the manifest. Returns true when a rollback was performed.
    * Idempotent, so a crash mid-recovery is healed by re-running; a
    * no-op on a healthy store and while this JVM's writer is in flight.
    */
  def recover(spark: SparkSession, root: String): Boolean = {
    val live = new Path(root)
    if (inFlight.contains(live.toString)) return false
    val fs = fsOf(spark, live)
    val manifest = new Path(live, ManifestName)
    val backup = new Path(s"${root}__backup")
    val rolledBack = fs.exists(manifest) && {
      val m = Manifest.read(fs, manifest)
      (m.touched ++ m.removed).distinct.foreach { u =>
        val unit = new Path(live, u)
        val saved = new Path(backup, u)
        if (fs.exists(saved)) {
          deleteOrThrow(fs, unit)
          fs.mkdirs(unit.getParent)
          renameOrThrow(fs, saved, unit)
        } else if (!m.existing.contains(u)) deleteOrThrow(fs, unit)
        // else: the original is still in place — the swap never reached it
      }
      true
    }
    // a refused restore above threw: the backup is still the only copy
    deleteOrThrow(fs, new Path(s"${root}__staging"))
    deleteOrThrow(fs, backup)
    deleteOrThrow(fs, manifest)
    deleteOrThrow(fs, new Path(live, ManifestName + ".tmp"))
    rolledBack
  }

  /** Full replace: the store becomes exactly what `write` puts at the
    * stage path — every staged top-level entry is swapped in and every
    * live entry not staged is removed.
    */
  def rotateIn(spark: SparkSession, root: String)(write: String => Unit): Unit = {
    val fs = fsOf(spark, new Path(root))
    def entries(dir: String): Seq[String] =
      if (!fs.exists(new Path(dir))) Seq.empty
      else fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
    commit(spark, root) { staging =>
      write(staging)
      val touched = entries(staging)
      (touched, entries(root).filterNot(touched.contains))
    }
    ()
  }

  /** Stage `df` partitioned by `partCols` and swap in exactly the units
    * it produced — its partition dirs, or with no partition columns its
    * data files — removing `removed(touched)` in the same transaction:
    * the staged-partition write of MergeEngine tables. Returns the
    * touched units.
    */
  def overwritePartitions(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      partCols: Seq[String],
      removed: Seq[String] => Seq[String] = _ => Nil): Seq[String] =
    commit(spark, root) { staging =>
      writeStage(spark, df, partCols, staging)
      val fs = fsOf(spark, new Path(staging))
      val base = fs.makeQualified(new Path(staging)).toString
      val touched = units(fs, new Path(staging), partCols.size)
        .map(u => fs.makeQualified(u.getPath).toString.stripPrefix(base).stripPrefix("/"))
      (touched, removed(touched))
    }

  /** The leaf partition dirs `depth` levels below `dir`; at depth 0 its
    * parquet data files.
    */
  private[graft] def units(fs: FileSystem, dir: Path, depth: Int): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else if (depth == 0)
      fs.listStatus(dir).toSeq.filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    else {
      val dirs = fs.listStatus(dir).toSeq.filter(_.isDirectory)
      if (depth == 1) dirs else dirs.flatMap(d => units(fs, d.getPath, depth - 1))
    }
}
