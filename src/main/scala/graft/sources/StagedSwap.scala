package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The rename-aside staged-swap protocol shared by the persisted-store
  * lifecycles (BM25 vacuum/rewrite, streaming-curation counters):
  * write the replacement to `<live>__stage`, mark the stage complete
  * with a root sentinel, rename live → `<live>__old`, rename stage →
  * live, delete old. Unlike delete-then-rename, NO window leaves the
  * store without a complete copy under a recoverable name: a crash
  * before the live→old rename leaves live; between the two renames it
  * leaves old AND stage (both complete); after it leaves live.
  * [[recover]] heals each state mechanically. On object stores rename
  * is copy+delete rather than atomic — the protocol still never
  * deletes the last complete copy, but a reader racing the writer can
  * observe a partially copied live dir; single-writer stores (these
  * lifecycles' contract) are unaffected.
  *
  * Every rename/delete is CHECKED: HDFS-style FileSystems report most
  * failures by returning false, not throwing, and a swallowed false
  * breaks the protocol invariant silently — a failed live→old leaves
  * stage→live failing too (dst exists) while the caller proceeds as if
  * swapped, and in recovery a failed old→live followed by delete(old)
  * would destroy the last complete copy. A false here is an
  * [[IOException]] so callers abort instead of continuing.
  */
private[graft] object StagedSwap {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Stage-root completion sentinel, written by [[rotateIn]] itself
    * AFTER the whole write body returns. Job-commit `_SUCCESS` markers
    * cannot gate promotion: a multi-dataset body commits each dataset
    * with its own nested marker, so a crash after the FIRST dataset
    * leaves a marker on a partial stage; and a deployment with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` writes
    * none at all. The sentinel is independent of the committer config
    * and appears only once nothing more will be written — exactly the
    * "this stage may become live" fact promotion needs.
    */
  private[graft] val completionSentinel = "_GRAFT_STAGE_COMPLETE"

  /** The checked rename, shared with the MergeEngine commit protocol. */
  private[graft] def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IOException(s"rename($src, $dst) returned false — " +
        "aborting the swap; the data is intact under its pre-step name")

  /** The checked recursive delete; a missing path is already deleted. */
  private[graft] def deleteOrThrow(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new IOException(s"delete($p) returned false")

  /** A stage dir is promotable only when its write body COMPLETED —
    * i.e. [[rotateIn]] reached the point of writing the root
    * [[completionSentinel]]. A stage without it is partial BY
    * DEFINITION of the protocol (the sentinel write is the first thing
    * after the body returns), no matter what `_SUCCESS` markers its
    * subdirectories carry.
    */
  private def stageComplete(fs: FileSystem, stage: Path): Boolean =
    fs.exists(new Path(stage, completionSentinel))

  /** Clear a leftover stage dir. An UNPROMOTABLE stage that might be
    * the only surviving data (no live, no old) is never silently
    * destroyed: it is renamed aside to `<live>__quarantine` for a
    * human to inspect — promoting it could serve a partial table, and
    * deleting it could destroy the sole remnant of a failed first
    * write. If a previous quarantine already exists, the older one is
    * kept (it is closer to the last known-good state) and the new
    * stage is dropped.
    */
  private def clearStage(fs: FileSystem, live: Path, stage: Path): Unit = {
    if (!fs.exists(stage)) return
    if (!fs.exists(live) && !stageComplete(fs, stage)) {
      val quarantine = new Path(s"${live}__quarantine")
      if (fs.exists(quarantine)) {
        log.warn(s"StagedSwap: dropping incomplete stage $stage; an earlier " +
          s"quarantine $quarantine already preserves a prior remnant")
        deleteOrThrow(fs, stage)
      } else {
        log.warn(s"StagedSwap: live table $live is missing and stage $stage has no " +
          s"completion sentinel — quarantining it as $quarantine instead of " +
          "promoting (possibly partial) or deleting (possibly the only copy)")
        renameOrThrow(fs, stage, quarantine)
      }
    } else deleteOrThrow(fs, stage)
  }

  /** Swap `livePath` for whatever `write` produces at the stage path.
    * Heals any prior crash state first ([[recover]]) — in particular a
    * complete-but-unrotated stage is PROMOTED before the body runs, so
    * a read-modify-write body (BM25 absorb) reads the most recent
    * complete data, not a stale or missing live.
    */
  def rotateIn(spark: SparkSession, livePath: String)(write: String => Unit): Unit = {
    recover(spark, livePath)
    val live = new Path(livePath)
    val stage = new Path(s"${livePath}__stage")
    val old = new Path(s"${livePath}__old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    write(stage.toString)
    // the completion sentinel: the body returned, nothing more will be
    // written under the stage — only now may a recovery promote it
    fs.create(new Path(stage, completionSentinel), false).close()
    if (fs.exists(live)) renameOrThrow(fs, live, old)
    renameOrThrow(fs, stage, live)
    deleteOrThrow(fs, new Path(live, completionSentinel))
    deleteOrThrow(fs, old)
  }

  /** Heal a table a crashed [[rotateIn]] left mid-rotation: restore
    * `__old` (or, failing that, a COMPLETE `__stage` — the root
    * [[completionSentinel]] present) to live when live is missing,
    * then clear stray stage/old dirs. A stage that is neither
    * promotable nor redundant (live and old both missing) is
    * quarantined, never deleted or promoted. Idempotent; a no-op on a
    * healthy table.
    */
  def recover(spark: SparkSession, livePath: String): Unit = {
    val live = new Path(livePath)
    val stage = new Path(s"${livePath}__stage")
    val old = new Path(s"${livePath}__old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(old)) renameOrThrow(fs, old, live)
    else if (!fs.exists(live) && fs.exists(stage) && stageComplete(fs, stage)) {
      renameOrThrow(fs, stage, live)
      // the sentinel is protocol metadata, not table data: drop it
      // from the promoted live dir (parquet readers ignore _-prefixed
      // files, but the manifest/stats surfaces should not see it)
      deleteOrThrow(fs, new Path(live, completionSentinel))
    }
    clearStage(fs, live, stage); deleteOrThrow(fs, old)
  }
}
