package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import graft.operators.Bm25
import graft.sources.StagedSwap

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.functions.col

import scala.jdk.CollectionConverters._

/** Crash states of the [[StagedSwap]] commit protocol through its
  * full-replace form [[StagedSwap.rotateIn]]: whatever a killed
  * rotation leaves behind must heal back to the complete previous
  * table — a stage is never promoted — and a crashed BM25 store must
  * load and rewrite transparently again. (Every store × failpoint is
  * covered by MergeEngineSpec's kill-point harness.)
  */
class StagedSwapSpec extends SparkSpec {
  import spark.implicits._

  private def writeTable(path: String, tag: String): Unit =
    Seq((1L, tag), (2L, tag)).toDF("id", "v")
      .repartition(1).write.mode("overwrite").parquet(path)

  private def readTag(path: String): String =
    spark.read.parquet(path).select(col("v")).distinct().as[String].collect().head

  test("rotateIn swaps content and leaves no stage/old dirs") {
    val live = tmpDir("swap") + "/t"
    writeTable(live, "v1")
    StagedSwap.rotateIn(spark, live)(stage => writeTable(stage, "v2"))
    assert(readTag(live) == "v2")
    assert(KillPoints.debris(live).isEmpty, KillPoints.debris(live).mkString(","))
  }

  test("crash mid-write (partial stage, live intact): recover keeps live, drops stage") {
    val live = tmpDir("swap") + "/t"
    writeTable(live, "v1")
    // the writer dies inside its write body: a partial stage, no manifest
    intercept[KillPoints.InjectedCrash](StagedSwap.rotateIn(spark, live) { stage =>
      writeTable(stage, "partial")
      throw new KillPoints.InjectedCrash("write")
    })
    assert(KillPoints.debris(live) == Seq("t__staging"))
    assert(!StagedSwap.recover(spark, live), "nothing was swapped, nothing to roll back")
    assert(readTag(live) == "v1")
    assert(KillPoints.debris(live).isEmpty)
  }

  test("crash between the renames (old + complete stage, live missing): recover restores old") {
    val live = tmpDir("swap") + "/t"
    writeTable(live, "v1")
    KillPoints.crashingAt("backed-up")(StagedSwap.rotateIn(spark, live)(stage => writeTable(stage, "v2")))
    val dataLeft = new java.io.File(live).listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(dataLeft.isEmpty, s"live data survived its backup: ${dataLeft.mkString(",")}")
    assert(StagedSwap.recover(spark, live))
    // the backup is the committed copy; the complete staged v2 is dropped
    assert(readTag(live) == "v1")
    assert(KillPoints.debris(live).isEmpty)
  }

  test("crash after stage->live (old lingering): recover keeps new live, clears old") {
    val live = tmpDir("swap") + "/t"
    writeTable(live, "v2")
    // a kill after the commit point (manifest deleted) leaves the
    // backup and staging dirs behind
    writeTable(s"${live}__backup", "v1")
    writeTable(s"${live}__staging", "v2")
    assert(!StagedSwap.recover(spark, live), "a committed swap is not rolled back")
    assert(readTag(live) == "v2")
    assert(KillPoints.debris(live).isEmpty)
  }

  test("markers disabled (marksuccessfuljobs=false): swaps, and a kill rolls back") {
    val live = tmpDir("swap") + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    try {
      // the protocol never reads committer markers
      StagedSwap.rotateIn(spark, live)(stage => writeTable(stage, "v1"))
      assert(!Files.exists(Paths.get(live, "_SUCCESS")))
      assert(readTag(live) == "v1")
      KillPoints.crashingAt("mid-swap")(StagedSwap.rotateIn(spark, live)(stage => writeTable(stage, "v2")))
      assert(StagedSwap.recover(spark, live))
      assert(readTag(live) == "v1")
      assert(KillPoints.debris(live).isEmpty)
    } finally conf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
  }

  test("rotateIn heals a complete orphaned stage BEFORE its body reads live") {
    val live = tmpDir("swap") + "/t"
    writeTable(live, "v1")
    // prior run died with a complete stage and live backed up
    KillPoints.crashingAt("backed-up")(StagedSwap.rotateIn(spark, live)(stage => writeTable(stage, "v2")))
    // a read-modify-write body must see the restored v1, not a missing table
    var sawLive: String = null
    StagedSwap.rotateIn(spark, live) { stage =>
      sawLive = readTag(live)
      writeTable(stage, "v3")
    }
    assert(sawLive == "v1")
    assert(readTag(live) == "v3")
  }

  test("recover is idempotent and a no-op on a healthy table") {
    val live = tmpDir("swap") + "/t"
    writeTable(live, "v1")
    assert(!StagedSwap.recover(spark, live))
    assert(!StagedSwap.recover(spark, live))
    assert(readTag(live) == "v1")
  }

  test("rotateIn self-heals a table crashed between renames before swapping") {
    val live = tmpDir("swap") + "/t"
    writeTable(live, "v1")
    KillPoints.crashingAt("mid-swap")(StagedSwap.rotateIn(spark, live)(stage => writeTable(stage, "v2")))
    StagedSwap.rotateIn(spark, live)(stage => writeTable(stage, "v3"))
    assert(readTag(live) == "v3")
    assert(KillPoints.debris(live).isEmpty)
  }

  private def bm25Corpus = Seq(
    (1L, "spark catalyst optimizer rules"),
    (2L, "parquet row groups and pages"),
    (3L, "catalyst expression codegen")).toDF("id", "text")

  private def search(idx: Bm25.Index, q: String): Seq[Long] =
    Bm25.search(idx, Seq(q), 3).select(col("id")).as[Long].collect().toSeq

  test("Bm25.load transparently heals a store crashed between renames") {
    val path = tmpDir("bm25-crash") + "/store"
    Bm25.save(Bm25.build(bm25Corpus, "id", "text"), path, prefixBuckets = 4)
    Bm25.retractFromSaved(spark, path, Seq(3L).toDF("id"), "id")
    val want = search(Bm25.load(spark, path), "catalyst")
    assert(want == Seq(1L))
    // the vacuum dies with postings swapped in and docs still backed up
    KillPoints.crashingAt("mid-swap")(Bm25.vacuumSaved(spark, path))
    assert(!Files.exists(Paths.get(s"$path/docs")))
    val healed = search(Bm25.load(spark, path), "catalyst")
    assert(healed == want, s"healed store searched differently: $healed vs $want")
    assert(Files.exists(Paths.get(s"$path/tombstones")), "the rolled-back vacuum kept its tombstones")
    assert(KillPoints.debris(path).isEmpty)
  }

  test("Bm25.vacuumSaved and absorbIntoSaved heal a crashed store before reading it") {
    val path = tmpDir("bm25-crash") + "/store"
    Bm25.save(Bm25.build(bm25Corpus, "id", "text"), path, prefixBuckets = 4)
    Bm25.retractFromSaved(spark, path, Seq(2L).toDF("id"), "id")
    KillPoints.crashingAt("backed-up")(Bm25.vacuumSaved(spark, path))
    Bm25.vacuumSaved(spark, path) // would throw path-not-found unhealed
    val afterVacuum = search(Bm25.load(spark, path), "catalyst")
    assert(afterVacuum.nonEmpty)
    assert(!Files.exists(Paths.get(s"$path/tombstones")))
    // re-absorbing a retracted id rewrites postings, docs and tombstones
    // in one commit; kill it with all three backed up
    Bm25.retractFromSaved(spark, path, Seq(3L).toDF("id"), "id")
    val reuse = Seq((3L, "fresh catalyst document")).toDF("id", "text")
    KillPoints.crashingAt("backed-up")(Bm25.absorbIntoSaved(spark, path, reuse, "id", "text"))
    Bm25.absorbIntoSaved(spark, path, reuse, "id", "text")
    val afterAbsorb = search(Bm25.load(spark, path), "catalyst")
    assert(afterAbsorb.contains(3L), s"absorbed doc missing: $afterAbsorb")
    assert(KillPoints.debris(path).isEmpty)
  }

  /** Relative dir -> permission bits, and (kind, permission bits) of
    * every file, where the kind is `parquet`, `crc` or the file name. */
  private def tree(root: String): (Map[String, String], Seq[(String, String)]) = {
    val base = Paths.get(root)
    val paths = Files.walk(base).iterator().asScala.toSeq
    def perms(p: java.nio.file.Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val (dirs, files) = paths.partition(Files.isDirectory(_))
    (dirs.map(d => base.relativize(d).toString -> perms(d)).toMap,
      files.map { f =>
        val name = f.getFileName.toString
        val kind = if (name.endsWith(".crc")) "crc" else if (name.endsWith(".parquet")) "parquet" else name
        kind -> perms(f)
      }.sorted)
  }

  /** The commands of the processes `body` starts on executor task threads. */
  private def taskThreadForks(body: => Unit): Seq[String] = {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try body finally recording.stop()
    val dump = Files.createTempFile(Paths.get(tmpDir("jfr")), "forks", ".jfr")
    recording.dump(dump)
    recording.close()
    RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(e => Option(e.getThread).exists(_.getJavaName.startsWith("Executor task launch")))
      .map(_.getString("command"))
  }

  private lazy val partitioned = spark.range(0, 3000, 1, 4).select(col("id"), (col("id") % 3).as("p"))

  test("a staged write leaves a plain parquet write's tree, files and permission bits, forking nothing") {
    val plain = tmpDir("plain-write") + "/t"
    val plainForks = taskThreadForks(partitioned.write.partitionBy("p").parquet(plain))
    val staged = tmpDir("staged-write") + "/t"
    val stagedForks = taskThreadForks(StagedSwap.writeStage(spark, partitioned, Seq("p"), staged))
    val (plainDirs, plainFiles) = tree(plain)
    assert(plainDirs.size == 4 && plainFiles.count(_._1 == "parquet") >= 3)
    assert(tree(staged) == ((plainDirs, plainFiles)))
    assert(stagedForks.isEmpty, stagedForks.mkString("\n"))
    // without libhadoop the plain write runs chmod per file on its tasks
    if (!NativeIO.isAvailable) assert(plainForks.exists(_.contains("chmod")))
  }

  test("a session's own fs.file.impl is kept for the staged write") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = tmpDir("recording-fs") + "/t"
    RecordingLocalFs.permissionsSet.clear()
    conf.set("fs.file.impl", classOf[RecordingLocalFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try StagedSwap.overwritePartitions(spark, root, partitioned, Seq("p"))
    finally { conf.unset("fs.file.impl"); conf.unset("fs.file.impl.disable.cache") }
    val recorded = RecordingLocalFs.permissionsSet.asScala.toSeq
    assert(recorded.exists(p => p.contains("__staging") && p.endsWith(".parquet")), recorded.mkString("\n"))
    assert(recorded.exists(_.endsWith("_graft_txn.json.tmp")), "the manifest bypassed the session's file system")
    assert(spark.read.parquet(root).count() == 3000L)
  }
}

/** A local file system that records every path it sets a permission on. */
class RecordingLocalFs extends LocalFileSystem(new RecordingLocalFs.Raw)

object RecordingLocalFs {
  val permissionsSet = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      permissionsSet.add(p.toString)
      super.setPermission(p, permission)
    }
  }
}
