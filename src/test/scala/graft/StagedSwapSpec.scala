package graft

import java.nio.file.{Files, Paths}

import graft.operators.Bm25
import graft.sources.StagedSwap

import org.apache.spark.sql.functions.col

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
}
