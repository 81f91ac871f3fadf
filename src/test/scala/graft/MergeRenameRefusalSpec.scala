package graft

import graft.config.TableConfig
import graft.operators.MergeEngine
import graft.sources.StagedSwap

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import java.io.{File, IOException}

/** The local file system under the `refusefs` scheme, whose renames fail
  * by returning false — the way HDFS-style file systems report most
  * failures — whenever [[RefusingRenameFs.refuse]] says so.
  */
class RefusingRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refusefs:///")
  override def rename(src: Path, dst: Path): Boolean =
    !RefusingRenameFs.refuse(src, dst) && super.rename(src, dst)
}

object RefusingRenameFs {
  @volatile var refuse: (Path, Path) => Boolean = (_, _) => false
}

/** The commit protocol checks every rename: a refused one stops
  * the transaction at that step instead of running the steps after it
  * against a state that does not exist.
  */
class MergeRenameRefusalSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.refusefs.impl", classOf[RefusingRenameFs].getName)

  private def refusing[T](when: (Path, Path) => Boolean)(body: => T): T = {
    RefusingRenameFs.refuse = when
    try body
    finally RefusingRenameFs.refuse = (_, _) => false
  }

  private def table(name: String): (String, TableConfig) = {
    val dir = tmpDir(s"merge-refuse-$name")
    (dir, TableConfig("graft_test", s"refuse_$name", s"refusefs://$dir/t", partitionCols = Seq("year")))
  }

  private def state(cfg: TableConfig): Map[Int, String] =
    MergeEngine.readTable(spark, cfg.path).get.select("id", "name").as[(Int, String)].collect().toMap

  private val b1 = Seq((1, "a", 2023, 10L), (2, "b", 2024, 11L))
  private val b2 = Seq((2, "B2", 2024, 20L), (3, "c", 2025, 21L))

  test("a refused backup rename aborts before the commit point; the table reads back unchanged") {
    val (_, cfg) = table("backup")
    MergeEngine.upsert(spark, cfg, b1.toDF("id", "name", "year", "lsn"), Seq("id"), "lsn")
    refusing((_, dst) => dst.toString.contains("/t__backup/")) {
      intercept[IOException](
        MergeEngine.upsert(spark, cfg, b2.toDF("id", "name", "year", "lsn"), Seq("id"), "lsn"))
    }
    assert(state(cfg) == Map(1 -> "a", 2 -> "b"))
    MergeEngine.upsert(spark, cfg, b2.toDF("id", "name", "year", "lsn"), Seq("id"), "lsn")
    assert(state(cfg) == Map(1 -> "a", 2 -> "B2", 3 -> "c"))
  }

  test("a refused restore rename during recovery keeps the backup dir") {
    val (dir, cfg) = table("restore")
    MergeEngine.upsert(spark, cfg, b1.toDF("id", "name", "year", "lsn"), Seq("id"), "lsn")
    KillPoints.crashingAt("backed-up")(
      MergeEngine.upsert(spark, cfg, b2.toDF("id", "name", "year", "lsn"), Seq("id"), "lsn"))
    def backedUp: Seq[File] = Option(new File(s"$dir/t__backup/year=2024").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    assert(backedUp.nonEmpty, "the crash did not leave the partition in the backup dir")

    refusing((src, _) => src.toString.contains("/t__backup/")) {
      intercept[IOException](StagedSwap.recover(spark, cfg.path))
    }
    assert(backedUp.nonEmpty, "recovery deleted the backup it could not restore")

    assert(StagedSwap.recover(spark, cfg.path))
    assert(state(cfg) == Map(1 -> "a", 2 -> "b"))
  }
}
