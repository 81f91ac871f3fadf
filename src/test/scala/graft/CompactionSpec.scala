package graft

import graft.operators.Compaction

import org.apache.spark.sql.functions._

/** The compaction planner's group algebra (running-sum cuts, big-file
  * keeps, partition isolation) and the one-job StagedSwap-atomic
  * rewrite over a REAL multi-file parquet layout.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private val target = 1000L

  private def inventory = Seq(
    // part "a": four small files -> one full group + a trailing pair
    ("a", "f01", 400L), ("a", "f02", 400L), ("a", "f03", 400L),
    ("a", "f04", 300L),
    // part "a": one big file -> keep
    ("a", "f05", 1500L),
    // part "b": a lone small file -> trailing singleton, keep
    ("b", "f06", 200L),
    // part "b": two big files -> keep, distinct negative groups
    ("b", "f07", 1000L), ("b", "f08", 4000L))
    .toDF("part", "file", "bytes")

  test("plan: running-sum cuts, big-file keeps, and the trailing singleton") {
    val planned = Compaction.plan(inventory, "part", "file", "bytes", target)
      .collect().map(r => r.getString(1) ->
        (r.getString(0), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // cum before: f01 0, f02 400, f03 800, f04 1200 -> groups 0,0,0,1
    assert(planned("f01") == ("a", 400L, 0L, "rewrite"))
    assert(planned("f02") == ("a", 400L, 0L, "rewrite"))
    assert(planned("f03") == ("a", 400L, 0L, "rewrite"))
    assert(planned("f04") == ("a", 300L, 1L, "keep")) // singleton group
    assert(planned("f05") == ("a", 1500L, -1L, "keep"))
    assert(planned("f06") == ("b", 200L, 0L, "keep"))
    assert(planned("f07") == ("b", 1000L, -1L, "keep"))
    assert(planned("f08") == ("b", 4000L, -2L, "keep"))
  }

  test("plan property: every rewrite group lands under target + largest member") {
    // adversarial sizes: primes mod the target so cuts land everywhere
    val files = (0 until 500).map { i =>
      (s"p${i % 7}", f"f$i%04d", (i * 137 % 999 + 1).toLong)
    }.toDF("part", "file", "bytes")
    val planned = Compaction.plan(files, "part", "file", "bytes", target)
    val groups = Compaction.groupSummary(planned, "part", "file", "bytes")
      .filter(col("action") === "rewrite").collect()
    assert(groups.nonEmpty)
    groups.foreach { g =>
      assert(g.getAs[Long]("total_bytes") < 2 * target,
        s"group ${g.mkString(",")} exceeds target + max member bound")
    }
    // groups never span partitions, and every non-trailing group fills
    // past the target (otherwise the next file would have joined it)
    val byPart = planned.filter(col("grp") >= 0)
      .groupBy("part").agg(max("grp").as("last"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Compaction.groupSummary(planned, "part", "file", "bytes")
      .filter(col("grp") >= 0).collect().foreach { g =>
        val (part, grp) = (g.getString(0), g.getLong(1))
        if (grp < byPart(part))
          assert(g.getAs[Long]("total_bytes") +
            999 /* max possible next-file size */ > target)
      }
  }

  test("plan is deterministic and integer-exact past double precision") {
    val p1 = Compaction.plan(inventory, "part", "file", "bytes", target).collect().toSet
    val p2 = Compaction.plan(inventory, "part", "file", "bytes", target).collect().toSet
    assert(p1 == p2)
    // byte ledgers beyond 2^53: a double-based cut would misplace these
    val huge = Seq(
      ("h", "g1", (1L << 60) - 3L), ("h", "g2", 5L))
      .toDF("part", "file", "bytes")
    val planned = Compaction.plan(huge, "part", "file", "bytes", 1L << 61)
      .collect().map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(planned("g1") == 0L && planned("g2") == 0L)
  }

  test("execute: one job rewrites each group into exactly one file, atomically") {
    val src = tmpDir("compact-src")
    // a real 8-file layout: two partitions x four files each
    (0L until 4000L).map(i => (i, s"p${i % 2}", s"row-$i"))
      .toDF("id", "pt", "payload")
      .repartition(8)
      .write.mode("overwrite").parquet(src)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(new org.apache.hadoop.fs.Path(src))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => ("all", st.getPath.toString, st.getLen))
      .toSeq.toDF("part", "file", "bytes")
    assert(listed.count() == 8)
    val bytesTotal = listed.agg(sum("bytes")).head.getLong(0)
    // target: half the table -> two-ish rewrite groups
    val planned = Compaction.plan(listed, "part", "file", "bytes", bytesTotal / 2)
    val out = tmpDir("compact-out") + "/layout"
    val nGroups = Compaction.execute(spark, planned, "part", "file", out)
    assert(nGroups >= 1)
    val rewritten = spark.read.parquet(out)
    // contents: exactly the rows of the rewrite-group source files
    val rewriteFiles = planned.filter(col("action") === "rewrite")
      .select("file").as[String].collect().toSeq
    val expected = spark.read.parquet(rewriteFiles: _*)
      .select("id").as[Long].collect().sorted.toSeq
    assert(rewritten.select("id").as[Long].collect().sorted.toSeq == expected)
    // exactly one data file per group
    val outFiles = rewritten.select(input_file_name().as("f"), col("__grp"))
      .groupBy("__grp").agg(countDistinct("f").as("n")).collect()
    assert(outFiles.nonEmpty && outFiles.forall(_.getLong(1) == 1L),
      s"groups split across files: ${outFiles.mkString(";")}")
    // the swap committed cleanly: live in place, no staging/backup
    // sibling and no manifest left
    assert(new java.io.File(out).isDirectory)
    assert(KillPoints.debris(out).isEmpty, KillPoints.debris(out).mkString(","))
  }

  test("execute with nothing to rewrite is a no-op") {
    val planned = Compaction.plan(inventory.filter(col("bytes") >= target),
      "part", "file", "bytes", target)
    assert(Compaction.execute(spark, planned, "part", "file",
      tmpDir("compact-noop") + "/layout") == 0L)
  }

  test("execute routes rows from paths containing '+' (no form-decode drift)") {
    // a partition value like UTC+8 puts a literal '+' in every file
    // path; url_decode's FORM semantics would decode it to a space and
    // the route join would silently drop every row of the partition
    // (r18 review) — the '+'-escape keeps the key identical to the
    // driver canon
    val root = tmpDir("compact-plus")
    val src = s"$root/zone=UTC+8"
    (0L until 600L).toDF("v").repartition(3).write.parquet(src)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(new org.apache.hadoop.fs.Path(src))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => ("UTC+8", st.getPath.toString, st.getLen))
      .toSeq.toDF("part", "file", "bytes")
    assert(listed.count() == 3)
    val planned = Compaction.plan(listed, "part", "file", "bytes",
      listed.agg(sum("bytes")).head.getLong(0) * 2)
    assert(planned.filter(col("action") === "rewrite").count() == 3)
    val out = s"$root/out"
    assert(Compaction.execute(spark, planned, "part", "file", out) == 1L)
    assert(spark.read.parquet(out).count() == 600L)
  }

  test("execute fails loudly on an unroutable row instead of dropping it") {
    // a glob character in an inventory entry makes spark.read expand
    // it to files the route table has never heard of — every such row
    // previously fell out of the inner join SILENTLY (an empty or
    // shrunken compaction that still reported success); with the
    // left-join + raise_error contract the job dies naming the path
    val root = tmpDir("compact-drift")
    val src = s"$root/data"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    (0L until 100L).toDF("v").coalesce(1).write.parquet(s"$root/stage1")
    (100L until 200L).toDF("v").coalesce(1).write.parquet(s"$root/stage2")
    fs.mkdirs(new org.apache.hadoop.fs.Path(src))
    def onlyParquet(dir: String): org.apache.hadoop.fs.FileStatus =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet")).head
    fs.rename(onlyParquet(s"$root/stage1").getPath,
      new org.apache.hadoop.fs.Path(s"$src/aa.parquet"))
    fs.rename(onlyParquet(s"$root/stage2").getPath,
      new org.apache.hadoop.fs.Path(s"$src/ab.parquet"))
    val inv = Seq(
      ("p", s"$src/aa.parquet", 400L),
      // the glob expands to ab.parquet, whose rows have no route
      ("p", s"$src/ab*.parquet", 400L))
      .toDF("part", "file", "bytes")
    val planned = Compaction.plan(inv, "part", "file", "bytes", 1L << 20)
    assert(planned.filter(col("action") === "rewrite").count() == 2)
    val e = intercept[Exception] {
      Compaction.execute(spark, planned, "part", "file", s"$root/out")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("unrouted")),
      s"expected the loud unrouted-row error, got: $e")
  }
}
