package graft

import graft.operators.ZOrder
import graft.sources.FileManifest

import org.apache.spark.sql.functions._

/** Footer-derived file statistics must equal a full data scan, and
  * pruning on them must be lossless and, over a z-ordered layout,
  * actually skip files.
  */
class FileManifestSpec extends SparkSpec {
  import spark.implicits._

  test("manifest stats equal a data-scan recomputation, multi-file") {
    val path = tmpDir("manifest-basic")
    (0L until 1000L).map(i => (i, i * 13 % 101)).toDF("a", "b")
      .repartition(4).write.mode("overwrite").parquet(path)
    val manifest = FileManifest.build(spark, path, Seq("a", "b"))
    val byScan = spark.read.parquet(path)
      .select(input_file_name().as("file"), col("a"), col("b"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("a")).as("min_a"), max(col("a")).as("max_a"),
        min(col("b")).as("min_b"), max(col("b")).as("max_b"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val byFooter = manifest.collect()
      .groupBy(_.getString(0)).map { case (f, rows) =>
        val m = rows.map(r => r.getString(1) -> (r.getLong(3), r.getLong(4))).toMap
        f -> (rows.head.getLong(2), m("a")._1, m("a")._2, m("b")._1, m("b")._2)
      }
    assert(byFooter.size == 4)
    // input_file_name gives file:// URIs or plain paths depending on
    // the scheme — compare on the basename
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    assert(byFooter.map { case (f, v) => base(f) -> v } ==
      byScan.map { case (f, v) => base(f) -> v },
      s"footer stats diverged from scan")
    // null accounting
    assert(manifest.agg(sum(col("n_nulls"))).head().getLong(0) == 0L)
  }

  test("pruning a z-ordered layout is lossless and skips most files") {
    val grid = (for { x <- 0L until 64L; y <- 0L until 64L } yield (x, y))
      .toDF("x", "y")
    val path = tmpDir("manifest-zorder")
    ZOrder.writeZordered(grid, Seq("x", "y"), path, bits = 6, numFiles = 16)
    val manifest = FileManifest.build(spark, path, Seq("x", "y"))
    assert(manifest.select(col("file")).distinct().count() == 16)
    for ((c, lo, hi) <- Seq(("x", 17L, 19L), ("y", 40L, 42L))) {
      val kept = FileManifest.pruneFiles(manifest, c, lo, hi)
        .as[String].collect().toSeq
      assert(kept.size <= 8, s"$c pruning weak: ${kept.size} of 16 files kept")
      val prunedRows = spark.read.parquet(kept: _*)
        .filter(col(c) >= lo && col(c) <= hi).count()
      val allRows = spark.read.parquet(path)
        .filter(col(c) >= lo && col(c) <= hi).count()
      assert(prunedRows == allRows && allRows == 3 * 64,
        s"pruning lost rows on $c: $prunedRows vs $allRows")
    }
  }

  test("files without stats for the column are conservatively kept") {
    val path = tmpDir("manifest-uncovered")
    (0L until 50L).map(i => (i, s"s$i")).toDF("a", "s")
      .coalesce(1).write.mode("overwrite").parquet(path)
    val manifest = FileManifest.build(spark, path, Seq("a"))
    // prune on a column the manifest has no rows for: everything kept
    val kept = FileManifest.pruneFiles(manifest, "missing", 0L, 1L).count()
    assert(kept == manifest.select(col("file")).distinct().count())
  }

  test("string bounds follow unsigned byte order and prune losslessly") {
    // three disjoint key ranges across three files, including
    // multi-byte UTF-8: 'é' = C3 A9 sorts ABOVE every ASCII key in
    // unsigned byte order (and below in none) — the order both
    // parquet stats and Spark string comparisons use
    val path = tmpDir("manifest-str")
    Seq("alpha", "beta", "gamma").zipWithIndex.foreach { case (_, i) =>
      val rows = i match {
        case 0 => Seq("alpha.com", "beta.org", "delta.net")
        case 1 => Seq("kappa.io", "lambda.dev", "mu.edu")
        case 2 => Seq("zeta.gov", "émile.fr", "école.fr")
      }
      rows.zipWithIndex.map { case (s, j) => (s, i * 10L + j) }.toDF("domain", "a")
        .coalesce(1).write.mode("append").parquet(path)
    }
    val manifest = FileManifest.build(spark, path, Seq("domain"))
    assert(manifest.filter(col("min_s").isNull).count() == 0,
      "valid-UTF8 string columns must carry bounds")
    // range [k, m): only the middle file overlaps
    val keptMid = FileManifest.pruneFilesString(manifest, "domain", "k", "mzz")
      .as[String].collect().toSeq
    assert(keptMid.size == 1, s"expected 1 file kept, got $keptMid")
    // range above all ASCII: only the é-file overlaps ('z' < 'é' unsigned)
    val keptHigh = FileManifest.pruneFilesString(manifest, "domain", "à", "ÿ")
      .as[String].collect().toSeq
    assert(keptHigh.size == 1, s"expected only the multi-byte file kept, got $keptHigh")
    // losslessness: pruned read == full-scan filter
    val got = FileManifest.readPrunedString(spark, manifest, "domain", "k", "mzz")
      .select(col("domain")).as[String].collect().toSet
    val want = spark.read.parquet(path)
      .filter(col("domain") >= "k" && col("domain") <= "mzz")
      .select(col("domain")).as[String].collect().toSet
    assert(got == want && want == Set("kappa.io", "lambda.dev", "mu.edu"))
  }

  test("non-roundtripping (invalid UTF-8) string stats null out; the file is kept") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir("manifest-badutf8")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary s (UTF8); required int64 a; }")
    val gf = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/bad.parquet"))
      .withType(schema)
      .build()
    // 0xF5 is never valid in UTF-8; String() decodes it to U+FFFD,
    // so a decoded max would COLLAPSE below the real byte value —
    // exactly the lossy-bound case that must fall back to "unknown"
    w.write(gf.newGroup()
      .append("s", Binary.fromConstantByteArray(Array[Byte](0xF5.toByte, 0x7A)))
      .append("a", 1L))
    w.write(gf.newGroup()
      .append("s", Binary.fromConstantByteArray("plain".getBytes("UTF-8")))
      .append("a", 2L))
    w.close()
    val manifest = FileManifest.build(spark, dir, Seq("s", "a"))
    val sRow = manifest.filter(col("column") === "s").head()
    assert(sRow.isNullAt(sRow.fieldIndex("min_s")) &&
      sRow.isNullAt(sRow.fieldIndex("max_s")),
      s"invalid-UTF8 stat bytes must yield null bounds, got $sRow")
    // null bounds ⇒ conservatively kept on ANY string range
    val kept = FileManifest.pruneFilesString(manifest, "s", "a", "b").count()
    assert(kept == 1L, "a file with unusable string stats must be kept")
    // integral stats on the same file still work
    val keptA = FileManifest.pruneFiles(manifest, "a", 5L, 9L).count()
    assert(keptA == 0L, "integral pruning should still drop the file")
  }

  test("fanned-out listing covers a nested partitioned layout") {
    val path = tmpDir("manifest-partitioned")
    (0L until 400L).map(i => (i, i % 4, s"d${i % 7}"))
      .toDF("a", "p", "domain")
      .repartition(2).write.mode("overwrite").partitionBy("p").parquet(path)
    val manifest = FileManifest.build(spark, path, Seq("a"))
    val listed = manifest.select(col("file")).distinct().as[String].collect().toSet
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val expected = walk(new java.io.File(path))
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    assert(listed.map(base) == expected.map(base) && expected.size >= 8,
      s"fanned listing diverged: ${listed.size} vs ${expected.size} files")
    // manifest row counts must sum to the table total
    assert(manifest.select(col("file"), col("n_rows")).distinct()
      .agg(sum(col("n_rows"))).head().getLong(0) == 400L)
  }

  test("persisted manifest lifecycle: incremental append == full rebuild; vacuum drops dead files") {
    val table = tmpDir("manifest-incr") + "/t"
    val mpath = tmpDir("manifest-incr") + "/m"
    // ingest 1: two files
    (0L until 100L).map(v => (v, v % 5)).toDF("a", "b")
      .repartition(2).write.mode("append").parquet(table)
    FileManifest.saveManifest(FileManifest.build(spark, table, Seq("a", "b")), mpath)
    // ingest 2: two more files; incremental maintenance stats ONLY them
    (100L until 200L).map(v => (v, v % 5)).toDF("a", "b")
      .repartition(2).write.mode("append").parquet(table)
    val statted = FileManifest.appendToManifest(spark, table, mpath, Seq("a", "b"))
    assert(statted == 2L, s"expected 2 new files statted, got $statted")
    // a second maintenance pass finds nothing new and writes nothing
    assert(FileManifest.appendToManifest(spark, table, mpath, Seq("a", "b")) == 0L)
    // incremental == full rebuild, row for row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(rows(FileManifest.loadManifest(spark, mpath)) ==
      rows(FileManifest.build(spark, table, Seq("a", "b"))),
      "incremental manifest diverged from a full rebuild")
    // pruned read through the SAVED manifest
    val got = FileManifest.readPruned(
      spark, FileManifest.loadManifest(spark, mpath), "a", 120L, 180L)
    assert(got.count() == 61L)
    // compaction: delete one file, vacuum drops its rows
    val victim = new java.io.File(table).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val dropped = FileManifest.vacuumManifest(spark, table, mpath)
    assert(dropped == 1L, s"expected 1 dead file dropped, got $dropped")
    assert(rows(FileManifest.loadManifest(spark, mpath)) ==
      rows(FileManifest.build(spark, table, Seq("a", "b"))),
      "vacuumed manifest diverged from a rebuild over the surviving files")
    // idempotent
    assert(FileManifest.vacuumManifest(spark, table, mpath) == 0L)
  }

  test("readPruned scans exactly the pruned file set; empty manifest errors clearly") {
    val path = tmpDir("manifest-scanset")
    // 4 files with disjoint sorted ranges of a
    (0L until 4L).foreach { i =>
      (i * 100L until (i + 1) * 100L).map(v => (v, v % 7)).toDF("a", "b")
        .coalesce(1).write.mode("append").parquet(path)
    }
    val manifest = FileManifest.build(spark, path, Seq("a"))
    val prunedSet = FileManifest.pruneFiles(manifest, "a", 150L, 249L)
      .as[String].collect().toSet
    assert(prunedSet.size == 2, s"expected 2 of 4 files, got $prunedSet")
    val df = FileManifest.readPruned(spark, manifest, "a", 150L, 249L)
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    assert(df.inputFiles.map(base).toSet == prunedSet.map(base),
      s"scan file set != prune set: ${df.inputFiles.toSeq} vs $prunedSet")
    assert(df.count() == 100L)
    // empty prune window still answers (zero rows, right schema)
    assert(FileManifest.readPruned(spark, manifest, "a", 5000L, 6000L).count() == 0L)
    // an empty manifest is a clear error, not an AnalysisException
    val e = intercept[IllegalArgumentException] {
      FileManifest.readPruned(spark, manifest.limit(0), "a", 0L, 1L)
    }
    assert(e.getMessage.contains("manifest lists no files"))
  }

  test("hadoop-conf broadcast refreshes when the session conf mutates") {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "graft.test.conf.refresh"
    conf.unset(key)
    try {
      val b0 = FileManifest.broadcastHadoopConf(spark)
      // unchanged conf: the same broadcast instance serves every call
      assert(FileManifest.broadcastHadoopConf(spark) eq b0)
      // mutate the session conf (credential-refresh shape): the stale
      // broadcast is destroyed and the new one carries the new value
      conf.set(key, "v1")
      val b1 = FileManifest.broadcastHadoopConf(spark)
      assert(!(b1 eq b0))
      assert(b1.value.value.get(key) == "v1")
      intercept[org.apache.spark.SparkException] { b0.value } // destroyed
      // idempotent at the new fingerprint
      assert(FileManifest.broadcastHadoopConf(spark) eq b1)
      // and a second mutation rolls forward again
      conf.set(key, "v2")
      assert(FileManifest.broadcastHadoopConf(spark).value.value.get(key) == "v2")
    } finally conf.unset(key)
  }

  test("file_manifest_stats leaves its z-layout dir registered for deletion at exit") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries("file_manifest_stats")(spark, dir).collect()
    val zlayout = graft.util.SessionScopedCache.get[String](spark, "zlayout:" + dir)
    assert(zlayout.isDefined, "the z-layout path is staged per (session, dir)")
    assert(SparkEntry.registeredScratchDirs.contains(zlayout.get))
  }
}
