package graft

import graft.config.TableConfig
import graft.operators.{CdcDedup, MergeEngine}
import graft.sources.StagedSwap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MergeEngineSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs one mixed micro-batch runs end to end, on a partitioned or an
    * unpartitioned table.
    */
  private val JobsPerMixedBatch = 8

  /** One change set: `ups` and the tombstones `dels`, `op` marking the side. */
  private def changeSet(ups: DataFrame, dels: DataFrame): DataFrame =
    ups.withColumn("op", lit("false"))
      .unionByName(dels.withColumn("op", lit("true")), allowMissingColumns = true)

  private def changelog(rows: (Int, String, String, Long)*): DataFrame =
    rows.toSeq.toDF("id", "name", "__deleted", "__log_sequence_number")

  test("resolveUpsert: insert + newer-version update + stale replay ignored") {
    val target = changelog((1, "a", "false", 10L), (2, "b", "false", 20L))
    val source = changelog(
      (2, "b2", "false", 25L), // newer -> wins
      (1, "a0", "false", 5L), // stale replay -> ignored
      (3, "c", "false", 30L)) // new key -> insert
    val out = MergeEngine
      .resolveUpsert(target, source, Seq("id"), "__log_sequence_number")
      .select("id", "name").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "a", 2 -> "b2", 3 -> "c"))
  }

  test("resolveUpsert: version tie keeps the target row (strict < guard)") {
    val target = changelog((1, "target", "false", 10L))
    val source = changelog((1, "source", "false", 10L))
    val out = MergeEngine
      .resolveUpsert(target, source, Seq("id"), "__log_sequence_number")
      .select("name").as[String].collect()
    assert(out.toSeq == Seq("target"))
  }

  test("resolveDelete: pk-only, no version guard") {
    val target = changelog((1, "a", "false", 100L), (2, "b", "false", 20L))
    // delete arrives with an OLDER lsn — still deletes (J2 semantics)
    val deletes = changelog((1, null, "true", 1L))
    val out = MergeEngine.resolveDelete(target, deletes, Seq("id"))
      .select("id").as[Int].collect()
    assert(out.toSeq == Seq(2))
  }

  test("schema evolution: source adds a column; dropped column persists as null") {
    val target = Seq((1, "a", 10L)).toDF("id", "name", "lsn")
    val source = Seq((2, "b@x", 20L)).toDF("id", "email", "lsn") // name gone, email new
    val out = MergeEngine.resolveUpsert(target, source, Seq("id"), "lsn")
      .orderBy("id").collect()
    val schema = MergeEngine.resolveUpsert(target, source, Seq("id"), "lsn").schema
    assert(schema.fieldNames.toSet == Set("id", "name", "lsn", "email"))
    val row1 = out(0) // id=1: has name, null email
    val row2 = out(1) // id=2: null name, has email
    assert(row1.getAs[String]("name") == "a" && row1.getAs[String]("email") == null)
    assert(row2.getAs[String]("name") == null && row2.getAs[String]("email") == "b@x")
  }

  test("cached read schema survives evolution and external rewrites are recoverable") {
    val path = tmpDir("merge-schemacache")
    val cfg = TableConfig("graft_test", "sc_tbl", s"$path/t")
    MergeEngine.upsert(spark, cfg, Seq((1, "a", 10L)).toDF("id", "name", "lsn"), Seq("id"), "lsn")
    // evolution through the merge path: the cached schema must pick up
    // the union, and pre-evolution rows read as null in the new column
    MergeEngine.upsert(spark, cfg, Seq((2, "b@x", 20L)).toDF("id", "email", "lsn"), Seq("id"), "lsn")
    val t = MergeEngine.readTable(spark, cfg.path).get.orderBy("id").collect()
    assert(t.map(_.getAs[Any]("email")).toSeq == Seq(null, "b@x"))
    assert(t.map(_.getAs[Any]("name")).toSeq == Seq("a", null))
    // an EXTERNAL writer changes the table outside the merge protocol;
    // invalidateSchema makes the next read re-sweep the footers
    Seq((9, "ext", 99L, true)).toDF("id", "name", "lsn", "flag")
      .write.mode("overwrite").parquet(cfg.path)
    MergeEngine.invalidateSchema(spark, cfg.path)
    val ext = MergeEngine.readTable(spark, cfg.path).get
    assert(ext.columns.contains("flag"))
    assert(ext.count() == 1L)
  }

  test("table-backed upsert/delete on a partitioned table, incl. partition cleanup") {
    val path = tmpDir("merge-part")
    val cfg = TableConfig("graft_test", "part_tbl", s"$path/t", partitionCols = Seq("year"))

    val b1 = Seq(
      (1, "a", 2023, 10L), (2, "b", 2023, 11L), (3, "c", 2024, 12L))
      .toDF("id", "name", "year", "lsn")
    MergeEngine.upsert(spark, cfg, b1, Seq("id"), "lsn")
    assert(MergeEngine.readTable(spark, cfg.path).get.count() == 3)

    // second batch touches ONLY 2024; 2023 partition files must be untouched
    val files2023 = listFiles(s"$path/t/year=2023")
    val b2 = Seq((3, "c2", 2024, 20L), (4, "d", 2024, 21L)).toDF("id", "name", "year", "lsn")
    MergeEngine.upsert(spark, cfg, b2, Seq("id"), "lsn")
    val t2 = MergeEngine.readTable(spark, cfg.path).get
    assert(t2.count() == 4)
    assert(t2.filter(col("id") === 3).select("name").as[String].collect().head == "c2")
    assert(listFiles(s"$path/t/year=2023") == files2023, "untouched partition was rewritten")

    // delete the only 2023 rows -> partition dir removed
    val dels = Seq((1, 0L), (2, 0L)).toDF("id", "lsn")
    MergeEngine.delete(spark, cfg, dels, Seq("id"))
    val t3 = MergeEngine.readTable(spark, cfg.path).get
    assert(t3.select("id").as[Int].collect().sorted.toSeq == Seq(3, 4))
    assert(!new java.io.File(s"$path/t/year=2023").exists(), "emptied partition not cleaned up")
  }

  test("catalog partition registration is memoized per session") {
    val path = tmpDir("merge-cat-memo")
    val cfg = TableConfig("graft_test", "cat_memo_tbl", s"$path/t",
      partitionCols = Seq("year"))
    val schema = Seq((0, "x", 2023, 0L)).toDF("id", "name", "year", "lsn").schema
    MergeEngine.createTableIfNotExists(spark, schema, cfg)
    MergeEngine.upsert(spark, cfg,
      Seq((1, "a", 2023, 10L)).toDF("id", "name", "year", "lsn"), Seq("id"), "lsn")
    def parts() = spark.sql(s"SHOW PARTITIONS ${cfg.qualifiedName}")
      .collect().map(_.getString(0)).toSet
    assert(parts() == Set("year=2023"))
    // simulate an external drop: the session memo must SKIP the re-add
    // for an already-seen partition (that skip is the saved round trip)
    spark.sql(s"ALTER TABLE ${cfg.qualifiedName} DROP PARTITION (year=2023)")
    MergeEngine.upsert(spark, cfg,
      Seq((2, "b", 2023, 11L)).toDF("id", "name", "year", "lsn"), Seq("id"), "lsn")
    assert(!parts().contains("year=2023"), "memoized partition was re-added")
    // a genuinely new partition still registers
    MergeEngine.upsert(spark, cfg,
      Seq((3, "c", 2024, 12L)).toDF("id", "name", "year", "lsn"), Seq("id"), "lsn")
    assert(parts().contains("year=2024"))
    // the path table itself has every row regardless of catalog state
    assert(MergeEngine.readTable(spark, cfg.path).get.count() == 3L)
  }

  test("memo evicted when the engine removes a partition: a re-add re-registers") {
    val path = tmpDir("merge-cat-evict")
    val cfg = TableConfig("graft_test", "cat_evict_tbl", s"$path/t",
      partitionCols = Seq("year"))
    val schema = Seq((0, "x", 2023, 0L)).toDF("id", "name", "year", "lsn").schema
    MergeEngine.createTableIfNotExists(spark, schema, cfg)
    MergeEngine.upsert(spark, cfg,
      Seq((1, "a", 2023, 10L), (2, "b", 2024, 11L)).toDF("id", "name", "year", "lsn"),
      Seq("id"), "lsn")
    def parts() = spark.sql(s"SHOW PARTITIONS ${cfg.qualifiedName}")
      .collect().map(_.getString(0)).toSet
    assert(parts() == Set("year=2023", "year=2024"))
    // the ENGINE's delete empties 2023: dir removed and memo entry evicted
    MergeEngine.delete(spark, cfg, Seq((1, 0L)).toDF("id", "lsn"), Seq("id"))
    assert(!new java.io.File(s"$path/t/year=2023").exists())
    spark.sql(s"ALTER TABLE ${cfg.qualifiedName} DROP PARTITION (year=2023)")
    assert(!parts().contains("year=2023"))
    // re-adding the SAME partition value must go through the ALTER again
    // (a stale memo would skip it and the catalog would miss the data)
    MergeEngine.upsert(spark, cfg,
      Seq((5, "e", 2023, 30L)).toDF("id", "name", "year", "lsn"), Seq("id"), "lsn")
    assert(parts().contains("year=2023"),
      "re-added partition missing from catalog (stale registration memo)")
  }

  test("a catalog reader sees every commit to a registered partitioned table") {
    val path = tmpDir("merge-cat-read")
    val cfg = TableConfig("graft_test", "cat_read_tbl", s"$path/t", partitionCols = Seq("year"))
    val schema = Seq((0, "x", 2023, 0L)).toDF("id", "name", "year", "lsn").schema
    MergeEngine.createTableIfNotExists(spark, schema, cfg)
    MergeEngine.upsert(spark, cfg,
      Seq((1, "a", 2023, 10L), (2, "b", 2024, 11L)).toDF("id", "name", "year", "lsn"),
      Seq("id"), "lsn")
    assert(spark.table(cfg.qualifiedName).count() == 2L)
    // the second commit replaces year=2023's files and adds a column
    MergeEngine.upsert(spark, cfg,
      Seq((1, "a2", 2023, 20L, "555")).toDF("id", "name", "year", "lsn", "phone"),
      Seq("id"), "lsn")
    val viaCatalog = spark.table(cfg.qualifiedName)
    assert(viaCatalog.columns.contains("phone"))
    assert(viaCatalog.select("id", "name", "phone").as[(Int, String, Option[String])]
      .collect().sortBy(_._1).toSeq == Seq((1, "a2", Some("555")), (2, "b", None)))
  }

  private val usersTopic = "pg.public.users"

  private lazy val usersProvider = new graft.debezium.InMemorySchemaProvider(Map(
    1 -> AvroTestData.usersKeySchema, 10 -> AvroTestData.usersValueSchemaV1))

  /** One framed micro-batch of `users` changes, each `(id, lsn, deleted)`. */
  private def usersBatch(rows: (Int, Long, Boolean)*): DataFrame =
    rows.zipWithIndex.map { case ((id, lsn, deleted), i) =>
      val value = AvroTestData.encode(AvroTestData.usersValueSchemaV1, Map[String, Any](
        "id" -> id, "name" -> s"n$id-$lsn", "email" -> s"$id@x.com",
        "created_at" -> 19968, "updated_at" -> "2024-09-01T00:00:00Z",
        "__deleted" -> deleted.toString,
        "__timestamp" -> 1725148800000L, "__log_sequence_number" -> lsn))
      (usersTopic, 0, lsn * 100 + i, new java.sql.Timestamp(1725148800000L), 0, 1, 10, value)
    }.toDF("topic", "partition", "offset", "timestamp", "timestampType",
      "key_schema_id", "value_schema_id", "value_avro")

  /** The Spark jobs `body` starts and the physical plan of each SQL
    * execution it starts, read once the (asynchronous) listener bus has
    * been quiet for a while.
    */
  private def sparkWorkOf(body: => Unit): (Int, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sqlPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlPlans.add(s.physicalPlanDescription); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = jobs.get + sqlPlans.size
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, sqlPlans.toArray(Array.empty[String]).toSeq)
  }

  /** The delete probes among SQL execution plans: a merge's probe is
    * its one left-semi join (the delete itself is a left-anti join).
    */
  private def probes(sqlPlans: Seq[String]): Int = sqlPlans.count(_.contains("LeftSemi"))

  /** The [[StagedSwap]] commits `body` stages. */
  private def commitsOf(body: => Unit): Int = {
    var staged = 0
    StagedSwap.Failpoints.hook = p => if (p == "staged") staged += 1
    try body finally StagedSwap.Failpoints.hook = _ => ()
    staged
  }

  /** The `users` ids of a replica with each row's name. */
  private def usersState(cfg: TableConfig): Map[Int, String] =
    MergeEngine.readTable(spark, cfg.path).get.select("id", "name").as[(Int, String)].collect().toMap

  test("one mixed micro-batch on a partitioned table runs a pinned number of jobs") {
    val path = tmpDir("merge-jobs")
    // metadata (1: the map-side pass that fills the batch cache),
    // routing (3: the dedup exchange, the change-set cache fill and the
    // map-side count pass) and the staged write (4, AQE stages included);
    // a batch with upserts on a pk-derived partition runs no delete
    // probe, and an unpartitioned table's slice is the whole table, so
    // its delete needs none either. One job more is a new pass over the
    // batch or the merge result
    Seq(
      TableConfig("graft_test", "jobs_tbl", s"$path/t",
        additionalCols = Seq("CAST(id % 3 AS INT) AS part"), partitionCols = Seq("part")),
      TableConfig("graft_test", "jobs_flat_tbl", s"$path/flat")
    ).foreach { cfg =>
      val configs = Map(usersTopic -> cfg)
      graft.streaming.MicroBatchMerger.process(
        usersBatch((1 to 6).map(id => (id, 1L, false)): _*), configs, usersProvider)
      // update 1 and insert 7 (part 1), insert 8 (part 2), delete 3 (part 0)
      val (jobs, _) = sparkWorkOf(graft.streaming.MicroBatchMerger.process(
        usersBatch((1, 2L, false), (7, 2L, false), (8, 2L, false), (3, 2L, true)), configs, usersProvider))
      assert(usersState(cfg) == Map(1 -> "n1-2", 2 -> "n2-1", 4 -> "n4-1", 5 -> "n5-1", 6 -> "n6-1",
        7 -> "n7-2", 8 -> "n8-2"))
      assert(jobs <= JobsPerMixedBatch, s"${cfg.tableName}: $jobs jobs > $JobsPerMixedBatch")
    }
  }

  test("a compacting micro-batch runs at most two jobs more than a mixed one") {
    val path = tmpDir("merge-jobs-compact")
    val cfg = TableConfig("graft_test", "jobs_compact_tbl", s"$path/t",
      additionalCols = Seq("CAST(id % 3 AS INT) AS part"), partitionCols = Seq("part"),
      autoCompactEvery = 1)
    val configs = Map(usersTopic -> cfg)
    // without partition coalescing every merge writes each table
    // partition from most of the 8 shuffle tasks, so each batch leaves
    // every partition above the compaction threshold
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try {
      graft.streaming.MicroBatchMerger.process(
        usersBatch((1 to 60).map(id => (id, 1L, false)): _*), configs, usersProvider)
      var commits = 0
      val (jobs, _) = sparkWorkOf { commits = commitsOf(graft.streaming.MicroBatchMerger.process(
        usersBatch((1, 2L, false), (70, 2L, false), (71, 2L, false), (3, 2L, true)),
        configs, usersProvider)) }
      assert(commits == 2, s"$commits commits: expected the merge's and one compaction's")
      assert(usersState(cfg) == ((1 to 60).filterNot(_ == 3).map(id => id -> s"n$id-1").toMap
        ++ Map(1 -> "n1-2", 70 -> "n70-2", 71 -> "n71-2")))
      (0 to 2).foreach { part =>
        val files = new java.io.File(s"$path/t/part=$part").listFiles().count(_.getName.endsWith(".parquet"))
        assert(files == 1, s"part=$part holds $files files: the batch did not compact it")
      }
      // the compaction is one filtered read, one exchange and one write
      assert(jobs <= JobsPerMixedBatch + 2, s"$jobs jobs > ${JobsPerMixedBatch + 2}")
    } finally spark.conf.unset(coalesce)
  }

  test("partitions that follow the pk: no delete probe runs, and the delete lands") {
    Seq(
      ("pk_derived", Seq("CAST(id % 3 AS INT) AS part"), "part", "part=0"),
      ("pk_column", Seq.empty[String], "id", "id=3")).foreach { case (name, additional, part, dirOf3) =>
      val path = tmpDir(s"merge-noprobe-$name")
      val cfg = TableConfig("graft_test", s"noprobe_${name}_tbl", s"$path/t",
        additionalCols = additional, partitionCols = Seq(part))
      val configs = Map(usersTopic -> cfg)
      graft.streaming.MicroBatchMerger.process(
        usersBatch((1 to 6).map(id => (id, 1L, false)): _*), configs, usersProvider)
      val (_, sqlPlans) = sparkWorkOf(graft.streaming.MicroBatchMerger.process(
        usersBatch((1, 2L, false), (7, 2L, false), (3, 2L, true)), configs, usersProvider))
      assert(probes(sqlPlans) == 0, s"$name: a delete probe ran")
      assert(usersState(cfg) == Map(1 -> "n1-2", 2 -> "n2-1", 4 -> "n4-1", 5 -> "n5-1", 6 -> "n6-1",
        7 -> "n7-2"), name)
      // id 3's partition was rewritten (part=0 keeps 6) or removed (id=3)
      assert(new java.io.File(s"$path/t/$dirOf3").exists() == (name == "pk_derived"), name)
    }
  }

  test("a partition over a non-pk column keeps the delete probe") {
    // the tombstone for id 3 carries name n3-2; the row lives in name=n3-1
    val path = tmpDir("merge-probe-nonpk")
    val cfg = TableConfig("graft_test", "probe_nonpk_tbl", s"$path/t", partitionCols = Seq("name"))
    val configs = Map(usersTopic -> cfg)
    graft.streaming.MicroBatchMerger.process(
      usersBatch((1 to 6).map(id => (id, 1L, false)): _*), configs, usersProvider)
    val (_, sqlPlans) = sparkWorkOf(graft.streaming.MicroBatchMerger.process(
      usersBatch((7, 2L, false), (3, 2L, true)), configs, usersProvider))
    assert(probes(sqlPlans) >= 1, "no delete probe ran")
    assert(usersState(cfg) == Map(1 -> "n1-1", 2 -> "n2-1", 4 -> "n4-1", 5 -> "n5-1", 6 -> "n6-1",
      7 -> "n7-2"))
    assert(!new java.io.File(s"$path/t/name=n3-1").exists(), "the deleted row's partition is still there")

    // a tombstone with a null partition value is found in its real partition
    val cfgY = TableConfig("graft_test", "probe_null_tbl", s"${tmpDir("merge-probe-null")}/t",
      partitionCols = Seq("year"))
    MergeEngine.upsert(spark, cfgY,
      Seq((1, "a", 2023, 10L), (2, "b", 2024, 11L)).toDF("id", "name", "year", "lsn"), Seq("id"), "lsn")
    val (_, plansY) = sparkWorkOf(MergeEngine(spark, cfgY, changeSet(
      Seq((2, "b2", 2024, 20L)).toDF("id", "name", "year", "lsn"),
      Seq((1, Option.empty[Int], 21L)).toDF("id", "year", "lsn")), Seq("id"), "lsn", "op"))
    assert(probes(plansY) >= 1, "no delete probe ran")
    assert(MergeEngine.readTable(spark, cfgY.path).get.select("id", "name").as[(Int, String)].collect().toMap
      == Map(2 -> "b2"))
    assert(!new java.io.File(s"${cfgY.path}/year=2023").exists())
  }

  test("MergeEngine.delete without partition columns still probes") {
    val path = tmpDir("merge-probe-delete")
    val cfg = TableConfig("graft_test", "probe_delete_tbl", s"$path/t",
      partitionCols = Seq("part"))
    MergeEngine.upsert(spark, cfg,
      (1 to 6).map(id => (id, s"n$id", id % 3, 1L)).toDF("id", "name", "part", "lsn"), Seq("id"), "lsn")
    val (_, sqlPlans) = sparkWorkOf(
      MergeEngine.delete(spark, cfg, Seq(3, 4).toDF("id"), Seq("id")))
    assert(probes(sqlPlans) >= 1, "no delete probe ran")
    assert(MergeEngine.readTable(spark, cfg.path).get.select("id").as[Int].collect().toSet
      == Set(1, 2, 5, 6))
  }

  test("partitionsFollowPk: deterministic expressions that read only pk columns") {
    val decoded = Seq((1L, "a", 2L)).toDF("id", "name", "lsn")
    def follows(partExpr: String, pk: Seq[String] = Seq("id")) =
      MergeEngine.partitionsFollowPk(
        decoded.select(decoded.columns.map(col).toSeq :+ expr(s"$partExpr AS part"): _*), Seq("part"), pk)
    assert(follows("CAST(id % 3 AS INT)"))
    assert(follows("CAST(pmod(id, 8) AS INT)"))
    assert(follows("id"))
    assert(!follows("CAST(rand() * 3 AS INT)"), "rand() is not a function of the pk")
    assert(!follows("current_date()"), "the clock is not a function of the pk")
    assert(!follows("7"), "a constant says nothing about where a key lives")
    assert(!follows("CAST(NULL AS INT)"), "the null MergeEngine.delete fills in")
    assert(!follows("name"))
    assert(!follows("CAST(id % 3 + length(name) AS INT)"))
    assert(!follows("CAST(id % 3 AS INT)", pk = Seq("name")))
    // a pk column is itself a partition that follows the pk; a value column is not
    val plain = decoded.select(decoded.columns.map(col).toSeq: _*)
    assert(MergeEngine.partitionsFollowPk(plain, Seq("id"), Seq("id")))
    assert(!MergeEngine.partitionsFollowPk(plain, Seq("id", "name"), Seq("id")))
  }

  test("delete-only batch on a pk-derived partition: absent keys commit nothing") {
    val path = tmpDir("merge-absent-del")
    val cfg = TableConfig("graft_test", "absent_del_tbl", s"$path/t",
      additionalCols = Seq("CAST(id % 3 AS INT) AS part"), partitionCols = Seq("part"))
    val configs = Map(usersTopic -> cfg)
    graft.streaming.MicroBatchMerger.process(
      usersBatch((1 to 6).map(id => (id, 1L, false)): _*), configs, usersProvider)
    val before = MergeEngine.readTable(spark, cfg.path).get.collect().toSet
    val part0 = listFiles(s"$path/t/part=0")
    // 9 and 12 would live in part=0, 10 in part=1, 11 in part=2
    Seq(Seq((9, 2L, true), (12, 2L, true)), Seq((10, 2L, true), (11, 2L, true))).foreach { dels =>
      assert(commitsOf(graft.streaming.MicroBatchMerger.process(usersBatch(dels: _*), configs, usersProvider))
        == 0, s"absent-key tombstones $dels committed")
    }
    assert(MergeEngine.readTable(spark, cfg.path).get.collect().toSet == before)
    assert(listFiles(s"$path/t/part=0") == part0, "part=0 was rewritten")
    // a present key commits once; the replayed tombstone finds it gone
    Seq(1, 0).foreach { want =>
      assert(commitsOf(graft.streaming.MicroBatchMerger.process(
        usersBatch((3, 2L, true), (9, 2L, true)), configs, usersProvider)) == want)
    }
    assert(usersState(cfg).keySet == Set(1, 2, 4, 5, 6))
  }

  test("fused mixed-batch merge on a partitioned table: one transaction, same end state") {
    val path = tmpDir("merge-fused-part")
    val cfg = TableConfig("graft_test", "fused_tbl", s"$path/t", partitionCols = Seq("year"))
    val b1 = Seq(
      (1, "a", 2023, 10L), (2, "b", 2023, 11L), (3, "c", 2024, 12L))
      .toDF("id", "name", "year", "lsn")
    MergeEngine.upsert(spark, cfg, b1, Seq("id"), "lsn")

    // mixed batch: update id=3 (2024), insert id=4 (2025), delete BOTH
    // 2023 rows (partition must vanish), stale replay for id=3 ignored
    val ups = Seq((3, "c2", 2024, 20L), (4, "d", 2025, 21L), (3, "stale", 2024, 1L))
      .toDF("id", "name", "year", "lsn")
    val upserts = graft.operators.CdcDedup.latestPerKey(ups, Seq("id"), "lsn")
    val deletes = Seq((1, 99L), (2, 99L)).toDF("id", "lsn")
    MergeEngine(spark, cfg, changeSet(upserts, deletes), Seq("id"), "lsn", "op")

    val t = MergeEngine.readTable(spark, cfg.path).get
    assert(t.select("id").as[Int].collect().sorted.toSeq == Seq(3, 4))
    assert(t.filter(col("id") === 3).select("name").as[String].collect().head == "c2")
    assert(!new java.io.File(s"$path/t/year=2023").exists(), "emptied partition not cleaned up")
    assert(new java.io.File(s"$path/t/year=2025").exists(), "new partition missing")

    // a key on BOTH sides of one change set never lands
    val ups2 = Seq((9, "ghost", 2026, 30L)).toDF("id", "name", "year", "lsn")
    val dels2 = Seq((9, 31L)).toDF("id", "lsn")
    MergeEngine(spark, cfg, changeSet(ups2, dels2), Seq("id"), "lsn", "op")
    val t2 = MergeEngine.readTable(spark, cfg.path).get
    assert(t2.filter(col("id") === 9).count() == 0L)
    assert(!new java.io.File(s"$path/t/year=2026").exists(), "ghost partition left behind")
  }

  test("upsert is idempotent under batch replay (same batch twice)") {
    val path = tmpDir("merge-replay")
    val cfg = TableConfig("graft_test", "replay_tbl", s"$path/t")
    val b = Seq((1, "a", 10L), (2, "b", 11L)).toDF("id", "name", "lsn")
    MergeEngine.upsert(spark, cfg, b, Seq("id"), "lsn")
    MergeEngine.upsert(spark, cfg, b, Seq("id"), "lsn") // replay
    val t = MergeEngine.readTable(spark, cfg.path).get
    assert(t.count() == 2)
  }

  test("W1 dedup collapses in-batch churn before merge") {
    val batch = changelog(
      (1, "v1", "false", 1L), (1, "v2", "false", 2L), (1, "v3", "false", 3L),
      (2, "x1", "false", 1L))
    val deduped = CdcDedup.latestPerKey(batch, Seq("id"), "__log_sequence_number")
    assert(deduped.count() == 2)
    assert(deduped.filter(col("id") === 1).select("name").as[String].collect().head == "v3")
  }

  test("compact: oversized partitions rewritten to few files, data unchanged") {
    val path = tmpDir("merge-compact")
    val cfg = TableConfig("graft_test", "compact_tbl", s"$path/t", partitionCols = Seq("year"))
    // simulate accumulated small files (raw appends into the layout;
    // the merge itself is copy-on-write per partition, so it doesn't
    // accumulate files — appenders and high shuffle-partition writes do)
    (1 to 6).foreach { b =>
      (1 to 50).map(i => (b * 1000 + i, s"n$b-$i", 2024, (b * 1000 + i).toLong))
        .toDF("id", "name", "year", "lsn")
        .coalesce(1)
        .write.mode("append").partitionBy("year").parquet(cfg.path)
    }
    val before = MergeEngine.readTable(spark, cfg.path).get.orderBy("id").collect()
    val filesBefore = new java.io.File(s"$path/t/year=2024").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore > 4, s"expected many small files, got $filesBefore")

    val compacted = MergeEngine.compact(spark, cfg, targetFileBytes = 1L << 30, maxFilesPerPartition = 4)
    assert(compacted == 1)
    val filesAfter = new java.io.File(s"$path/t/year=2024").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter <= 2, s"still $filesAfter files after compaction")
    val after = MergeEngine.readTable(spark, cfg.path).get.orderBy("id").collect()
    assert(after.toSeq == before.toSeq, "compaction changed the data")
  }

  test("compact: every oversized partition in one read, one exchange and one commit") {
    val path = tmpDir("merge-compact-multi")
    val cfg = TableConfig("graft_test", "compact_multi_tbl", s"$path/t", partitionCols = Seq("region"))
    // raw appends, one file per partition each: "big" (wide rows), the
    // null partition and a value that needs path escaping reach six
    // files, "small" stays at two, under the threshold; `tags` is a map
    // column, which the split of "big" into files cannot hash
    (1 to 6).foreach { b =>
      val rows = (1 to 300).map(i => (b * 1000 + i, "big" + "x" * 200 + i, Option("big"))) ++
        (1 to 20).map(i => (b * 1000 + 500 + i, s"null$i", Option.empty[String])) ++
        (1 to 20).map(i => (b * 1000 + 600 + i, s"esc$i", Option("a=b/c"))) ++
        (if (b <= 2) (1 to 20).map(i => (b * 1000 + 700 + i, s"small$i", Option("small"))) else Nil)
      rows.map { case (id, name, region) => (id, name, Map("b" -> b), region) }
        .toDF("id", "name", "tags", "region").coalesce(1)
        .write.mode("append").partitionBy("region").parquet(cfg.path)
    }
    def dirOf(region: String) = s"$path/t/region=$region"
    def files(region: String) = new java.io.File(dirOf(region)).listFiles().filter(_.getName.endsWith(".parquet"))
    val oversized = Seq("big", "__HIVE_DEFAULT_PARTITION__",
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName("a=b/c"))
    assert(oversized.forall(files(_).length == 6) && files("small").length == 2)
    // "big" lands as three files, every other partition as one
    val target = files("big").map(_.length).sum / 5 * 2
    val expected = oversized.map(r => r -> math.ceil(files(r).map(_.length).sum.toDouble / target).toInt).toMap
    assert(expected("big") == 3 && expected.values.count(_ == 1) == 2, s"$expected")
    val smallBefore = listFiles(dirOf("small"))
    val before = MergeEngine.readTable(spark, cfg.path).get.orderBy("id").collect()

    var compacted = 0
    var commits = 0
    val (_, sqlPlans) = sparkWorkOf { commits = commitsOf {
      compacted = MergeEngine.compact(spark, cfg, targetFileBytes = target, maxFilesPerPartition = 4)
    } }
    assert(compacted == 3)
    assert(commits == 1, s"$commits commits")
    assert(sqlPlans.size == 1, s"${sqlPlans.size} SQL executions")
    oversized.foreach(r => assert(files(r).length == expected(r), s"region=$r: ${files(r).length} files"))
    assert(listFiles(dirOf("small")) == smallBefore, "the partition under the threshold was rewritten")
    val after = MergeEngine.readTable(spark, cfg.path).get.orderBy("id").collect()
    assert(after.toSeq == before.toSeq, "compaction changed the data")
  }

  test("null partition values: merge, update, delete and dir cleanup") {
    val path = tmpDir("merge-nullpart")
    val cfg = TableConfig("graft_test", "nullpart_tbl", s"$path/t", partitionCols = Seq("year"))
    val b1 = Seq(
      (1, "a", Some(2024), 10L), (2, "b", None, 11L), (3, "c", None, 12L))
      .toDF("id", "name", "year", "lsn")
    MergeEngine.upsert(spark, cfg, b1, Seq("id"), "lsn")
    assert(MergeEngine.readTable(spark, cfg.path).get.count() == 3)

    // update a row in the null partition
    val b2 = Seq((2, "b2", Option.empty[Int], 20L)).toDF("id", "name", "year", "lsn")
    MergeEngine.upsert(spark, cfg, b2, Seq("id"), "lsn")
    val t2 = MergeEngine.readTable(spark, cfg.path).get
    assert(t2.filter(col("id") === 2).select("name").as[String].collect().head == "b2")
    assert(t2.count() == 3)

    // delete both null-partition rows -> default partition dir removed
    MergeEngine.delete(spark, cfg, Seq((2, 0L), (3, 0L)).toDF("id", "lsn"), Seq("id"))
    val t3 = MergeEngine.readTable(spark, cfg.path).get
    assert(t3.select("id").as[Int].collect().toSeq == Seq(1))
    assert(!new java.io.File(s"$path/t/year=__HIVE_DEFAULT_PARTITION__").exists())
  }

  test("a delete that empties an unpartitioned table commits one empty file that keeps the schema") {
    val path = tmpDir("merge-emptied")
    val cfg = TableConfig("graft_test", "emptied_tbl", s"$path/t")
    MergeEngine.upsert(spark, cfg,
      Seq((1, "a", 10L), (2, "b", 11L)).toDF("id", "name", "lsn"), Seq("id"), "lsn")
    assert(commitsOf(MergeEngine.delete(spark, cfg,
      Seq((1, 0L), (2, 0L)).toDF("id", "lsn"), Seq("id"))) == 1)
    assert(listFiles(cfg.path).size == 1, s"files left: ${listFiles(cfg.path)}")
    // a reader without the cached schema gets it from that file's footer
    MergeEngine.invalidateSchema(spark, cfg.path)
    val emptied = MergeEngine.readTable(spark, cfg.path).get
    assert(emptied.count() == 0)
    assert(emptied.columns.sorted.toSeq == Seq("id", "lsn", "name"))
  }

  // ---------------------------------------------------------------------
  // Kill-point harness: every store that commits through StagedSwap,
  // killed at every protocol point. The store's own reader must then
  // hand back the pre-write files bit-for-bit, a replay must land the
  // new state, and no staging/backup/manifest debris may survive.
  // ---------------------------------------------------------------------

  private case class KillCase(
      title: String,
      root: String => String,
      setup: String => Unit,
      write: String => Unit,
      read: String => Seq[String])

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def killTable(dir: String, partCols: String*) =
    TableConfig("graft_test", "kill_tbl", s"$dir/t", partitionCols = partCols)

  private def mergeCase(title: String, partCols: Seq[String])(
      setup: TableConfig => Unit, write: TableConfig => Unit) =
    KillCase(title, dir => s"$dir/t",
      dir => setup(killTable(dir, partCols: _*)),
      dir => write(killTable(dir, partCols: _*)),
      dir => {
        val t = MergeEngine.readTable(spark, killTable(dir).path).get
        rowsOf(t) :+ s"files=${t.select(input_file_name()).distinct().count()}" :+
          t.columns.sorted.mkString("columns=", ",", "")
      })

  private val cols4 = Seq("id", "name", "year", "lsn")

  private val bm25Corpus = Seq(
    (1L, "spark catalyst optimizer rules"),
    (2L, "parquet row groups and catalyst"),
    (3L, "catalyst expression codegen"))

  /** `n` ids written as an 8-file table, inventoried and planned for compaction. */
  private def compactionPlan(dir: String, name: String, from: Long): DataFrame = {
    val src = s"$dir/$name"
    (from until from + 400L).map(i => (i, s"row-$i")).toDF("id", "payload")
      .repartition(8).write.parquet(src)
    val listed = new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => ("all", f.getAbsolutePath, f.length())).toSeq.toDF("part", "file", "bytes")
    val total = listed.agg(sum("bytes")).head.getLong(0)
    graft.operators.Compaction.plan(listed, "part", "file", "bytes", total / 2)
  }

  private def bm25Save(dir: String, docs: Seq[(Long, String)]): Unit =
    graft.operators.Bm25.save(graft.operators.Bm25.build(docs.toDF("id", "text"), "id", "text"),
      s"$dir/store", prefixBuckets = 4)

  private def bm25Read(dir: String): Seq[String] = {
    val idx = graft.operators.Bm25.load(spark, s"$dir/store")
    rowsOf(graft.operators.Bm25.search(idx, Seq("catalyst", "parquet"), 3)) ++
      rowsOf(idx.docs) :+ s"n=${idx.nDocs} dl=${idx.totalDl}"
  }

  private def aggSave(dir: String, keys: Range): Unit =
    graft.operators.AggStore.save(graft.operators.AggStore.build(
      keys.map(i => (s"k$i", i.toDouble)).toDF("k", "v"), Seq("k"), col("v")),
      Seq("k"), s"$dir/s", prefixBuckets = 8)

  private def ulmTrain(dir: String, text: String) =
    graft.operators.UnigramLm.trainAndSave(Seq((1L, text)).toDF("doc_id", "text"),
      "text", s"$dir/s", maxPieceLen = 3, topMulti = 4, emIters = 2, prefixBuckets = 8)

  private def clustersSave(dir: String): Unit =
    graft.operators.Clustering.saveClusters(
      Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)).toDF("id", "cluster"),
      s"$dir/c", prefixBuckets = 4)

  /** The raw store tables: a compaction changes them, not the labels. */
  private def clustersRead(dir: String): Seq[String] = {
    val st = graft.operators.Clustering.loadClusters(spark, s"$dir/c")
    rowsOf(st.labels) ++ rowsOf(st.relabels)
  }

  private def ivfVectors(from: Long): DataFrame =
    (0L until 8L).map(i => (from + i, Seq(1.0f + (i % 2) * 5, 1.0f + i))).toDF("id", "v")

  /** A gate-passing document sharing no token with any other `i`. */
  private def curationDoc(i: Long): String = (0 until 12).map(k => s"word${i}x$k").mkString(" ")

  private def curationBatch(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, curationDoc(i))).toDF("id", "text")

  private def curationRead(dir: String): Seq[String] =
    rowsOf(graft.streaming.StreamCuration.loadCounters(spark, s"$dir/c")) ++
      rowsOf(spark.read.parquet(s"$dir/c/seen"))

  private val killCases = Seq(
    mergeCase("crash between stage and swap: partitioned table rolls back bit-for-bit", Seq("year"))(
      cfg => MergeEngine.upsert(spark, cfg,
        Seq((1, "a", 2023, 10L), (2, "b", 2024, 11L)).toDF(cols4: _*), Seq("id"), "lsn"),
      cfg => MergeEngine.upsert(spark, cfg,
        Seq((2, "B2", 2024, 20L), (3, "c", 2025, 21L)).toDF(cols4: _*), Seq("id"), "lsn")),
    mergeCase("crash between stage and swap: unpartitioned table rolls back bit-for-bit", Nil)(
      cfg => MergeEngine.upsert(spark, cfg,
        Seq((1, "a", 10L), (2, "b", 11L)).toDF("id", "name", "lsn"), Seq("id"), "lsn"),
      cfg => MergeEngine.upsert(spark, cfg,
        Seq((2, "B2", 20L)).toDF("id", "name", "lsn"), Seq("id"), "lsn")),
    // deleting ids 1 and 3 empties year=2023 and rewrites year=2024
    mergeCase("crash during a partition-dropping delete rolls back the removed partition", Seq("year"))(
      cfg => MergeEngine.upsert(spark, cfg,
        Seq((1, "a", 2023, 10L), (2, "b", 2024, 11L), (3, "c", 2024, 12L)).toDF(cols4: _*),
        Seq("id"), "lsn"),
      cfg => MergeEngine.delete(spark, cfg, Seq((1, 0L), (3, 0L)).toDF("id", "lsn"), Seq("id"))),
    // deleting both rows leaves nothing to stage but one empty data
    // file, which the same one commit swaps in for the old files
    mergeCase("crash during a delete that empties an unpartitioned table rolls back", Nil)(
      cfg => MergeEngine.upsert(spark, cfg,
        Seq((1, "a", 10L), (2, "b", 11L)).toDF("id", "name", "lsn"), Seq("id"), "lsn"),
      cfg => MergeEngine.delete(spark, cfg, Seq((1, 0L), (2, 0L)).toDF("id", "lsn"), Seq("id"))),
    // two partitions of two files each (one append per row): the one
    // commit swaps both, so a kill at mid-swap leaves one swapped and
    // one not, and the rollback must restore both
    mergeCase("crash during compaction rolls back; data and files intact", Seq("year"))(
      cfg => (0 until 4).foreach(i => Seq((i, s"n$i", 2023 + i % 2, i.toLong)).toDF(cols4: _*)
        .write.partitionBy("year").mode("append").parquet(cfg.path)),
      cfg => assert(MergeEngine.compact(spark, cfg, targetFileBytes = 1L << 30,
        maxFilesPerPartition = 1) == 2)),
    KillCase("kill-point harness: FileManifest.vacuumManifest", dir => s"$dir/m",
      dir => {
        (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3).write.parquet(s"$dir/tbl")
        graft.sources.FileManifest.saveManifest(
          graft.sources.FileManifest.build(spark, s"$dir/tbl", Seq("id")), s"$dir/m")
        // a compaction rewrote one table file away
        new java.io.File(s"$dir/tbl").listFiles().filter(_.getName.endsWith(".parquet"))
          .minBy(_.getName).delete(); ()
      },
      dir => assert(graft.sources.FileManifest.vacuumManifest(spark, s"$dir/tbl", s"$dir/m") == 1L),
      dir => rowsOf(graft.sources.FileManifest.loadManifest(spark, s"$dir/m").drop("file"))),
    KillCase("kill-point harness: Compaction.execute", dir => s"$dir/out",
      dir => {
        graft.operators.Compaction.execute(spark, compactionPlan(dir, "src1", 0L), "part", "file", s"$dir/out")
        compactionPlan(dir, "src2", 1000L).write.parquet(s"$dir/plan2")
      },
      dir => graft.operators.Compaction.execute(
        spark, spark.read.parquet(s"$dir/plan2"), "part", "file", s"$dir/out"),
      dir => { StagedSwap.recover(spark, s"$dir/out"); rowsOf(spark.read.parquet(s"$dir/out")) }),
    KillCase("kill-point harness: Bm25.vacuumSaved", dir => s"$dir/store",
      dir => {
        graft.operators.Bm25.save(graft.operators.Bm25.build(bm25Corpus.toDF("id", "text"), "id", "text"),
          s"$dir/store", prefixBuckets = 4)
        graft.operators.Bm25.retractFromSaved(spark, s"$dir/store", Seq(2L).toDF("id"), "id")
      },
      dir => graft.operators.Bm25.vacuumSaved(spark, s"$dir/store"),
      dir => {
        val idx = graft.operators.Bm25.load(spark, s"$dir/store")
        rowsOf(graft.operators.Bm25.search(idx, Seq("catalyst", "parquet"), 3)) ++
          rowsOf(spark.read.parquet(s"$dir/store/docs")) :+
          s"tombstones=${new java.io.File(s"$dir/store/tombstones").exists()}"
      }),
    KillCase("kill-point harness: AggStore.absorbIntoSaved", dir => s"$dir/s",
      dir => graft.operators.AggStore.save(graft.operators.AggStore.build(
        (0 until 20).map(i => (s"k$i", i.toDouble)).toDF("k", "v"), Seq("k"), col("v")),
        Seq("k"), s"$dir/s", prefixBuckets = 8),
      dir => graft.operators.AggStore.absorbIntoSaved(spark, s"$dir/s",
        Seq(("k1", 10.0), ("new", 4.0)).toDF("k", "v"), col("v")),
      dir => rowsOf(graft.operators.AggStore.load(spark, s"$dir/s").groups)),
    KillCase("kill-point harness: QuantileSketch.absorbIntoSaved", dir => s"$dir/s",
      dir => graft.operators.QuantileSketch.save(graft.operators.QuantileSketch.build(
        (1L to 40L).map(i => (s"k${i % 5}", i)).toDF("k", "v"), Seq("k"), col("v"), 7),
        Seq("k"), 7, s"$dir/s", prefixBuckets = 8),
      dir => graft.operators.QuantileSketch.absorbIntoSaved(spark, s"$dir/s",
        Seq(("k1", 1000L), ("k9", 7L)).toDF("k", "v"), col("v")),
      dir => rowsOf(graft.operators.QuantileSketch.load(spark, s"$dir/s").sketch)),
    KillCase("kill-point harness: UnigramLm.absorbIntoSaved", dir => s"$dir/s",
      dir => {
        graft.operators.UnigramLm.trainAndSave(Seq((1L, "abab ab cd abcd")).toDF("doc_id", "text"),
          "text", s"$dir/s", maxPieceLen = 3, topMulti = 4, emIters = 2, prefixBuckets = 8)
        ()
      },
      dir => graft.operators.UnigramLm.absorbIntoSaved(spark, s"$dir/s",
        Seq((2L, "abab abab cd"), (3L, "dd abcd ab")).toDF("doc_id", "text"), "text"),
      dir => graft.operators.UnigramLm.load(spark, s"$dir/s").pieces.map(_.toString).sorted ++
        rowsOf(spark.read.parquet(s"$dir/s/words"))),
    KillCase("kill-point harness: Bm25.save over an existing store", dir => s"$dir/store",
      dir => {
        bm25Save(dir, bm25Corpus)
        graft.operators.Bm25.retractFromSaved(spark, s"$dir/store", Seq(2L).toDF("id"), "id")
      },
      dir => bm25Save(dir, bm25Corpus.take(1) :+ ((7L, "parquet footers and catalyst"))),
      bm25Read),
    KillCase("kill-point harness: Bm25.absorbIntoSaved", dir => s"$dir/store",
      dir => bm25Save(dir, bm25Corpus),
      dir => graft.operators.Bm25.absorbIntoSaved(spark, s"$dir/store",
        Seq((8L, "catalyst parquet codegen")).toDF("id", "text"), "id", "text"),
      bm25Read),
    KillCase("kill-point harness: Bm25.retractFromSaved", dir => s"$dir/store",
      dir => bm25Save(dir, bm25Corpus),
      dir => graft.operators.Bm25.retractFromSaved(spark, s"$dir/store", Seq(3L).toDF("id"), "id"),
      bm25Read),
    KillCase("kill-point harness: AggStore.save", dir => s"$dir/s",
      dir => aggSave(dir, 0 until 20),
      dir => aggSave(dir, 10 until 40),
      dir => rowsOf(graft.operators.AggStore.load(spark, s"$dir/s").groups) :+
        graft.operators.AggStore.load(spark, s"$dir/s").prefixBuckets.toString),
    KillCase("kill-point harness: UnigramLm.trainAndSave", dir => s"$dir/s",
      dir => { ulmTrain(dir, "abab ab cd abcd"); () },
      dir => { ulmTrain(dir, "xyxy xy zz xyz"); () },
      dir => graft.operators.UnigramLm.load(spark, s"$dir/s").pieces.map(_.toString).sorted ++
        rowsOf(spark.read.parquet(s"$dir/s/words")) ++ rowsOf(spark.read.parquet(s"$dir/s/params"))),
    KillCase("kill-point harness: Clustering.absorbEdges", dir => s"$dir/c",
      dir => clustersSave(dir),
      dir => graft.operators.Clustering.absorbEdges(spark, s"$dir/c",
        Seq((2L, 10L), (11L, 12L)).toDF("a", "b"), "a", "b"),
      clustersRead),
    KillCase("kill-point harness: Clustering.compactClusters", dir => s"$dir/c",
      dir => {
        clustersSave(dir)
        graft.operators.Clustering.absorbEdges(spark, s"$dir/c",
          Seq((0L, 10L)).toDF("a", "b"), "a", "b")
      },
      dir => graft.operators.Clustering.compactClusters(spark, s"$dir/c"),
      clustersRead),
    KillCase("kill-point harness: TextDedup.appendToSavedMinhashStore", dir => s"$dir/m",
      dir => graft.operators.TextDedup.saveMinhashStore(graft.operators.TextDedup.buildMinhashStore(
        (1L to 3L).map(i => (i, curationDoc(i))).toDF("id", "text"), "id", "text"),
        s"$dir/m", prefixBuckets = 8),
      dir => graft.operators.TextDedup.appendToSavedMinhashStore(spark, s"$dir/m",
        Seq((4L, curationDoc(4L))).toDF("id", "text"), "id", "text"),
      dir => {
        val st = graft.operators.TextDedup.loadMinhashStore(spark, s"$dir/m")
        rowsOf(st.sigs) ++ rowsOf(st.bands)
      }),
    KillCase("kill-point harness: TextDedup.appendToSavedSpanStore", dir => s"$dir/g",
      dir => graft.operators.TextDedup.saveSpanStore(graft.operators.TextDedup.buildSpanStore(
        (1L to 3L).map(i => (i, curationDoc(i))).toDF("id", "text"), "id", "text", k = 3),
        s"$dir/g", prefixBuckets = 8),
      dir => graft.operators.TextDedup.appendToSavedSpanStore(spark, s"$dir/g",
        Seq((4L, curationDoc(1L))).toDF("id", "text"), "id", "text"),
      dir => rowsOf(graft.operators.TextDedup.loadSpanStore(spark, s"$dir/g").grams)),
    KillCase("kill-point harness: ImageDedup.appendToStore", dir => s"$dir/h",
      dir => graft.multimodal.ImageDedup.saveHashStore(
        Seq((1L, Seq(11L, 12L)), (2L, Seq(21L, 22L))).toDF("media_id", "hash"),
        "media_id", "hash", s"$dir/h", prefixBuckets = 8),
      dir => graft.multimodal.ImageDedup.appendToStore(spark, s"$dir/h",
        Seq((3L, Seq(31L, 32L))).toDF("media_id", "hash"), "media_id", "hash"),
      dir => rowsOf(graft.multimodal.ImageDedup.loadHashStore(spark, s"$dir/h").bands)),
    KillCase("kill-point harness: VideoDedup.appendToFrameStore", dir => s"$dir/v",
      dir => graft.multimodal.VideoDedup.saveFrameStore(
        Seq((1L, 0L, Seq(11L, 12L)), (1L, 2L, Seq(13L, 14L))).toDF("media_id", "frame_idx", "hash"),
        s"$dir/v", prefixBuckets = 8),
      dir => graft.multimodal.VideoDedup.appendToFrameStore(spark, s"$dir/v",
        Seq((2L, 0L, Seq(21L, 22L))).toDF("media_id", "frame_idx", "hash")),
      dir => {
        val st = graft.multimodal.VideoDedup.loadFrameStore(spark, s"$dir/v")
        rowsOf(st.hashes.bands) ++ rowsOf(st.counts)
      }),
    KillCase("kill-point harness: IvfAnn.appendToSaved", dir => s"$dir/ivf",
      dir => graft.operators.IvfAnn.save(
        graft.operators.IvfAnn.build(ivfVectors(0L), "id", "v", nlist = 2), s"$dir/ivf"),
      dir => graft.operators.IvfAnn.appendToSaved(spark, s"$dir/ivf", ivfVectors(100L), "id", "v"),
      dir => rowsOf(graft.operators.IvfAnn.load(spark, s"$dir/ivf", "id", "v").assigned)),
    KillCase("kill-point harness: FileManifest.appendToManifest", dir => s"$dir/m",
      dir => {
        (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3).write.parquet(s"$dir/tbl")
        graft.sources.FileManifest.saveManifest(
          graft.sources.FileManifest.build(spark, s"$dir/tbl", Seq("id")), s"$dir/m")
        (31L to 40L).map(i => (i, s"v$i")).toDF("id", "v").repartition(1)
          .write.mode("append").parquet(s"$dir/tbl")
      },
      dir => assert(graft.sources.FileManifest.appendToManifest(
        spark, s"$dir/tbl", s"$dir/m", Seq("id")) == 1L),
      dir => rowsOf(graft.sources.FileManifest.loadManifest(spark, s"$dir/m").drop("file"))),
    KillCase("kill-point harness: StreamCuration.absorbBatch", dir => s"$dir/c",
      dir => {
        graft.streaming.StreamCuration.init(spark, s"$dir/c")
        graft.streaming.StreamCuration.absorbBatch(
          spark, s"$dir/c", curationBatch(1L to 4L), "id", "text")
      },
      dir => graft.streaming.StreamCuration.absorbBatch(spark, s"$dir/c",
        curationBatch(Seq(2L, 5L, 6L)), "id", "text"),
      curationRead),
    KillCase("kill-point harness: StreamCuration.absorbBatchNearDup", dir => s"$dir/c",
      dir => {
        graft.streaming.StreamCuration.initNearDup(spark, s"$dir/c", "id", "text")
        graft.streaming.StreamCuration.absorbBatchNearDup(spark, s"$dir/c",
          curationBatch(1L to 4L), "id", "text")
      },
      dir => graft.streaming.StreamCuration.absorbBatchNearDup(spark, s"$dir/c",
        curationBatch(Seq(2L, 5L, 6L)), "id", "text"),
      dir => curationRead(dir) ++ rowsOf(spark.read.parquet(s"$dir/c/minhash/sigs"))))

  killCases.foreach { c =>
    test(c.title) {
      val clean = tmpDir("kill-clean")
      c.setup(clean); c.write(clean)
      val after = c.read(clean)
      KillPoints.All.foreach { point =>
        val dir = tmpDir(s"kill-$point")
        val root = c.root(dir)
        c.setup(dir)
        val before = c.read(dir)
        val files = KillPoints.snapshot(root)
        assert(before != after, "the write must change the store")
        KillPoints.crashingAt(point)(c.write(dir))
        assert(KillPoints.debris(root).nonEmpty, s"[$point] the kill left no protocol state")
        assert(c.read(dir) == before, s"[$point] the reader saw a torn write")
        assert(KillPoints.snapshot(root) == files, s"[$point] rollback not bit-for-bit")
        assert(KillPoints.debris(root).isEmpty, s"[$point] recovery left debris")
        c.write(dir)
        assert(c.read(dir) == after, s"[$point] the replay did not land the new state")
        assert(KillPoints.debris(root).isEmpty, s"[$point] the commit left debris")
      }
    }
  }

  test("a reader arriving mid-swap must NOT roll back the live transaction") {
    val path = tmpDir("merge-live")
    val cfg = TableConfig("graft_test", "live_tbl", s"$path/t", partitionCols = Seq("year"))
    val b1 = Seq((1, "a", 2023, 10L)).toDF("id", "name", "year", "lsn")
    MergeEngine.upsert(spark, cfg, b1, Seq("id"), "lsn")

    // simulate a concurrent reader hitting recovery at every in-flight
    // point: with the writer registered, recover must be a no-op
    val observed = scala.collection.mutable.Map[String, Boolean]()
    StagedSwap.Failpoints.hook = p => observed(p) = StagedSwap.recover(spark, cfg.path)
    val b2 = Seq((1, "A2", 2023, 20L), (2, "b", 2024, 21L)).toDF("id", "name", "year", "lsn")
    try MergeEngine.upsert(spark, cfg, b2, Seq("id"), "lsn")
    finally StagedSwap.Failpoints.hook = _ => ()

    assert(observed.keySet == KillPoints.All.toSet, s"failpoints passed: ${observed.keys}")
    assert(observed.values.forall(_ == false),
      s"reader rolled back a live transaction at: ${observed.filter(_._2).keys}")
    // the swap committed despite the concurrent recovery attempts
    val t = MergeEngine.readTable(spark, cfg.path).get
    assert(t.select("id", "name").as[(Int, String)].collect().toMap
      == Map(1 -> "A2", 2 -> "b"))
    assert(KillPoints.debris(cfg.path).isEmpty)
  }

  test("recovery is idempotent and leaves no transaction debris") {
    val path = tmpDir("merge-crash-idem")
    val cfg = TableConfig("graft_test", "crash_idem_tbl", s"$path/t", partitionCols = Seq("year"))
    MergeEngine.upsert(spark, cfg,
      Seq((1, "a", 2023, 10L)).toDF("id", "name", "year", "lsn"), Seq("id"), "lsn")
    KillPoints.crashingAt("mid-swap")(MergeEngine.upsert(spark, cfg,
      Seq((1, "a2", 2023, 20L), (2, "b", 2024, 21L)).toDF("id", "name", "year", "lsn"),
      Seq("id"), "lsn"))
    assert(KillPoints.debris(cfg.path).toSet == Set("t__staging", "t__backup", "_graft_txn.json"),
      "the kill must leave staging, backup and manifest behind")
    assert(StagedSwap.recover(spark, cfg.path), "first recover must roll back")
    assert(!StagedSwap.recover(spark, cfg.path), "second recover must be a no-op")
    assert(KillPoints.debris(cfg.path).isEmpty,
      s"leftover transaction state: ${KillPoints.debris(cfg.path).mkString(",")}")
  }

  private def listFiles(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet")).map(f => f.getName + ":" + f.length()).toSet
  }
}
