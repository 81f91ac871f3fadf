package graft

import graft.config.TableConfig
import graft.debezium.InMemorySchemaProvider
import graft.operators.MergeEngine
import graft.streaming.{GraftStreamingListener, KafkaRecord, MemoryCdcSource, StreamPipeline}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** End-to-end CDC replication through the streaming pipeline, mirroring
  * the reference's E2E scenarios (stream_test.py:164-460) without live
  * Kafka/Postgres: framed Confluent-Avro records flow through
  * MemoryStream -> envelope projection -> micro-batch merge -> table.
  *
  * Scenarios: initial snapshot insert; update; delete; schema evolution
  * ADD COLUMN (old rows null); DROP COLUMN (column persists, new rows
  * null); stale-replay idempotency.
  */
class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val Topic = "pg.public.users"
  private val KeyId = 1
  private val ValueIdV1 = 10
  private val ValueIdV2 = 11

  private val provider = new InMemorySchemaProvider(Map(
    KeyId -> AvroTestData.usersKeySchema,
    ValueIdV1 -> AvroTestData.usersValueSchemaV1,
    ValueIdV2 -> AvroTestData.usersValueSchemaV2))

  private var offset = 0L

  private def record(
      id: Int,
      name: String,
      lsn: Long,
      deleted: Boolean = false,
      valueSchemaId: Int = ValueIdV1,
      valueSchemaJson: String = AvroTestData.usersValueSchemaV1,
      phone: Option[String] = None): KafkaRecord = {
    offset += 1
    val values = Map[String, Any](
      "id" -> id,
      "name" -> name,
      "email" -> s"$name@example.com",
      "created_at" -> 19968,
      "updated_at" -> "2024-09-02T08:30:00Z",
      "__deleted" -> (if (deleted) "true" else "false"),
      "__timestamp" -> (1725264600000L + lsn),
      "__log_sequence_number" -> lsn) ++
      phone.map(p => "phone_number" -> p).toMap
    KafkaRecord(
      topic = Topic,
      partition = 0,
      offset = offset,
      timestamp = new Timestamp(1725264600000L + lsn),
      timestampType = 0,
      key = AvroTestData.message(KeyId, AvroTestData.usersKeySchema, Map("id" -> id)),
      value = AvroTestData.message(valueSchemaId, valueSchemaJson, values))
  }

  test("CDC e2e: insert, update, stale replay, delete, schema evolution") {
    val base = tmpDir("stream-e2e")
    val cfg = TableConfig("graft_test", "users_stream", s"$base/users")
    val listener = new GraftStreamingListener
    spark.streams.addListener(listener)
    val source = new MemoryCdcSource(spark)
    val query = StreamPipeline.streamToTable(
      spark,
      queryName = s"users-e2e-${System.nanoTime()}",
      source = source,
      configs = Map(Topic -> cfg),
      checkpointLocation = s"$base/ckpt",
      provider = provider,
      trigger = Trigger.ProcessingTime(0))
    // a catalog reader sees every commit: the rows readTable reads, and
    // the columns schema evolution added
    def assertCatalogRead(t: DataFrame): Unit = {
      val viaCatalog = spark.table(cfg.qualifiedName)
      assert(viaCatalog.columns.toSet == t.columns.toSet)
      def rows(df: DataFrame) = df.select(t.columns.map(col).toSeq: _*)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      assert(rows(viaCatalog) == rows(t))
    }
    try {
      assert(query.isActive)

      // batch 1: initial snapshot — 5 inserts
      source.addRecords((1 to 5).map(i => record(i, s"user$i", lsn = i * 10L)))
      query.processAllAvailable()
      val t1 = MergeEngine.readTable(spark, cfg.path).get
      assertCatalogRead(t1)
      assert(t1.count() == 5)
      assert(t1.schema.fieldNames.contains("__log_sequence_number"))
      assert(!t1.schema.fieldNames.contains("__deleted"), "__deleted must not reach the target")

      // batch 2: update 2 rows (newer lsn), replay 1 stale change (older lsn)
      source.addRecords(Seq(
        record(1, "user1-renamed", lsn = 100L),
        record(2, "user2-renamed", lsn = 101L),
        record(3, "user3-stale", lsn = 1L))) // must NOT overwrite lsn=30
      query.processAllAvailable()
      val t2 = MergeEngine.readTable(spark, cfg.path).get
      assertCatalogRead(t2)
      assert(t2.count() == 5)
      val names = t2.select("id", "name").as[(Int, String)].collect().toMap
      assert(names(1) == "user1-renamed" && names(2) == "user2-renamed")
      assert(names(3) == "user3", "stale replay overwrote a newer row")

      // batch 3: delete 2 rows (tombstones with low lsn still delete - J2)
      source.addRecords(Seq(
        record(1, "user1-renamed", lsn = 2L, deleted = true),
        record(4, "user4", lsn = 200L, deleted = true)))
      query.processAllAvailable()
      val t3 = MergeEngine.readTable(spark, cfg.path).get
      assertCatalogRead(t3)
      assert(t3.select("id").as[Int].collect().sorted.toSeq == Seq(2, 3, 5))

      // batch 4: schema evolution — v2 adds phone_number
      source.addRecords(Seq(
        record(6, "user6", lsn = 300L, valueSchemaId = ValueIdV2,
          valueSchemaJson = AvroTestData.usersValueSchemaV2, phone = Some("555-0100"))))
      query.processAllAvailable()
      val t4 = MergeEngine.readTable(spark, cfg.path).get
      assertCatalogRead(t4)
      assert(t4.count() == 4)
      assert(t4.schema.fieldNames.contains("phone_number"))
      assert(spark.table(cfg.qualifiedName).columns.contains("phone_number"))
      val phones = t4.select("id", "phone_number").as[(Int, Option[String])].collect().toMap
      assert(phones(6).contains("555-0100"))
      assert(phones(2).isEmpty, "pre-evolution rows must read null for the new column")

      // batch 5: DROP COLUMN — v1 records again; phone_number persists as null
      source.addRecords(Seq(record(7, "user7", lsn = 400L)))
      query.processAllAvailable()
      val t5 = MergeEngine.readTable(spark, cfg.path).get
      assertCatalogRead(t5)
      assert(t5.count() == 5)
      assert(t5.schema.fieldNames.contains("phone_number"), "dropped column must persist")
      assert(spark.table(cfg.qualifiedName).columns.contains("phone_number"))
      assert(t5.filter(col("id") === 7).select("phone_number").collect().head.isNullAt(0))

      // listener saw the rows
      assert(listener.rowsProcessed >= 12)
      assert(listener.error.isEmpty)
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("one batch carrying BOTH schema versions: pairs apply in ascending registry order") {
    val base = tmpDir("stream-mixed")
    val cfg = TableConfig("graft_test", s"users_mixed${System.nanoTime()}", s"$base/users")
    val source = new MemoryCdcSource(spark)
    val query = StreamPipeline.streamToTable(
      spark, s"mixed-${System.nanoTime()}", source, Map(Topic -> cfg), s"$base/ckpt", provider)
    try {
      // v1 and v2 records of the SAME key in the SAME micro-batch; the
      // v2 change (higher lsn, adds phone) must win, and v1-only keys
      // must land with a null phone
      source.addRecords(Seq(
        record(1, "v1-name", lsn = 10L), // v1
        record(1, "v2-name", lsn = 20L, valueSchemaId = ValueIdV2,
          valueSchemaJson = AvroTestData.usersValueSchemaV2, phone = Some("555")),
        record(2, "only-v1", lsn = 11L)))
      query.processAllAvailable()
      val t = MergeEngine.readTable(spark, cfg.path).get
      assert(t.count() == 2)
      val rows = t.select("id", "name", "phone_number")
        .as[(Int, String, Option[String])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows(1) == (("v2-name", Some("555"))))
      assert(rows(2) == (("only-v1", None)))
    } finally query.stop()
  }

  test("FAILFAST: corrupt payload fails the query and the listener captures it") {
    val base = tmpDir("stream-corrupt")
    val cfg = TableConfig("graft_test", s"users_corrupt${System.nanoTime()}", s"$base/users")
    val listener = new GraftStreamingListener
    spark.streams.addListener(listener)
    val source = new MemoryCdcSource(spark)
    val query = StreamPipeline.streamToTable(
      spark, s"corrupt-${System.nanoTime()}", source, Map(Topic -> cfg), s"$base/ckpt", provider)
    try {
      val corrupt = record(1, "x", lsn = 1L)
        .copy(value = AvroTestData.frame(ValueIdV1, Array[Byte](0x7f, 0x01)))
      source.addRecords(Seq(corrupt))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      // allow the termination event to propagate
      val deadline = System.currentTimeMillis() + 10000
      while (!listener.isTerminated && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(listener.isTerminated)
      assert(listener.error.exists(_.contains("FAILFAST")),
        s"listener error was: ${listener.error}")
    } finally {
      if (query.isActive) query.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("PERMISSIVE: corrupt payload dropped, valid records land, stream stays alive") {
    val base = tmpDir("stream-permissive")
    val cfg = TableConfig("graft_test", s"users_perm${System.nanoTime()}", s"$base/users")
    val source = new MemoryCdcSource(spark)
    val query = StreamPipeline.streamToTable(
      spark, s"perm-${System.nanoTime()}", source, Map(Topic -> cfg), s"$base/ckpt",
      provider, failFast = false)
    try {
      val corrupt = record(1, "x", lsn = 1L)
        .copy(value = AvroTestData.frame(ValueIdV1, Array[Byte](0x7f, 0x01)))
      source.addRecords(Seq(corrupt, record(2, "ok", lsn = 2L)))
      query.processAllAvailable()
      assert(query.isActive)
      val t = MergeEngine.readTable(spark, cfg.path).get
      assert(t.select("id").as[Int].collect().toSeq == Seq(2))
    } finally query.stop()
  }

  test("streaming query management: active list + stop") {
    val base = tmpDir("stream-mgmt")
    val cfg = TableConfig("graft_test", "users_mgmt", s"$base/users")
    val source = new MemoryCdcSource(spark)
    val name = s"mgmt-${System.nanoTime()}"
    val query = StreamPipeline.streamToTable(
      spark, name, source, Map(Topic -> cfg), s"$base/ckpt", provider)
    try {
      assert(spark.streams.active.exists(_.name == name))
    } finally query.stop()
    assert(!spark.streams.active.exists(_.name == name))
  }
}
