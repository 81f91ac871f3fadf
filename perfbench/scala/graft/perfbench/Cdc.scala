package graft.perfbench

import graft.avro.{AvroDecode, AvroEncode}
import graft.config.TableConfig
import graft.debezium.{DebeziumCast, InMemorySchemaProvider}
import graft.functions.ConfluentWire
import graft.operators.{CdcDedup, MergeEngine}
import graft.streaming.{KafkaRecord, MemoryCdcSource, MicroBatchMerger, StreamPipeline}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The CDC replication workload, `cdc_steady`: closed-loop triggers of a
  * few thousand Debezium change events through
  * `StreamPipeline.streamToTable` with a memory source, into a table
  * partitioned 8 ways, with a snapshot read after every commit.
  *
  * Inputs are made from `--seed` alone (every cell is a seeded xxhash64
  * of the event index) and framed as Confluent Avro; the program sees
  * only the framed records. The expected replica is computed from the
  * same generated events with plain Spark, independent of the program's
  * decode, dedup and merge.
  */
object Cdc {

  val Topic = "pg.public.accounts"
  private val KeyId = 1
  private val ValueId = 10
  private val KeyJson =
    """{"type":"record","name":"accounts_key","fields":[{"name":"id","type":"long"}]}"""
  private val ValueJson =
    """{"type":"record","name":"accounts","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":["null","string"],"default":null},
      |{"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":12,"scale":2}},
      |{"name":"qty","type":"int"},
      |{"name":"updated_at","type":["null",{"type":"string","connect.name":"io.debezium.time.ZonedTimestamp"}],"default":null},
      |{"name":"__deleted","type":["null","string"],"default":null},
      |{"name":"__timestamp","type":"long"},
      |{"name":"__log_sequence_number","type":"long"}
      |]}""".stripMargin
  private val ValueCols = Seq("id", "name", "amount", "qty", "updated_at", "__deleted", "__timestamp",
    "__log_sequence_number")
  private val PartExpr = "CAST(pmod(id, 8) AS INT)"
  /** Replica columns: the value schema without `__deleted`, plus the partition. */
  private val TableCols = ValueCols.filterNot(_ == "__deleted") :+ "part"
  private val Provider = new InMemorySchemaProvider(Map(KeyId -> KeyJson, ValueId -> ValueJson))

  /** Traffic dimensions: events per trigger, Zipf(s=1) keys over 1..keys,
    * the share of deletes, how often (in batches) compaction runs, and
    * the keys 1..preload the replica holds before the stream starts.
    */
  final case class Shape(batchEvents: Int, keys: Long, deleteShare: Double, compactEvery: Int, preload: Long)

  /** A run measures about `--seconds`: a fixed count of timed triggers,
    * sized by a trigger's nominal 4 s (with its snapshot read) on 3 cores,
    * so every run does the same work.
    */
  def timedBatches(seconds: Double): Int = math.max(3, math.round(seconds / 4.0).toInt)

  /** Untimed triggers between the cold one and the timed ones: the first
    * triggers of a stream are still visibly slower while the JIT settles.
    */
  private val WarmBatches = 1

  /** Session settings of this workload: twice as many shuffle partitions
    * as cores and no AQE coalescing, so each merge writes every table
    * partition from 2 x cores tasks. Partitions then hold more files than
    * `MergeEngine.compact`'s threshold of 4, and every
    * `autoCompactEvery`-th batch folds them (with 4 shuffle partitions
    * AQE left at most 3 files per partition and compaction never ran).
    */
  private def sessionConf(a: Main.Args) = Map(
    "spark.sql.shuffle.partitions" -> (2 * a.cores).toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** Per-layer metrics of this workload, in the order [[layerMetrics]]
    * returns them; board_mix reports them as 0.
    */
  val LayerNames: Seq[String] = Seq(
    "streaming.trigger_p50_s", "streaming.add_batch_p50_s", "streaming.log_commit_p50_s",
    "merger.jobs_per_batch", "merger.sql_execs_per_batch", "merger.job_busy_s", "merger.driver_s",
    "decode.s", "decode.task_cpu_s", "dedup.s", "dedup.shuffle_bytes", "dedup.rows_out_per_in",
    "merge.write_s", "merge.files_written", "merge.partitions_written", "merge.rows_written_per_changed",
    "compact.runs", "compact.s", "read.files_scanned", "table.files")

  private def config(shape: Shape, path: String, name: String) =
    TableConfig("perfbench", name, path,
      additionalCols = Seq(s"$PartExpr AS part"), partitionCols = Seq("part"),
      autoCompactEvery = shape.compactEvery)

  /** Typed change events with global index `i` in [from, until); the LSN
    * grows with `i`, keys are log-uniform (Zipf, s = 1) over 1..keys.
    * Negative `i` is the initial snapshot: one insert of key `-i`, batch -1.
    */
  def events(spark: SparkSession, shape: Shape, seed: Long, from: Long, until: Long): DataFrame = {
    def h(tag: String): Column = xxhash64(lit(seed), lit(tag), col("i"))
    def uni(tag: String): Column = pmod(h(tag), lit(1L << 40)).cast("double") / (1L << 40).toDouble
    spark.range(from, until).toDF("i")
      .select(
        col("i"),
        when(col("i") < 0, lit(-1L)).otherwise((col("i") / shape.batchEvents).cast("long")).as("batch"),
        when(col("i") < 0, -col("i"))
          .otherwise(least(floor(exp(uni("key") * math.log(shape.keys.toDouble))).cast("long"), lit(shape.keys)))
          .as("id"),
        (col("i") >= 0 && uni("del") < shape.deleteShare).as("del"),
        concat(lit("user-"), pmod(h("name"), lit(1000000L)).cast("string")).as("name"),
        (pmod(h("amt"), lit(1000000000L)).cast("double") / 100.0).cast("decimal(12,2)").as("amount"),
        pmod(h("qty"), lit(1000L)).cast("int").as("qty"),
        timestamp_micros(lit(1700000000000000L) + col("i") * 1000L + pmod(h("ts"), lit(1000L))).as("updated_at"),
        (lit(1700000000000L) + col("i")).as("__timestamp"),
        (lit(1000000L) + col("i")).as("__log_sequence_number"))
  }

  /** Kafka-shaped records of the events: Confluent-framed Avro key and value. */
  def frames(ev: DataFrame): DataFrame = {
    val value = struct(ValueCols.map {
      case "__deleted" => when(col("del"), lit("true")).otherwise(lit("false")).as("__deleted")
      case "updated_at" => date_format(col("updated_at"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("updated_at")
      case c => col(c)
    }: _*)
    ev.select(
      lit(Topic).as("topic"),
      lit(0).as("partition"),
      col("i").as("offset"),
      timestamp_millis(col("__timestamp")).as("timestamp"),
      lit(0).as("timestampType"),
      ConfluentWire.frame(KeyId, AvroEncode.toAvroColumn(struct(col("id")), KeyJson)).as("key"),
      ConfluentWire.frame(ValueId, AvroEncode.toAvroColumn(value, ValueJson)).as("value"))
  }

  /** The events as replica rows. */
  private def asRows(ev: DataFrame): DataFrame =
    ev.select(TableCols.map {
      case "part" => expr(PartExpr).as("part")
      case c => col(c)
    }: _*)

  private def newestFirst(ev: DataFrame): DataFrame =
    ev.withColumn("__rn", row_number().over(Window.partitionBy("id").orderBy(col("i").desc)))

  /** Order-independent digest input: one canonical string per row over
    * the columns in name order (timestamps as epoch micros).
    */
  private def canonical(df: DataFrame): DataFrame = {
    val parts = TableCols.sorted.map { c =>
      val v = if (df.schema(c).dataType == TimestampType) unix_micros(col(c)).cast("string") else col(c).cast("string")
      coalesce(v, lit("␀"))
    }
    df.select(col("id"), concat_ws("\u001f", parts: _*).as("c"))
  }

  /** Row count and the sum of 64-bit row hashes. */
  private def digest(c: DataFrame): (Long, BigDecimal) = {
    val r = c.agg(count(lit(1)), sum(xxhash64(col("c")).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** A planted defect in the replica's rows, to prove the check catches it:
    * `drop_delete` keeps the last upsert image of a key whose newest event
    * is a delete; `stale_row` replaces a live key's row with an older image.
    */
  private def plant(kind: String, actual: DataFrame, ev: DataFrame): DataFrame = {
    val ranked = newestFirst(ev)
    val newest = ranked.filter(col("__rn") === 1)
    val victim = kind match {
      case "drop_delete" => ranked.filter(!col("del")).join(newest.filter(col("del")).select("id"), "id")
      case "stale_row" =>
        ranked.filter(!col("del") && col("__rn") > 1).join(newest.filter(!col("del")).select("id"), "id")
    }
    val row = victim.orderBy(col("id"), col("i").desc).limit(1).drop("__rn")
    val id = row.select("id").head().getLong(0)
    // a deleted key is absent from the replica, so the filter keeps every row then
    actual.filter(col("id") =!= id).unionByName(canonical(asRows(row)))
  }

  /** Expected live-row count after each batch in `points`. */
  private def liveCounts(spark: SparkSession, ev: DataFrame, points: Seq[Long]): Map[Long, Long] = {
    import spark.implicits._
    val perBatch = ev.withColumn("__rn", row_number().over(Window.partitionBy("id", "batch").orderBy(col("i").desc)))
      .filter(col("__rn") === 1)
      .select(col("id"), col("batch"), (!col("del")).as("live"))
      .withColumn("next", lead(col("batch"), 1, Long.MaxValue).over(Window.partitionBy("id").orderBy("batch")))
    perBatch.filter(col("live"))
      .join(broadcast(points.distinct.toDF("p")), col("p") >= col("batch") && col("p") < col("next"))
      .groupBy("p").count().as[(Long, Long)].collect().toMap.withDefaultValue(0L)
  }

  private def snapshotRead(spark: SparkSession, path: String): Long =
    MergeEngine.readTable(spark, path).get.agg(count(lit(1)), sum(col("qty"))).head().getLong(0)

  private def tableFiles(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(path))
  }

  /** Warm-up, part of set-up: one small batch through the process path
    * into a scratch table, read back, so class loading, codegen and the
    * first JIT compiles are paid before the stream starts.
    */
  private def warmUp(spark: SparkSession, a: Main.Args, shape: Shape): Unit = {
    val path = s"${a.work}/warm/table"
    val small = shape.copy(batchEvents = 2000, compactEvery = 0)
    MicroBatchMerger.process(StreamPipeline.projectEnvelope(frames(events(spark, small, a.seed ^ 0x5eedL, 0, 2000))),
      Map(Topic -> config(small, path, "warm")), Provider)
    snapshotRead(spark, path)
    ()
  }

  /** Final state check plus the per-read live-count checks. */
  private def verify(
      spark: SparkSession, a: Main.Args, rec: Recorder, shape: Shape, path: String,
      batches: Long, reads: Seq[(Long, Long)]): Unit = {
    val ev = events(spark, shape, a.seed, -shape.preload, batches * shape.batchEvents)
    rec.time("final_read") {
      val actual = canonical(MergeEngine.readTable(spark, path).get)
      digest(if (a.plant == "drop_delete" || a.plant == "stale_row") plant(a.plant, actual, ev) else actual)
    }._1.foreach { got =>
      val want = digest(canonical(asRows(newestFirst(ev).filter(col("__rn") === 1 && !col("del")))))
      rec.check(got == want, s"replica digest $got != expected $want after $batches batches")
    }
    val expectedLive = liveCounts(spark, ev, reads.map(_._1))
    reads.foreach { case (after, n) =>
      rec.check(n == expectedLive(after), s"snapshot after batch $after read $n rows, expected ${expectedLive(after)}")
    }
  }

  /** Standalone decode and dedup calls over one batch's frames, traced
    * only: envelope projection + Avro decode + Debezium casts into a
    * `noop` sink, then latest-per-key over the decoded rows. Returns the
    * dedup's rows in and out.
    */
  private def layerCalls(rec: Recorder, framed: DataFrame, parent: Int): (Long, Long) = {
    val decoded = StreamPipeline.projectEnvelope(framed)
      .select(AvroDecode.fromAvro(col("value_avro"), ValueJson).as("value"))
      .select(col("value.*"))
      .select(DebeziumCast.castColumns(ValueJson): _*)
    rec.time("decode", parent, counted = false)(decoded.write.format("noop").mode("overwrite").save())
    decoded.cache()
    val in = decoded.count()
    val deduped = CdcDedup.latestPerKeyAgg(decoded, Seq("id"), MicroBatchMerger.DefaultVersionCol)
    rec.time("dedup", parent, counted = false)(deduped.write.format("noop").mode("overwrite").save())
    val out = deduped.count()
    decoded.unpersist()
    (in, out)
  }

  /** Per-layer metrics of the traced run. */
  private def layerMetrics(
      spark: SparkSession, a: Main.Args, t: Tracer, rec: Recorder, shape: Shape, timed: Seq[Op],
      batches: Int, path: String): Seq[(String, Double)] = {
    // decode and dedup alone, over the timed batches' events; each span's
    // parent is the trigger that carried the batch
    val io = timed.zipWithIndex.map { case (trigger, k) =>
      val b = WarmBatches + 1 + k
      val f = frames(events(spark, shape, a.seed, b.toLong * shape.batchEvents, (b + 1L) * shape.batchEvents)).cache()
      f.count()
      val r = layerCalls(rec, f, trigger.id)
      f.unpersist()
      r
    }
    val changed = events(spark, shape, a.seed, (WarmBatches + 1L) * shape.batchEvents, batches.toLong * shape.batchEvents)
      .select("batch", "id").distinct().count()
    t.drain()
    def med(f: Op => Double, name: String) = Stats.median(rec.ops.filter(_.name == name).map(f).toSeq)
    val prog = t.progress.synchronized(t.progress.toSeq).filter(p => p.numInputRows > 0 && p.batchId > WarmBatches)
    def phase(keys: String*) =
      Stats.median(prog.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum / 1e3))
    val perBatchQes = timed.map(o => t.qesIn(o))
    val writes = perBatchQes.map(_.filter(q => q.isWrite && !q.isCompaction))
    // per timed trigger that compacted: the seconds of its compaction writes
    val compactions = perBatchQes.map(_.filter(_.isCompaction).map(_.durationS)).filter(_.nonEmpty).map(_.sum)
    val (in, out) = (io.map(_._1).sum, io.map(_._2).sum)
    val ls = Seq(
      "streaming.trigger_p50_s" -> phase("triggerExecution"),
      "streaming.add_batch_p50_s" -> phase("addBatch"),
      "streaming.log_commit_p50_s" -> phase("walCommit", "commitOffsets"),
      "merger.jobs_per_batch" -> Stats.median(timed.map(t.jobsIn(_).size.toDouble)),
      "merger.sql_execs_per_batch" -> Stats.median(timed.map(t.sqlExecsIn(_).toDouble)),
      "merger.job_busy_s" -> Stats.median(timed.map(t.jobBusyS)),
      "merger.driver_s" -> Stats.median(timed.map(t.driverS)),
      "decode.s" -> med(_.wallS, "decode"),
      "decode.task_cpu_s" -> med(t.taskCpuS, "decode"),
      "dedup.s" -> med(_.wallS, "dedup"),
      "dedup.shuffle_bytes" -> med(t.shuffleBytes, "dedup"),
      "dedup.rows_out_per_in" -> (if (in > 0) out.toDouble / in else 0.0),
      "merge.write_s" -> Stats.median(writes.map(_.map(_.durationS).sum)),
      "merge.files_written" -> Stats.median(writes.map(_.map(_.filesWritten).sum.toDouble)),
      "merge.partitions_written" -> Stats.median(writes.map(_.map(_.partsWritten).sum.toDouble)),
      "merge.rows_written_per_changed" ->
        (if (changed > 0) writes.flatten.map(_.rowsWritten).sum.toDouble / changed else 0.0),
      "compact.runs" -> compactions.size.toDouble,
      "compact.s" -> Stats.median(compactions),
      "read.files_scanned" -> Stats.median(rec.ops.filter(_.name == "read").map(o =>
        t.qesIn(o).map(_.filesScanned).sum.toDouble).toSeq),
      "table.files" -> tableFiles(path).toDouble)
    require(ls.map(_._1) == LayerNames, "LayerNames is out of step with layerMetrics")
    ls
  }

  def steady(a: Main.Args): Result = {
    val shape =
      if (a.tiny) Shape(500, 20000L, 0.10, compactEvery = 2, preload = 2000L)
      else Shape(4096, 1000000L, 0.10, compactEvery = 2, preload = 60000L)
    val spark = Main.session(a, sessionConf(a))
    warmUp(spark, a, shape)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val rec = new Recorder(spark)

    // input generation, untimed: the cold, warm and timed batches, framed
    // and collected to the driver for the memory source
    val g0 = System.nanoTime()
    val total = 1 + WarmBatches + timedBatches(a.seconds)
    val records = frames(events(spark, shape, a.seed, 0, total.toLong * shape.batchEvents))
      .withColumn("batch", (col("offset") / shape.batchEvents).cast("long"))
      .collect()
      .groupBy(_.getLong(7)).toSeq.sortBy(_._1)
      .map(_._2.toSeq.map(r => KafkaRecord(r.getString(0), r.getInt(1), r.getLong(2), r.getTimestamp(3),
        r.getInt(4), r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6))))

    // the replica starts from an initial snapshot of the hot keys, so each
    // trigger rewrites a table of about the same size
    val path = s"${a.work}/replica/steady"
    val cfg = config(shape, path, "steady")
    MicroBatchMerger.process(StreamPipeline.projectEnvelope(frames(events(spark, shape, a.seed, -shape.preload, 0))),
      Map(Topic -> cfg), Provider)
    val genS = (System.nanoTime() - g0) / 1e9
    val source = new MemoryCdcSource(spark)
    val query = StreamPipeline.streamToTable(spark, s"perfbench-steady-${a.seed}", source,
      Map(Topic -> cfg), s"${a.work}/checkpoint/steady", Provider)
    def trigger(b: Int, name: String) =
      rec.time(name) { source.addRecords(records(b)); query.processAllAvailable() }._2

    val cold = trigger(0, "cold_trigger")
    var batches = 1
    var alive = cold.ok
    while (alive && batches <= WarmBatches) { alive = trigger(batches, "warm_trigger").ok; batches += 1 }
    val heap = new Jvm.HeapPeak
    val gc0 = Jvm.gcSeconds()
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    while (alive && batches < records.size) {
      alive = trigger(batches, "trigger").ok
      batches += 1
      if (alive) rec.time("read")(snapshotRead(spark, path))._1.foreach(n => reads += ((batches - 1).toLong -> n))
    }
    val heapMb = heap.stop()
    val gcS = Jvm.gcSeconds() - gc0
    query.stop()

    val timed = rec.ops.filter(_.name == "trigger").toSeq
    val walls = timed.map(_.wallS)
    verify(spark, a, rec, shape, path, batches, reads.toSeq)
    val e2e = Seq(
      "setup_s" -> Main.setupSeconds(cold, genS),
      "op_p50_s" -> Stats.median(walls),
      "throughput_per_s" -> timed.size * shape.batchEvents / walls.sum,
      "cold_s" -> cold.wallS,
      "read_p50_s" -> Stats.median(rec.ops.filter(_.name == "read").map(_.wallS).toSeq),
      "op_cpu_s" -> Stats.median(timed.map(_.cpuS)),
      "heap_peak_mb" -> heapMb)
    val counts = Seq("batches" -> batches.toDouble, "jvm.gc_s" -> gcS, "input.gen_s" -> genS)
    val layers = tracer.map { t =>
      val ls = layerMetrics(spark, a, t, rec, shape, timed, batches, path)
      a.traceOut.foreach(p => java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        t.json(rec.ops.toSeq, e2e ++ counts ++ ls)))
      t.stop()
      ls ++ Board.LayerNames.map(_ -> 0.0)
    }.getOrElse(Seq.empty)
    val res = Result(rec.checksOk, math.max(1, rec.attempted), rec.failed,
      e2e ++ layers ++ counts :+ ("ops_failed_frac" -> rec.failed.toDouble / math.max(1, rec.attempted)))
    spark.stop()
    res
  }
}
