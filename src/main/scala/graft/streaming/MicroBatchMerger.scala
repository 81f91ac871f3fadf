package graft.streaming

import graft.avro.{AvroDecode, AvroSchemas}
import graft.config.TableConfig
import graft.debezium.{DebeziumCast, SchemaProvider}
import graft.operators.{CdcDedup, MergeEngine}
import graft.util.SessionScopedCache

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The micro-batch merge closure — the engine's core control flow,
  * with the same SEMANTICS as the reference's driver-orchestrated loop
  * (reference: stream.py:39-156, traced in SURVEY.md §3.2) but fewer
  * fixed per-batch jobs:
  *
  * cache batch -> ONE metadata job: a map-side pass (no exchange) that
  * fills the batch cache while each task keeps its distinct (topic,
  * key_schema_id, value_schema_id) triples, merged on the driver (the
  * reference runs a topics pass plus a pairs pass per topic) -> per
  * topic, pairs in ascending registry order (older schema versions
  * merge first — ids are monotone) -> per pair: its rows filtered from
  * the cached batch, pk cols from the key schema, the payload decode
  * ([[decodeValues]]), W1 latest-per-key dedup,
  * additional cols, memoized create-table, then ONE
  * [[MergeEngine.apply]] — the change set's routing, strict-LSN upsert
  * and pk-only delete in one transaction, which runs no delete probe
  * when the `additionalCols` projection derives every partition column
  * from the pk ([[MergeEngine.partitionsFollowPk]]).
  */
object MicroBatchMerger {

  /** The decoded value's tombstone flag and version (LSN) columns. */
  val DefaultDeletedCol = "__deleted"
  val DefaultVersionCol = "__log_sequence_number"

  /** @param failFast true (reference parity): a malformed Avro payload
    *                  fails the batch (and so the query). false:
    *                  PERMISSIVE — malformed payloads decode to null
    *                  and are dropped, the stream keeps running.
    */
  def process(
      batch: DataFrame,
      configs: Map[String, TableConfig],
      provider: SchemaProvider,
      failFast: Boolean = true): Unit = {
    val spark = batch.sparkSession
    batch.cache()
    try {
      // ONE metadata job for the whole batch, which also fills its
      // cache: each task keeps its own distinct (topic, key_id,
      // value_id) set, and the driver merges them — no exchange, where
      // a distinct() adds a shuffle stage and its own job
      val meta = batch.select("topic", "key_schema_id", "value_schema_id").rdd
        .mapPartitions(_.toSet.iterator)
        .collect()
        .distinct
      meta.groupBy(_.getString(0)).toSeq.sortBy(_._1).foreach { case (topic, rows) =>
        configs.get(topic).foreach { cfg =>
          // older schema versions merge first — registry ids are monotone
          val pairs = rows.map(r => (r.getInt(1), r.getInt(2))).sortBy { case (k, v) => (v, k) }
          pairs.foreach { case (keyId, valueId) =>
            val keyJson = provider.schemaJson(keyId)
            val valueJson = provider.schemaJson(valueId)
            val pkCols = AvroSchemas.fieldNames(keyJson)
            val slice = batch.filter(col("topic") === topic &&
              col("key_schema_id") === keyId && col("value_schema_id") === valueId)
            val decoded = decodeValues(slice, valueJson, failFast)
            val deduped = CdcDedup.latestPerKeyAgg(decoded, pkCols, DefaultVersionCol)
            // one projection, also with no additionalCols: MergeEngine
            // reads from it whether the partition columns follow the pk
            val changes =
              deduped.select(deduped.columns.map(col).toSeq ++ cfg.additionalCols.map(expr): _*)
            // per-(application, table) memo: the ensure is idempotent
            // DDL, so after the first success per session its two
            // catalog roundtrips per micro-batch are pure fixed cost
            SessionScopedCache.getOrElseUpdate(spark, "ensured:" + cfg.qualifiedName) {
              MergeEngine.createTableIfNotExists(
                spark, StructType(changes.schema.filterNot(_.name == DefaultDeletedCol)), cfg)
              true
            }
            MergeEngine(spark, cfg, changes, pkCols, DefaultVersionCol, DefaultDeletedCol)
          }
          if (cfg.autoCompactEvery > 0) {
            val n = SessionScopedCache
              .getOrElseUpdate(spark, "batches:" + cfg.qualifiedName)(new java.util.concurrent.atomic.AtomicLong)
              .incrementAndGet()
            if (n % cfg.autoCompactEvery == 0) { MergeEngine.compact(spark, cfg); () }
          }
        }
      }
    } finally { batch.unpersist(); () }
  }

  /** The payload decode: Avro decode of `value_avro` (FAILFAST, or
    * PERMISSIVE with the malformed rows, decoded to null, dropped),
    * struct expansion, then the Debezium casts.
    */
  private def decodeValues(
      envelope: DataFrame,
      valueSchemaJson: String,
      failFast: Boolean): DataFrame = {
    val raw = envelope.select(
      AvroDecode.fromAvro(col("value_avro"), valueSchemaJson, failFast = failFast).as("value"))
    (if (failFast) raw else raw.filter(col("value").isNotNull))
      .select(col("value.*"))
      .select(DebeziumCast.castColumns(valueSchemaJson): _*)
  }
}
