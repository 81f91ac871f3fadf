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
  * merge first — ids are monotone; the topic slice is additionally
  * cached only when several pairs will re-read it) -> per pair: pk cols
  * from the key schema, FAILFAST Avro decode, struct expansion,
  * Debezium casts, W1 latest-per-key dedup, additional cols, memoized
  * create-table, then ONE [[MergeEngine.apply]] — the change set's
  * routing, strict-LSN upsert and pk-only delete in one transaction,
  * which runs no delete probe when the `additionalCols` projection
  * derives every partition column from the pk
  * ([[MergeEngine.partitionsFollowPk]]).
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
          // the slice cache (S7) only pays for itself when several
          // schema pairs re-read the same topic's rows; a single-pair
          // topic reads straight from the cached batch
          val current =
            if (pairs.length > 1) batch.filter(col("topic") === topic).cache() else batch
          try {
            pairs.foreach { case (keyId, valueId) =>
              val keyJson = provider.schemaJson(keyId)
              val valueJson = provider.schemaJson(valueId)
              val pkCols = AvroSchemas.fieldNames(keyJson)

              val slice = current
                .filter(col("topic") === topic)
                .filter(col("key_schema_id") === keyId)
                .filter(col("value_schema_id") === valueId)
              val raw = slice
                .select(
                  AvroDecode.fromAvro(col("value_avro"), valueJson, failFast = failFast)
                    .as("value"))
              val decoded = (if (failFast) raw else raw.filter(col("value").isNotNull))
                .select(col("value.*"))
                .select(DebeziumCast.castColumns(valueJson): _*)

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
          } finally { if (current ne batch) { current.unpersist(); () } }
        }
      }
    } finally { batch.unpersist(); () }
  }
}
