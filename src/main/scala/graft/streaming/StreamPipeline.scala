package graft.streaming

import graft.config.TableConfig
import graft.debezium.SchemaProvider
import graft.functions.ConfluentWire

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The public streaming entry point — capability-parity with the
  * reference's `stream_to_delta` (reference: stream.py:161-235):
  * source -> Confluent-envelope projection -> foreachBatch merge loop,
  * with checkpointed offsets, update output mode, processing-time
  * trigger, and a started-alive check.
  *
  * The Confluent envelope columns are native Column expressions
  * (codegen'd, no Python/UDF round-trip — see
  * [[graft.functions.ConfluentWire]]), which removes the reference's
  * per-batch executor->Python-worker serialization entirely.
  */
object StreamPipeline {

  /** Projection of a Kafka-shaped DataFrame to the merge-loop input
    * (reference: stream.py:209-218): Kafka metadata + key/value schema
    * ids + raw Avro payload.
    */
  def projectEnvelope(raw: DataFrame): DataFrame =
    raw.select(
      col("topic"),
      col("partition"),
      col("offset"),
      col("timestamp"),
      col("timestampType"),
      ConfluentWire.schemaId(col("key")).as("key_schema_id"),
      ConfluentWire.schemaId(col("value")).as("value_schema_id"),
      ConfluentWire.avroPayload(col("value")).as("value_avro"))

  def streamToTable(
      spark: SparkSession,
      queryName: String,
      source: CdcSource,
      configs: Map[String, TableConfig],
      checkpointLocation: String,
      provider: SchemaProvider,
      trigger: Trigger = Trigger.ProcessingTime(0),
      failFast: Boolean = true): StreamingQuery = {
    val projected = projectEnvelope(source.load(spark))
    val query = projected.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointLocation)
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        MicroBatchMerger.process(batch, configs, provider, failFast)
      }
      .start()
    if (!query.isActive)
      throw new IllegalStateException(
        s"streaming query '$queryName' failed to start: ${query.exception.map(_.toString).getOrElse("unknown")}")
    query
  }
}
