package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming analytics directly over the CDC wire: decode the Confluent
  * envelope in-stream (same native expressions as the merge path) and
  * expose the typed change-event stream for event-time analytics
  * ([[WindowedAggs]], [[Sessionize]]) — no table round trip.
  *
  * Unlike [[MicroBatchMerger]] (which resolves schemas per batch), an
  * analytics stream binds ONE value schema at plan time — the
  * watermark/window machinery needs a fixed schema. Feed it one topic
  * and the current schema version; replan on evolution.
  */
object StreamAnalytics {

  /** Typed change-event stream: envelope projection -> payload decode ->
    * struct expansion -> Debezium casts -> event-time column from the
    * Debezium commit timestamp (`__timestamp`, epoch millis).
    */
  def decodedEvents(
      spark: SparkSession,
      source: CdcSource,
      valueSchemaJson: String,
      eventTimeCol: String = "event_time",
      timestampCol: String = "__timestamp"): DataFrame = {
    StreamPipeline
      .decodeValues(StreamPipeline.projectEnvelope(source.load(spark)), valueSchemaJson, failFast = true)
      .withColumn(eventTimeCol, timestamp_millis(col(timestampCol)))
  }
}
