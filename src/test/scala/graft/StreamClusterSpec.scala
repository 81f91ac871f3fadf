package graft

import graft.operators.Clustering

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Incremental dedup clustering from a STREAM: each micro-batch of
  * near-dup edges folds into the saved cluster store via foreachBatch
  * [[Clustering.absorbEdges]] — after any sequence of batches the
  * resolved labels must equal a batch rebuild over every edge
  * ingested (the min-root invariant makes absorb order-insensitive
  * for the final labeling).
  */
class StreamClusterSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch absorbEdges over micro-batches == batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("stream-cluster")
    val b1 = Seq((1L, 2L), (10L, 11L), (20L, 21L))
    Clustering.saveClusters(
      Clustering.connectedComponents(b1.toDF("a", "b"), "a", "b"),
      path, prefixBuckets = 8)

    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("a", "b").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Clustering.absorbEdges(batch.sparkSession, path, batch, "a", "b")
      }
      .start()
    try {
      // batch 2 bridges {1,2} and {10,11} through a new node; batch 3
      // chains {20,21} into that merged component and adds a fresh pair
      val b2 = Seq((2L, 100L), (100L, 11L))
      val b3 = Seq((11L, 20L), (40L, 41L))
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()

      val streamed = Clustering
        .resolvedLabels(Clustering.loadClusters(spark, path))
        .as[(Long, Long)].collect().toMap
      val rebuilt = Clustering
        .connectedComponents((b1 ++ b2 ++ b3).toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(streamed == rebuilt)
      assert(streamed(21L) == 1L && streamed(40L) == 40L)
    } finally q.stop()
  }
}
