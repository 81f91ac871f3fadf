package graft

import graft.operators.UnigramLm

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Tokenizer maintenance from a STREAM: each micro-batch of documents
  * folds into the saved unigram-LM train state via foreachBatch
  * [[UnigramLm.absorbIntoSaved]] — after any batch sequence the served
  * vocabulary must equal a full retrain over everything ingested (the
  * monoid-word-count argument, exercised through the streaming path).
  */
class StreamUlmAbsorbSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch absorb over micro-batches == full retrain") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("stream-ulm")
    val b1 = Seq((1L, "abab ab cd abcd"))
    UnigramLm.trainAndSave(b1.toDF("doc_id", "text"), "text", path,
      maxPieceLen = 3, topMulti = 4, emIters = 2, prefixBuckets = 8)

    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        UnigramLm.absorbIntoSaved(batch.sparkSession, path, batch, "text")
        ()
      }
      .start()
    try {
      val b2 = Seq((2L, "abab abab cd"))
      val b3 = Seq((3L, "dd abcd ab"))
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()

      val streamed = UnigramLm.load(spark, path)
      val retrained = UnigramLm.train(
        (b1 ++ b2 ++ b3).toDF("doc_id", "text"), "text",
        maxPieceLen = 3, topMulti = 4, emIters = 2)
      assert(streamed.pieces.sortBy(_._1) == retrained.pieces.sortBy(_._1))
    } finally q.stop()
  }
}
