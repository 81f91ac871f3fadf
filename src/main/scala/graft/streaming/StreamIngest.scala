package graft.streaming

import graft.sources.FileManifest

import org.apache.spark.sql.DataFrame

/** Manifest-maintained streaming ingest: the foreachBatch body that
  * keeps a [[FileManifest]] current while a stream appends parquet —
  * the table-format-log shape without a table format. Each micro-batch
  * appends its rows, then the manifest absorbs footer stats for
  * EXACTLY the files that batch wrote ([[FileManifest
  * .appendToManifest]] — O(batch files) footer reads; the known-file
  * set collect is the same driver memory Spark's own file index
  * spends). Readers prune with [[FileManifest.readPruned]] at any
  * point between batches; the first batch bootstraps the manifest.
  *
  * Combined with a sorted/range-partitioned batch write (z-order
  * upstream), this is how a forever-running ingest keeps its
  * table point-queryable at 100 TB without ever re-scanning old data.
  */
object StreamIngest {

  /** Append one micro-batch and maintain the manifest.
    *
    * @return number of files the manifest absorbed this batch
    */
  def appendWithManifest(
      batch: DataFrame,
      tablePath: String,
      manifestPath: String,
      statCols: Seq[String]): Long = {
    val spark = batch.sparkSession
    batch.write.mode("append").parquet(tablePath)
    val p = new org.apache.hadoop.fs.Path(manifestPath)
    val exists = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    if (exists) FileManifest.appendToManifest(spark, tablePath, manifestPath, statCols)
    else {
      FileManifest.saveManifest(FileManifest.build(spark, tablePath, statCols), manifestPath)
      // count from the SAVED manifest — recounting the unpersisted
      // build plan would re-read every footer a second time
      FileManifest.loadManifest(spark, manifestPath)
        .select(org.apache.spark.sql.functions.col("file")).distinct().count()
    }
  }
}
