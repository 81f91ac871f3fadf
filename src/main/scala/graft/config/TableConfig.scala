package graft.config

/** Target-table configuration for CDC replication.
  *
  * Mirrors the capability of the reference's `DeltaTableConfig`
  * (reference: src/kafka2delta/config/config.py:4-29): a catalog
  * schema/table, a storage path, optional derived columns appended to the
  * decoded schema (SQL expression strings such as
  * `"YEAR(created_at) AS year"`), and optional partition columns (which
  * must be produced by `additionalCols` or exist in the decoded schema).
  *
  * `partitionCols` participate in the upsert merge keys so the merge can
  * prune target partitions (reference: stream.py:116-117). They must
  * be fixed per key: derived from the pk (`CAST(pmod(id, 8) AS INT)`,
  * which also spares a delete its pre-state probe) or from a column
  * that never changes. An update that moves a key to another partition
  * value leaves its old row behind.
  *
  * @param autoCompactEvery when > 0, [[graft.streaming.MicroBatchMerger]]
  *                  runs [[graft.operators.MergeEngine.compact]] on this
  *                  table after every Nth processed micro-batch: one
  *                  read, one exchange and one commit that rewrite every
  *                  oversized partition together. Micro-batch merges
  *                  intentionally never repartition on write (an extra
  *                  shuffle per batch), so file counts grow with batch
  *                  count until compaction folds them (the OPTIMIZE
  *                  model). 0 (default) = caller compacts explicitly.
  */
final case class TableConfig(
    schema: String,
    tableName: String,
    path: String,
    additionalCols: Seq[String] = Seq.empty,
    partitionCols: Seq[String] = Seq.empty,
    autoCompactEvery: Int = 0) {
  require(schema.nonEmpty, "schema must be non-empty")
  require(tableName.nonEmpty, "tableName must be non-empty")

  /** `schema.tableName` (reference: config.py:24-29). */
  def qualifiedName: String = s"$schema.$tableName"
}
