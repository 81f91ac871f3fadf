package graft.queries

import graft.SparkEntry.{scratchDir, sessionScratchDir}
import graft.sources.Tables
import graft.util.SessionScopedCache

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout: z-order file ranges, footer manifests and
  * manifest-pruned reads, bucket joins, and compaction.
  */
object Layout {

  val queries: Seq[Query] = Seq(
    // compaction planner: the oracle replays the whole chain — the
    // deterministic inventory, the running-sum cut (integer //), the
    // keep-big-files rule, and the per-group roll-up
    Query("compaction_plan", compactionPlan)(
      """WITH inv AS (
        |  SELECT year(o_orderdate) AS part,
        |         'f' || lpad(CAST(o_orderkey % 40 AS VARCHAR), 2, '0') AS file,
        |         CAST(count(*) * CASE WHEN (o_orderkey % 40) % 17 = 0
        |                              THEN 500 ELSE 50 END AS BIGINT) AS bytes
        |  FROM orders GROUP BY 1, o_orderkey % 40),
        |small AS (
        |  SELECT part, file, bytes,
        |         CAST((sum(bytes) OVER (PARTITION BY part ORDER BY file
        |            ROWS UNBOUNDED PRECEDING) - bytes) // 8192 AS BIGINT) AS grp
        |  FROM inv WHERE bytes < 8192),
        |big AS (
        |  SELECT part, file, bytes,
        |         -CAST(row_number() OVER (PARTITION BY part ORDER BY file)
        |               AS BIGINT) AS grp
        |  FROM inv WHERE bytes >= 8192),
        |u AS (SELECT * FROM small UNION ALL SELECT * FROM big),
        |lab AS (
        |  SELECT *, CASE WHEN grp >= 0 AND
        |                      count(*) OVER (PARTITION BY part, grp) > 1
        |                 THEN 'rewrite' ELSE 'keep' END AS action FROM u)
        |SELECT part, grp, action, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       min(file) AS first_file, max(file) AS last_file
        |FROM lab GROUP BY 1, 2, 3
        |ORDER BY part, grp""".stripMargin),
    // compaction EXECUTION: identity-class manifest recount — the
    // oracle replays the planted inventory (2 years x 8 orderkey
    // slots, fixed byte weights) and the same ROWS running-sum cut,
    // keeps the multi-member groups, and asserts the operator's
    // one-file-per-group promise as the literal n_files = 1; the
    // engine side reads n_files, row counts, and the orderkey
    // checksum back from the LIVE rewritten layout
    Query("compaction_execute", compactionExecute)(
      """WITH base AS (
        |  SELECT year(o_orderdate) AS part, o_orderkey % 8 AS slot, o_orderkey
        |  FROM orders
        |  WHERE o_orderdate >= DATE '1995-01-01'
        |    AND o_orderdate < DATE '1997-01-01'),
        |inv AS (
        |  SELECT part, slot,
        |         'p' || part || '_s' || lpad(CAST(slot AS VARCHAR), 2, '0') AS file,
        |         CASE WHEN slot = 0 THEN 5000 ELSE 1000 END AS bytes,
        |         count(*) AS n, sum(o_orderkey) AS key_sum
        |  FROM base GROUP BY 1, 2),
        |small AS (
        |  SELECT *,
        |         CAST((sum(bytes) OVER (PARTITION BY part ORDER BY file
        |            ROWS UNBOUNDED PRECEDING) - bytes) // 2500 AS BIGINT) AS grp
        |  FROM inv WHERE bytes < 2500),
        |grpd AS (
        |  SELECT part, grp, count(*) AS members,
        |         sum(n) AS n_rows, sum(key_sum) AS key_sum
        |  FROM small GROUP BY 1, 2)
        |SELECT CAST(part AS BIGINT) AS part, grp,
        |       CAST(1 AS BIGINT) AS n_files,
        |       CAST(members AS BIGINT) AS n_src_files,
        |       CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(key_sum AS BIGINT) AS key_sum
        |FROM grpd WHERE members > 1
        |ORDER BY part, grp""".stripMargin),
    // bucket join: plain join replay; the shuffle-free plan verdict
    // is asserted true (the countmin_tokens in-plan verdict pattern)
    Query("bucket_join", bucketJoinQ)(
      """SELECT o.o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |  true AS shuffle_free
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey <= 3000 AND l.l_orderkey <= 3000
        |GROUP BY o.o_orderstatus
        |ORDER BY o.o_orderstatus""".stripMargin),
    // z-order: range-normalized buckets, the 16-term Morton bit sum,
    // value-range file split, per-file min/max windows
    Query("zorder_layout", zorderLayout)(
      """WITH t AS (SELECT CAST(o_custkey AS BIGINT) AS a,
        |                  CAST(o_orderkey AS BIGINT) AS b FROM orders),
        |bounds AS (SELECT min(a) AS mna, max(a) AS mxa,
        |                  min(b) AS mnb, max(b) AS mxb FROM t),
        |bk AS (SELECT a, b,
        |  (a - mna) * 256 // (mxa - mna + 1) AS ba,
        |  (b - mnb) * 256 // (mxb - mnb + 1) AS bb
        |  FROM t, bounds),
        |z AS (SELECT a, b,
        |  ((ba // 1) % 2) * 2 + ((ba // 2) % 2) * 8 +
        |  ((ba // 4) % 2) * 32 + ((ba // 8) % 2) * 128 +
        |  ((ba // 16) % 2) * 512 + ((ba // 32) % 2) * 2048 +
        |  ((ba // 64) % 2) * 8192 + ((ba // 128) % 2) * 32768 +
        |  ((bb // 1) % 2) * 1 + ((bb // 2) % 2) * 4 +
        |  ((bb // 4) % 2) * 16 + ((bb // 8) % 2) * 64 +
        |  ((bb // 16) % 2) * 256 + ((bb // 32) % 2) * 1024 +
        |  ((bb // 64) % 2) * 4096 + ((bb // 128) % 2) * 16384 AS zv
        |  FROM bk),
        |zb AS (SELECT min(zv) AS zmn, max(zv) AS zmx FROM z),
        |f AS (SELECT a, b, (zv - zmn) * 16 // (zmx - zmn + 1) AS file_id
        |      FROM z, zb)
        |SELECT CAST(file_id AS BIGINT) AS file_id,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(a) AS BIGINT) AS min_o_custkey,
        |  CAST(max(a) AS BIGINT) AS max_o_custkey,
        |  CAST(min(b) AS BIGINT) AS min_o_orderkey,
        |  CAST(max(b) AS BIGINT) AS max_o_orderkey
        |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin),
    // manifest gate: same replay as zorder_layout (the write is the
    // same deterministic file split); footer_ok asserted true — the
    // footer==scan agreement check runs in-plan Spark-side
    Query("file_manifest_stats", fileManifestStats)(
      """WITH t AS (SELECT CAST(o_custkey AS BIGINT) AS a,
        |                  CAST(o_orderkey AS BIGINT) AS b FROM orders),
        |bounds AS (SELECT min(a) AS mna, max(a) AS mxa,
        |                  min(b) AS mnb, max(b) AS mxb FROM t),
        |bk AS (SELECT a, b,
        |  (a - mna) * 256 // (mxa - mna + 1) AS ba,
        |  (b - mnb) * 256 // (mxb - mnb + 1) AS bb
        |  FROM t, bounds),
        |z AS (SELECT a, b,
        |  ((ba // 1) % 2) * 2 + ((ba // 2) % 2) * 8 +
        |  ((ba // 4) % 2) * 32 + ((ba // 8) % 2) * 128 +
        |  ((ba // 16) % 2) * 512 + ((ba // 32) % 2) * 2048 +
        |  ((ba // 64) % 2) * 8192 + ((ba // 128) % 2) * 32768 +
        |  ((bb // 1) % 2) * 1 + ((bb // 2) % 2) * 4 +
        |  ((bb // 4) % 2) * 16 + ((bb // 8) % 2) * 64 +
        |  ((bb // 16) % 2) * 256 + ((bb // 32) % 2) * 1024 +
        |  ((bb // 64) % 2) * 4096 + ((bb // 128) % 2) * 16384 AS zv
        |  FROM bk),
        |zb AS (SELECT min(zv) AS zmn, max(zv) AS zmx FROM z),
        |f AS (SELECT a, b, (zv - zmn) * 16 // (zmx - zmn + 1) AS file_id
        |      FROM z, zb)
        |SELECT CAST(file_id AS BIGINT) AS file_id,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(a) AS BIGINT) AS min_o_custkey,
        |  CAST(max(a) AS BIGINT) AS max_o_custkey,
        |  CAST(min(b) AS BIGINT) AS min_o_orderkey,
        |  CAST(max(b) AS BIGINT) AS max_o_orderkey,
        |  true AS footer_ok
        |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin),
    // manifest-pruned reads: pruning is conservative-lossless, so the
    // pruned scan replays as the plain filtered aggregate; pruned_ok
    // (kept>0 AND kept<total files) is asserted in-plan Spark-side
    Query("manifest_pruned_read", manifestPrunedRead)(
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
        |  true AS pruned_ok
        |FROM orders WHERE o_custkey BETWEEN 100 AND 180
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("manifest_pruned_read_string", manifestPrunedReadString)(
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  true AS pruned_ok
        |FROM documents WHERE source >= 'src2' AND source <= 'src4'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("manifest_incremental", manifestIncremental)(
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
        |  true AS inc_ok
        |FROM orders WHERE o_custkey BETWEEN 100 AND 180
        |GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** Z-order layout diagnostic ([[graft.operators.ZOrder.fileRanges]])
    * over orders keyed on (o_custkey, o_orderkey): range-normalized
    * 8-bit buckets, the 16-term Morton interleave, value-range
    * assignment into 16 files, and each file's min/max window on BOTH
    * columns — the parquet-footer ranges a scan planner prunes on.
    * BIT-EXACT: buckets, the bit sum, and the file split are integral
    * closed forms the SQL replays term for term.
    */
  private def zorderLayout(s: SparkSession, dir: String): DataFrame =
    zFileRanges(s, dir).orderBy(col("file_id"))

  /** The closed-form per-file ranges of orders' z-layout, a pure
    * function of (session, dir), served by `zorder_layout` and used by
    * `file_manifest_stats` as the reference its parquet footers must
    * equal. Sixteen rows, so it is persisted rather than settled and
    * its plan stays visible. The first call's own job fills the cache;
    * an eager `count()` here made cold `zorder_layout` about 1 s slower
    * (sf0.1, `local[3]` on 4 vCPUs).
    */
  private def zFileRanges(s: SparkSession, dir: String): DataFrame =
    SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#zlayout-file-ranges") {
      graft.operators.ZOrder
        .fileRanges(
          Tables(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
          Seq("o_custkey", "o_orderkey"), bits = 8, numFiles = 16)
        .persist()
    }

  /** The session's z-bucketed copy of orders' keys (written once per
    * (session, dir), the "zlayout:" entry): one parquet dir per value-
    * range file bucket. ONE file per bucket dir (the AggStore.save
    * small-file guard): without the repartition every scan task writes
    * every file_id it sees, so the layout carried tasks x buckets files
    * — an AQE-task-count-dependent footer-read bill (measured 198 vs
    * 497 CPU-s for the same sf1 bench across two r18 runs) and exactly
    * the small-file shape guide S6 warns about. Per-bucket stats,
    * pruning, and the oracle's closed-form replay are file-count-
    * invariant, so results are unchanged.
    */
  private def zLayoutPath(s: SparkSession, dir: String, ordersKeys: DataFrame): String =
    SessionScopedCache.getOrElseUpdate(s, "zlayout:" + dir) {
      val p = scratchDir("graft-zlayout")
      graft.operators.ZOrder.withFileId(ordersKeys, Seq("o_custkey", "o_orderkey"))
        .repartition(col("file_id"))
        .write.mode("overwrite").partitionBy("file_id").parquet(p)
      p
    }

  /** Footer-derived manifest over a REAL z-bucketed parquet layout
    * ([[graft.sources.FileManifest]] + [[graft.operators.ZOrder
    * .withFileId]]): orders is written once per session partitioned
    * by its deterministic value-range file bucket, then the emitted
    * per-bucket stats come from PARQUET FOOTERS alone (no data pages
    * touched), with `footer_ok` proving — in-plan, by exact two-way
    * except — that the footer numbers equal the closed-form
    * [[graft.operators.ZOrder.fileRanges]] recomputation the oracle
    * replays. The write is real, the footers are real, and the SQL
    * never has to see either.
    */
  private def fileManifestStats(s: SparkSession, dir: String): DataFrame = {
    val ordersKeys = Tables(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
    val path = zLayoutPath(s, dir, ordersKeys)
    val manifest = graft.sources.FileManifest
      .build(s, path, Seq("o_custkey", "o_orderkey"))
      .withColumn("file_id", regexp_extract(col("file"), "file_id=(\\d+)", 1).cast("long"))
      .persist()
    val nRows = manifest.groupBy(col("file"), col("file_id"))
      .agg(max(col("n_rows")).as("__fr"))
      .groupBy(col("file_id")).agg(sum(col("__fr")).as("n_rows"))
    def colStats(c: String) = manifest.filter(col("column") === c)
      .groupBy(col("file_id"))
      .agg(min(col("min_v")).as(s"min_$c"), max(col("max_v")).as(s"max_$c"))
    val assembled = nRows
      .join(colStats("o_custkey"), Seq("file_id"))
      .join(colStats("o_orderkey"), Seq("file_id"))
      .select(col("file_id"), col("n_rows"),
        col("min_o_custkey"), col("max_o_custkey"),
        col("min_o_orderkey"), col("max_o_orderkey"))
      .persist()
    // the REFERENCE side of the audit (what the footers must equal) is
    // staged once per (session, dir); the measured op is the
    // footer-read manifest build and the compare
    val expected = zFileRanges(s, dir)
    val verdict = assembled.exceptAll(expected).agg(count(lit(1)).as("__d1"))
      .crossJoin(expected.exceptAll(assembled).agg(count(lit(1)).as("__d2")))
      .select((col("__d1") === 0 && col("__d2") === 0).as("footer_ok"))
    val out = assembled
      .crossJoin(broadcast(verdict))
      .orderBy(col("file_id"))
    out.persist().count()
    manifest.unpersist(); assembled.unpersist()
    out
  }

  /** The manifest→scan loop closed on an INTEGRAL key: prune the
    * z-ordered orders layout ([[zLayoutPath]] — the same staged
    * copy `file_manifest_stats` audits) to the files whose
    * `o_custkey` window overlaps [100, 180], scan ONLY those, and
    * aggregate. Rows replay as a plain filtered aggregate over
    * `orders` (pruning is conservative-lossless by construction); the
    * `pruned_ok` verdict asserts in-plan that the prune actually
    * SKIPPED files — kept < total — so a pruner that degenerates to
    * keep-everything fails the gate, not just the benchmark.
    */
  private def manifestPrunedRead(s: SparkSession, dir: String): DataFrame = {
    val ordersKeys = Tables(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
    val path = zLayoutPath(s, dir, ordersKeys)
    val manifest = graft.sources.FileManifest
      .build(s, path, Seq("o_custkey", "o_orderkey")).persist()
    manifest.count()
    val (lo, hi) = (100L, 180L)
    val kept = graft.sources.FileManifest.pruneFiles(manifest, "o_custkey", lo, hi)
    val verdict = kept.agg(count(lit(1)).as("__k"))
      .crossJoin(manifest.select(col("file")).distinct().agg(count(lit(1)).as("__t")))
      .select((col("__k") > 0 && col("__k") < col("__t")).as("pruned_ok"))
    val out = graft.sources.FileManifest
      .readPruned(s, manifest, "o_custkey", lo, hi, basePath = Some(path))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_okey"))
      .crossJoin(broadcast(verdict))
      .orderBy(col("o_custkey"))
    out.persist().count()
    manifest.unpersist()
    out
  }

  /** [[manifestPrunedRead]] on a STRING key — the domain/URL/lang
    * pruning axis an LLM-data layout actually filters by: documents
    * range-laid-out on `source` (4 files, contiguous unsigned-order
    * ranges), manifest string bounds, pruned read of the
    * ['src2','src4'] window. Same verdict contract.
    */
  private def manifestPrunedReadString(s: SparkSession, dir: String): DataFrame = {
    val path = SessionScopedCache.getOrElseUpdate(s, "source-layout:" + dir) {
      val p = scratchDir("graft-srclayout")
      Tables(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
        .repartitionByRange(4, col("source"), col("doc_id"))
        .sortWithinPartitions(col("source"), col("doc_id"))
        .write.mode("overwrite").parquet(p)
      p
    }
    val manifest = graft.sources.FileManifest
      .build(s, path, Seq("source")).persist()
    manifest.count()
    val (lo, hi) = ("src2", "src4")
    val kept = graft.sources.FileManifest.pruneFilesString(manifest, "source", lo, hi)
    val verdict = kept.agg(count(lit(1)).as("__k"))
      .crossJoin(manifest.select(col("file")).distinct().agg(count(lit(1)).as("__t")))
      .select((col("__k") > 0 && col("__k") < col("__t")).as("pruned_ok"))
    val out = graft.sources.FileManifest
      .readPrunedString(s, manifest, "source", lo, hi)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .crossJoin(broadcast(verdict))
      .orderBy(col("source"))
    out.persist().count()
    manifest.unpersist()
    out
  }

  /** PERSISTED-manifest lifecycle gate: the orders keys land in TWO
    * ingests (4 files each); the manifest is built+saved after the
    * first and maintained INCREMENTALLY after the second
    * ([[graft.sources.FileManifest.appendToManifest]] — footer reads
    * only for the 4 new files). Rows are the pruned read through the
    * SAVED manifest (replaying as the plain filtered aggregate);
    * `inc_ok` asserts in-plan that the incrementally-maintained
    * manifest row-set EQUALS a full rebuild over the final table AND
    * that pruning still skipped files.
    */
  private def manifestIncremental(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
    val (table, mpath) = SessionScopedCache.getOrElseUpdate(s, "manifest-incr:" + dir) {
      val root = scratchDir("graft-mincr")
      val t = s"$root/t"; val m = s"$root/m"
      keys.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(4, col("o_custkey")).sortWithinPartitions(col("o_custkey"))
        .write.mode("append").parquet(t)
      graft.sources.FileManifest.saveManifest(
        graft.sources.FileManifest.build(s, t, Seq("o_custkey", "o_orderkey")), m)
      keys.filter(col("o_orderkey") % 2 === 1)
        .repartitionByRange(4, col("o_custkey")).sortWithinPartitions(col("o_custkey"))
        .write.mode("append").parquet(t)
      graft.sources.FileManifest.appendToManifest(s, t, m, Seq("o_custkey", "o_orderkey"))
      (t, m)
    }
    val saved = graft.sources.FileManifest.loadManifest(s, mpath).persist()
    saved.count()
    val rebuilt = graft.sources.FileManifest.build(s, table, Seq("o_custkey", "o_orderkey"))
    val (lo, hi) = (100L, 180L)
    val kept = graft.sources.FileManifest.pruneFiles(saved, "o_custkey", lo, hi)
    val verdict = saved.exceptAll(rebuilt).agg(count(lit(1)).as("__d1"))
      .crossJoin(rebuilt.exceptAll(saved).agg(count(lit(1)).as("__d2")))
      .crossJoin(kept.agg(count(lit(1)).as("__k")))
      .crossJoin(saved.select(col("file")).distinct().agg(count(lit(1)).as("__t")))
      .select((col("__d1") === 0 && col("__d2") === 0 &&
        col("__k") > 0 && col("__k") < col("__t")).as("inc_ok"))
    val out = graft.sources.FileManifest
      .readPruned(s, saved, "o_custkey", lo, hi, basePath = Some(table))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_okey"))
      .crossJoin(broadcast(verdict))
      .orderBy(col("o_custkey"))
    out.persist().count()
    saved.unpersist()
    out
  }

  /** Bucket-join demo UNDER THE CORRECTNESS GATE: both sides written
    * as bucketed catalog tables on the join key, joined shuffle-free
    * (the `shuffle_free` column carries
    * [[graft.operators.Bucketing.isShuffleFree]]'s plan verdict — the
    * layout claim the 100 TB story rests on, hash-checked every run).
    */
  private def bucketJoinQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bucketing
    val scratch = sessionScratchDir(s, dir, "graft_bdemo")
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .filter(col("o_orderkey") <= 3000)
    val l = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"),
        col("l_quantity").cast("long").as("qty"))
      .filter(col("o_orderkey") <= 3000)
    s.sql("DROP TABLE IF EXISTS graft_bdemo_o")
    s.sql("DROP TABLE IF EXISTS graft_bdemo_l")
    o.write.format("parquet").mode("overwrite")
      .option("path", s"$scratch/o")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_bdemo_o")
    l.write.format("parquet").mode("overwrite")
      .option("path", s"$scratch/l")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_bdemo_l")
    val joined = Bucketing
      .bucketJoin(s, "graft_bdemo_o", "graft_bdemo_l", Seq("o_orderkey"))
    val free = Bucketing.isShuffleFree(joined)
    joined
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("total_qty"))
      .select(col("o_orderstatus"), col("n_lines").cast("long").as("n_lines"),
        col("total_qty").cast("long").as("total_qty"),
        lit(free).as("shuffle_free"))
      .orderBy(col("o_orderstatus"))
  }

  /** Small-file compaction planning ([[graft.operators.Compaction]])
    * — the table-maintenance step a 100 TB parquet table needs
    * continuously: a deterministic file inventory (one "file" per
    * (order year, key slot), bytes proportional to its row count with
    * every 17th slot inflated past the target to exercise the
    * keep-big-files rule) is planned into rewrite groups by the
    * running-sum cut, and the gate emits the per-group ledger. The
    * oracle replays the ENTIRE chain (inventory, cut, keep rule,
    * roll-up) in SQL — same-chain replay, no verdict to flip at any
    * SF. The planner itself is one shuffle on the partition key plus
    * one window; group cuts use integer `div`, exact past 2^53 bytes.
    */
  private def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val inv = Tables(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("part"),
        (col("o_orderkey") % 40).as("slot"))
      .agg(count(lit(1)).as("n"))
      .select(col("part"),
        concat(lit("f"), lpad(col("slot").cast("string"), 2, "0")).as("file"),
        (col("n") * when(col("slot") % 17 === 0, 500L).otherwise(50L)).as("bytes"))
    val planned = graft.operators.Compaction.plan(inv, "part", "file", "bytes",
      targetBytes = 8192L)
    graft.operators.Compaction.groupSummary(planned, "part", "file", "bytes")
      .orderBy(col("part"), col("grp"))
  }

  /** Plan AND EXECUTE a compaction end-to-end on a planted parquet
    * layout, then recount the LIVE post-state: orders rows land in 16
    * deterministically-named small files (2 years x 8 orderkey slots),
    * the planner groups them under a fixed byte ledger (slot 0 is a
    * big keep-file; slots 1-7 weigh 1000 against a 2500 target, so the
    * running-sum cut yields the same 3 rewrite groups per year at
    * EVERY SF), and [[graft.operators.Compaction.execute]] rewrites
    * each group into exactly one file through the StagedSwap commit.
    * The emitted row per rewrite group joins the live recount (files
    * on disk, rows, orderkey checksum) against the plan's expectation
    * — `n_files` is read from the rewritten layout itself, so a
    * multi-file or row-dropping execution cannot pass.
    */
  private def compactionExecute(s: SparkSession, dir: String): DataFrame = {
    val outDir = sessionScratchDir(s, dir, "graft-compactexec") + "/out"
    val base = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-01-01").cast("date"))
      .select(year(col("o_orderdate")).as("part"),
        pmod(col("o_orderkey"), lit(8L)).as("slot"),
        col("o_orderkey"), col("o_totalprice"))
    val srcDir = SessionScopedCache.getOrElseUpdate(s, "compaction-layout:" + dir) {
      val src = scratchDir("graft-compactsrc") + "/src"
      // one file per (part, slot) leaf: every slot's rows land in one
      // task before the partitioned write
      base.repartition(16, col("part"), col("slot"))
        .write.partitionBy("part", "slot").parquet(src)
      // rename each leaf's single part-file to its canonical name —
      // the planner's cut order is the FILE NAME, which must not
      // depend on Spark's task-uuid naming
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      for {
        pd <- fs.listStatus(new org.apache.hadoop.fs.Path(src)) if pd.isDirectory
        sd <- fs.listStatus(pd.getPath) if sd.isDirectory
      } {
        val files = fs.listStatus(sd.getPath)
          .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        require(files.length == 1,
          s"planted leaf ${sd.getPath} has ${files.length} files, expected 1")
        val p = pd.getPath.getName.stripPrefix("part=")
        val sl = sd.getPath.getName.stripPrefix("slot=").toInt
        require(fs.rename(files.head.getPath,
          new org.apache.hadoop.fs.Path(sd.getPath, f"p${p}_s$sl%02d.parquet")),
          s"rename of planted file under ${sd.getPath} failed")
      }
      src
    }
    // inventory straight from the planted rows: fixed per-slot byte
    // weights make the GROUPING scale-invariant while the conservation
    // columns (row count, orderkey checksum) still track the data
    val inv = base.groupBy(col("part"), col("slot"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .select(col("part"), col("slot"),
        concat(lit(s"$srcDir/part="), col("part"), lit("/slot="), col("slot"),
          lit("/p"), col("part"), lit("_s"),
          lpad(col("slot").cast("string"), 2, "0"), lit(".parquet")).as("file"),
        when(col("slot") === 0, 5000L).otherwise(1000L).as("bytes"),
        col("n"), col("key_sum"))
    val planned = graft.operators.Compaction.plan(
      inv, "part", "file", "bytes", targetBytes = 2500L).persist()
    planned.count()
    graft.operators.Compaction.execute(s, planned, "part", "file", outDir)
    val expected = planned.filter(col("action") === "rewrite")
      .groupBy(col("part").cast("long").as("part"), col("grp"))
      .agg(count(lit(1)).as("n_src_files"), sum(col("n")).as("n_rows"),
        sum(col("key_sum")).as("key_sum"))
    val live = s.read.parquet(outDir)
      .withColumn("__file", input_file_name())
      .groupBy(col("__part").cast("long").as("part"),
        col("__grp").cast("long").as("grp"))
      .agg(count_distinct(col("__file")).as("n_files"),
        count(lit(1)).as("live_rows"), sum(col("o_orderkey")).as("live_key_sum"))
    val out = expected.join(live, Seq("part", "grp"))
      .filter(col("live_rows") === col("n_rows") &&
        col("live_key_sum") === col("key_sum"))
      .select(col("part"), col("grp"), col("n_files"), col("n_src_files"),
        col("n_rows"), col("key_sum"))
      .orderBy(col("part"), col("grp"))
    val res = out.localCheckpoint(true)
    planned.unpersist()
    res
  }
}
