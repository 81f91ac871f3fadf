package graft

import graft.avro.{AvroDecode, AvroEncode}
import graft.functions.{ConfluentWire, TextFunctions => TF, VectorFunctions => VF}
import graft.multimodal.Multimodal
import graft.operators.{AsOfJoin, BinaryAnn, CdcDedup, Clustering, CorpusDiff, Decontamination, IvfAnn, MergeEngine, ProductQuantizer => PQ, QualityClassifier, RangeJoin, SimilaritySearch, TextDedup}
import graft.plans.PhysicalAsOf
import graft.sources.Tables
import graft.util.SessionScopedCache

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: named batch queries over the testdata tables, each
  * paired (where ANSI-SQL-expressible) with a DuckDB oracle in
  * [[SparkEntry.oracleSql]]. Every operator family from SURVEY.md §2 and
  * the training-data extension operators appear here.
  *
  * Conventions for oracle parity:
  *   - identical column aliases on both sides (driver sorts columns by
  *     name before hashing);
  *   - doubles rounded at the output boundary (parallel summation differs
  *     from DuckDB's at the ulp level);
  *   - counts / integer sums cast to BIGINT on both sides (DuckDB widens
  *     integer sums to HUGEINT);
  *   - deterministic ORDER BY with a unique tie-break on both sides;
  *   - raw event timestamps are never returned (testdata carries
  *     nanosecond precision; Spark truncates to microseconds).
  */
object SparkEntry {

  /** Composite chunk-id stride for chunk-level retrieval: supports up
    * to 100000 chunks per document (~4.8 M tokens at window 64 /
    * stride 48); an in-plan assert_true fails the query rather than
    * aliasing ids when exceeded.
    */
  private val ChunkIdMultiplier = 100000L

  /** Temp directory for staged and persisted-store gated queries (and
    * the test suite's temp dirs), registered for recursive deletion at
    * JVM exit so repeated (session, dir) runs don't leak parquet trees.
    * One shutdown hook, installed by the first call, deletes every
    * registered dir.
    */
  private[graft] def scratchDir(prefix: String): String = {
    scratchHook
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    scratchDirs.add(p)
    p
  }

  private lazy val scratchDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
      }
      scratchDirs.forEach(p => rm(new java.io.File(p)))
    }))

  /** The dirs registered for deletion at exit, for tests. */
  private[graft] def registeredScratchDirs: Set[String] = {
    import scala.jdk.CollectionConverters._
    scratchDirs.asScala.toSet
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(spark, "/root/testdata/sf0.001")

  // =====================================================================
  // Relational core (reference parity, SURVEY.md §2)
  // =====================================================================

  /** TPC-H Q1-style pricing summary: filter + groupBy agg (sum/avg/count). */
  private def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Projection + predicate pushdown (equality + LIKE) on orders. */
  private def filterPushdown(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_orderpriority").like("1%"))
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** 3-way join + agg + top-k (TPC-H Q3 shape). */
  private def segmentTopOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables(s, dir, "orders")
    val l = Tables(s, dir, "lineitem")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Broadcast-join star schema: revenue per nation. Dims are broadcast
    * (no shuffle of the fact table for the join).
    */
  private def nationRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
    val sup = Tables(s, dir, "supplier")
    val n = Tables(s, dir, "nation")
    l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** W1: latest-change-per-key dedup (the reference's core operator,
    * stream.py:91-96) on the events table.
    */
  private def windowDedup(s: SparkSession, dir: String): DataFrame =
    CdcDedup
      .latestPerKey(
        Tables(s, dir, "events"),
        Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
      .select(
        col("user_id"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        round(col("value"), 2).as("last_value"))
      .orderBy(col("user_id"))

  /** W1 in aggregation form ([[CdcDedup.latestPerKeyAgg]], the
    * skew-bounded max_by variant used by the merge path) — must agree
    * with the window form's oracle.
    */
  private def windowDedupAgg(s: SparkSession, dir: String): DataFrame =
    CdcDedup
      .latestPerKeyAgg(
        Tables(s, dir, "events"),
        Seq("user_id"),
        struct(col("ts"), col("event_id")))
      .select(
        col("user_id"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        round(col("value"), 2).as("last_value"))
      .orderBy(col("user_id"))

  /** distinct + sort (A1-A3). */
  private def distinctEventTypes(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("event_type")).distinct().orderBy(col("event_type"))

  /** Full CDC merge semantics as a batch query: W1 dedup + J1 upsert with
    * strict version guard + J2 pk-only unguarded delete, on a synthetic
    * changelog derived from events (error events = tombstones).
    */
  private def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val target = CdcDedup.latestPerKey(ev.filter(col("event_id") % 2 === 0), Seq("user_id"), "event_id")
    val batch = CdcDedup.latestPerKey(
      ev.filter(col("event_id") % 2 === 1).unionAll(ev.filter(col("event_id") % 7 === 0)),
      Seq("user_id"),
      "event_id")
    val upserts = batch.filter(col("event_type") =!= "error")
    val deletes = batch.filter(col("event_type") === "error")
    val merged = MergeEngine.resolveUpsert(target, upserts, Seq("user_id"), "event_id")
    MergeEngine
      .resolveDelete(merged, deletes, Seq("user_id"))
      .select(
        col("user_id"),
        col("event_id").as("version"),
        col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy(col("user_id"))
  }

  /** End-to-end CDC schema evolution through the REAL MergeEngine
    * table lifecycle — the batch oracle gate for D2, mirroring the
    * reference's add-column/drop-column streaming tests
    * (stream_test.py:326-460): generation 1 merges a snapshot WITHOUT
    * `phone_number`, generation 2 merges rows WITH it (ADD COLUMN —
    * untouched rows read back NULL), generation 3 merges rows without
    * it again (DROP COLUMN — the column survives in the table schema,
    * NULL for the new winners, the reference's exact assertion). Each
    * generation is a real staged write + schema auto-merge; the
    * guarded upsert decides every key's winner (max event_id across
    * the three disjoint slices), so the final table replays in DuckDB
    * as one per-key argmax with the phone column attached to the
    * middle generation only.
    */
  private def cdcSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = SessionScopedCache.getOrElseUpdate(s, "cdc-evolution:" + dir) {
      val root = scratchDir("graft-cdcevo")
      val cfg = graft.config.TableConfig("graft_test", "users_evo", s"$root/users_evo")
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      def gen(m: Int): DataFrame =
        CdcDedup.latestPerKey(ev.filter(col("event_id") % 3 === m), Seq("user_id"), "event_id")
      MergeEngine.upsert(s, cfg, gen(0), Seq("user_id"), "event_id")
      MergeEngine.upsert(s, cfg,
        gen(1).withColumn("phone_number", concat(lit("p-"), col("user_id"))),
        Seq("user_id"), "event_id")
      MergeEngine.upsert(s, cfg, gen(2), Seq("user_id"), "event_id")
      cfg.path
    }
    val t = MergeEngine.readTable(s, path).get
    // the reference's structural assertion: the dropped column is
    // still part of the evolved schema
    val schemaOk = t.columns.contains("phone_number")
    t.select(col("user_id"), col("event_id").as("version"), col("event_type"),
        round(col("value"), 2).as("value"), col("phone_number"))
      .withColumn("schema_keeps_dropped_col", lit(schemaOk))
      .orderBy(col("user_id"))
  }

  /** Derived partition columns (P4/X2: YEAR/MONTH additional cols). */
  private def yearMonthPartitions(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .withColumn("o_month", month(col("o_orderdate")).cast("long"))
      .groupBy(col("o_year"), col("o_month"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_year"), col("o_month"))

  /** P6/X1 analog: ISO string -> timestamp cast (ZonedTimestamp path). */
  private def zonedTimestampCast(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("iso"))
      .withColumn("epoch_s", unix_timestamp(col("iso").cast("timestamp")).cast("long"))
      .orderBy(col("event_id"))

  /** Global sort + limit with deterministic tie-break. */
  private def topkOrders(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** groupBy + HAVING. */
  private def groupbyHaving(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .filter(col("n") >= 15)
      .orderBy(col("o_custkey"))

  /** Distinct aggregates. */
  private def countDistinct_(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy(col("l_returnflag"))

  /** Conditional aggregation (CASE WHEN pivot). */
  private def conditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).cast("long").as("clicks"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long").as("purchases"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).cast("long").as("errors"),
        round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 2)
          .as("purchase_value"))
      .orderBy(col("bucket"))

  /** INTERSECT set op. */
  private def intersectIds(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("user_id").as("id"))
      .intersect(Tables(s, dir, "customer").select(col("c_custkey").as("id")))
      .orderBy(col("id"))

  /** EXCEPT set op: customers that never appear as event users. */
  private def exceptIds(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .select(col("c_custkey").as("id"))
      .except(Tables(s, dir, "events").select(col("user_id").as("id")))
      .orderBy(col("id"))

  /** Left-semi join (EXISTS). */
  private def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))
  }

  /** Left-anti join (NOT EXISTS): customers with no finished order. */
  private def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))
  }

  /** Aggregate-subquery join: parts priced >1.2x their type average.
    * Spark plan: partial agg + broadcast join (no window needed).
    */
  private def aboveAvgParts(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "part")
    val avgByType = p.groupBy(col("p_type")).agg(avg(col("p_retailprice")).as("avg_price"))
    p.join(broadcast(avgByType), "p_type")
      .filter(col("p_retailprice") > col("avg_price") * 1.05)
      .select(col("p_partkey"), col("p_name"), round(col("p_retailprice"), 2).as("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  /** Ranking window: top-3 customers per nation by balance. */
  private def rankPerNation(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables(s, dir, "customer")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("c_nationkey"), col("c_custkey"), round(col("c_acctbal"), 2).as("c_acctbal"), col("rk"))
      .orderBy(col("c_nationkey"), col("rk"))
  }

  /** ROLLUP grouping sets. */
  private def rollupOrders(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .rollup(year(col("o_orderdate")).cast("long").as("o_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_year").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  /** UNION ALL + agg. */
  private def unionCounts(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(lit("order").as("kind"), col("o_orderkey").as("k"))
      .unionAll(Tables(s, dir, "lineitem").select(lit("line").as("kind"), col("l_orderkey").as("k")))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), countDistinct(col("k")).as("n_keys"))
      .orderBy(col("kind"))

  /** As-of join: each purchase event picks up the user's most recent
    * click at or before it ([[AsOfJoin]] union-merge plan — one shuffle).
    */
  private def asofClickPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase").select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_event"))
    AsOfJoin
      .asOf(purchases, clicks, on = "user_id", leftTs = "ts", rightTs = "ts", payloadPrefix = "")
      .select(col("event_id"), col("click_event").as("click_id"))
      .orderBy(col("event_id"))
  }

  /** Same as-of semantics through the planner-tier operator
    * ([[graft.plans.AsOfJoinNode]] → sort-merge `AsOfJoinExec`):
    * oracle-gated against the identical DuckDB ASOF JOIN, and
    * PhysicalAsOfSpec proves row-for-row agreement with the
    * union-window form q22 uses.
    */
  private def asofPhysical(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase").select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_event"))
    PhysicalAsOf
      .asOf(purchases, clicks, on = "user_id", leftTs = "ts", rightTs = "ts", payloadPrefix = "")
      .select(col("event_id"), col("click_event").as("click_id"))
      .orderBy(col("event_id"))
  }

  /** Overlapping price bands (800-wide, 400 apart) for the range-join
    * queries: a genuine range predicate — each order price sits in TWO
    * bands — not a disguised groupBy bucketing.
    */
  private def priceBands(s: SparkSession): DataFrame =
    s.range(0, 1400).select(
      col("id").as("band_id"),
      (col("id") * 400).cast("double").as("lo"),
      (col("id") * 400 + 800).cast("double").as("hi"))

  /** Binned range join ([[RangeJoin.pointInInterval]]): orders matched
    * to every overlapping price band via the bin equi-join — no
    * nested-loop/cartesian fallback (RangeJoinSpec asserts the plan).
    * Decimal-accumulated totals make the 2-dp rounding boundary-proof
    * cross-engine (the q41 pattern).
    */
  private def rangeJoinBands(s: SparkSession, dir: String): DataFrame =
    RangeJoin
      .pointInInterval(Tables(s, dir, "orders"), priceBands(s),
        "o_totalprice", "lo", "hi", binWidth = 400.0)
      .groupBy(col("band_id"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double"), 2).as("total"))
      .orderBy(col("band_id"))

  /** Binned interval-overlap join ([[RangeJoin.intervalOverlap]]): each
    * customer's [min,max] order-price span against the overlapping
    * bands, emitted exactly once per true overlap (responsible-bin
    * dedup — no post-hoc distinct shuffle).
    */
  private def overlapCustBands(s: SparkSession, dir: String): DataFrame = {
    val spans = Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(col("o_totalprice")).as("clo"), max(col("o_totalprice")).as("chi"))
    RangeJoin
      .intervalOverlap(spans, priceBands(s), "clo", "chi", "lo", "hi", binWidth = 800.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("band_id"))
  }

  /** Aggregate-over-window: running revenue per customer in order-key
    * order (rowsBetween frame).
    */
  private def runningRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "orders")
      .filter(col("o_custkey") <= 100)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Analytic lag(): per-user delta between consecutive event values. */
  private def lagDelta(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables(s, dir, "events")
      .filter(col("user_id") <= 20)
      .select(col("user_id"), col("event_id"),
        round(col("value") - lag(col("value"), 1).over(w), 2).as("delta"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** CUBE grouping sets over two dimensions. */
  private def cubeOrders(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** FULL OUTER join: per-key event/order counts including keys present
    * on only one side.
    */
  private def fullOuterActivity(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").groupBy(col("user_id").as("id"))
      .agg(count(lit(1)).as("n_events"))
    val ord = Tables(s, dir, "orders").filter(col("o_custkey") <= 300)
      .groupBy(col("o_custkey").as("id")).agg(count(lit(1)).as("n_orders"))
    ev.join(ord, Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("id"))
  }

  /** IN-subquery (translates to left-semi): orders of customers in a
    * segment, monthly counts.
    */
  private def inSubquery(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val machinery = Tables(s, dir, "customer")
      .filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey"))
    o.join(machinery, o("o_custkey") === machinery("c_custkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy(col("o_year"))
  }

  /** Exact percentiles per group (median + p90). */
  private def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  /** Skew-salted two-phase aggregation — must equal the plain GROUP BY
    * (the oracle is the unsalted SQL).
    */
  private def saltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.Salting
      .saltedSum(Tables(s, dir, "lineitem"), Seq("l_returnflag"), col("l_quantity"), saltFactor = 16)
      .select(col("l_returnflag"), round(col("total"), 2).as("total"))
      .orderBy(col("l_returnflag"))

  /** Deterministic stratified sample: 3 docs per source by md5 hash
    * order (hash chosen for oracle parity; the operator defaults to
    * xxhash64).
    */
  private def samplePerGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .samplePerGroup(
        Tables(s, dir, "documents"),
        Seq("source"), Seq("doc_id"), k = 3,
        hash = Some(md5(col("doc_id").cast("string"))))
      .select(col("source"), col("doc_id"))
      .orderBy(col("source"), col("doc_id"))

  /** Deterministic hash-rate sample (~1/8 of events via md5 prefix),
    * then aggregate — repeatable sampling with an exact oracle.
    */
  private def hashRateSample(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .filter(md5(col("event_id").cast("string")) < "2")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type"))

  /** Deterministic training-mixture sampling: per-source md5-threshold
    * rates (src0 keeps all, src1 half, src2 a quarter, src3 an eighth,
    * everything else one sixteenth), then per-source counts.
    */
  private def mixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .mixtureSampleMd5(
        Tables(s, dir, "documents"), "source", col("doc_id"),
        Map("src0" -> 16, "src1" -> 8, "src2" -> 4, "src3" -> 2),
        defaultSixteenths = 1)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text"))).cast("long").as("tokens"))
      .orderBy(col("source"))

  /** Concat-and-chunk sequence packing into 2048-token packs across 4
    * shards (md5 order hash so the oracle replays the exact layout),
    * reported as per-pack fill statistics.
    */
  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val packed = graft.operators.Packing.packChunks(
      Tables(s, dir, "documents"),
      "doc_id",
      TF.tokenCount(col("text")),
      budgetTokens = budget,
      shards = 4,
      orderHash = Some(md5(col("doc_id").cast("string"))))
    graft.operators.Packing.packStats(packed, budget)
      .orderBy(col("shard"), col("pack_id"))
  }

  /** Approximate distinct (HLL sketch) gated against the exact count.
    * The estimator value itself is engine-specific, so the oracle-gated
    * output is the exact count plus a tolerance verdict computed in the
    * same plan: at rsd=0.02 the estimate must sit within 5% of truth
    * (the oracle asserts `true`). HLL is deterministic per engine, so
    * this is a stable gate, not a flaky statistical one.
    */
  private def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        // rsd 0.01 against the asserted 5% bound: 5 sigma of slack, so
        // the verdict is not an SF coin toss (at rsd 0.02 it was only
        // 2.5 sigma — a ~1% flip chance per group per fresh SF). The
        // estimate itself is never emitted, so the oracle is unchanged.
        approx_count_distinct(col("l_partkey"), 0.01).as("approx"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx") - col("exact_parts"))
          <= col("exact_parts").cast("double") * 0.05).as("within_5pct"))
      .orderBy(col("l_returnflag"))

  /** String functions: upper/substring/concat/length over part names. */
  private def stringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .filter(col("p_partkey") <= 500)
      .select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("prefix"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        length(col("p_name")).cast("long").as("name_len"))
      .orderBy(col("p_partkey"))

  // =====================================================================
  // Training-data pipeline extensions (dedup / text / similarity)
  // =====================================================================

  /** Exact deduplication by content hash (hash-groupBy). */
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("h"))

  /** Token statistics per language. */
  private def textTokens(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text"))).cast("long").as("total_tokens"),
        round(avg(TF.tokenCount(col("text")).cast("double")), 3).as("avg_tokens"))
      .orderBy(col("lang"))

  /** Quality-signal aggregates per source. */
  private def textQuality(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(col("source"))
      .agg(
        round(avg(TF.punctRatio(col("text"))), 4).as("punct_ratio"),
        round(avg(TF.stopwordRatio(col("text"))), 4).as("stop_ratio"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("source"))

  /** Canonical-form fingerprint per document. */
  private def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Gopher-style repetition/shape signals + keep gate per document
    * (sampled: first 20 doc ids keep the oracle diff small). Every
    * ratio is an exact integer ratio divided once, so Spark and DuckDB
    * round identical doubles.
    */
  private def textGopherQuality(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), TF.tokens(col("text")).as("ws"))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        round(TF.meanWordLength(col("ws")), 4).as("mean_word_len"),
        round(TF.dupWordFraction(col("ws")), 4).as("dup_word_frac"),
        round(TF.topWordFraction(col("ws")), 4).as("top_word_frac"),
        round(TF.dupNgramFraction(col("ws"), 2), 4).as("dup_bigram_frac"),
        TF.gopherKeep(col("ws")).as("keep"))
      .orderBy(col("doc_id"))

  /** Intra-document repetition metrics (the Gopher/C4 repetition
    * family beyond the gate): longest identical-token run, top
    * trigram multiplicity, duplicate-trigram fraction — all exact
    * integer folds per row (no explode, no shuffle), the rational
    * division rounded(4). Oracle replays the runs via a
    * row_number-gap grouping and the trigrams via list
    * comprehension + group-by.
    */
  private def textRepetition(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), TF.tokens(col("text")).as("ws"))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        TF.maxEqualRun(col("ws")).as("max_run"),
        TF.topNgramCount(col("ws"), 3).as("top_trigram_n"),
        round(TF.dupNgramFraction(col("ws"), 3), 4).as("dup_trigram_frac"))
      .orderBy(col("doc_id"))

  /** Sliding-window document chunking (window 64 tokens, stride 48 —
    * 16-token overlap): one stateless tokenize→posexplode→slice
    * projection per row ([[graft.operators.Chunking.chunk]]); the
    * oracle replays the same windows with range()+inclusive list
    * slices.
    */
  private def chunkDocuments(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking
      .chunk(Tables(s, dir, "documents"), "doc_id", "text",
        windowTokens = 64, strideTokens = 48)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Exact chunk-level dedup with provenance over the same windows:
    * md5-fingerprint groupBy keeping the (doc_id, chunk_id)-lowest
    * occurrence plus its corpus-wide multiplicity
    * ([[graft.operators.Chunking.dedupChunks]]).
    */
  private def chunkDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking
      .dedupChunks(
        graft.operators.Chunking.chunk(Tables(s, dir, "documents"),
          "doc_id", "text", windowTokens = 64, strideTokens = 48),
        "doc_id")
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Per-document OOV rate against the corpus top-25 vocabulary — the
    * tokenizer-fit signal. The vocab is a bounded TakeOrdered collect;
    * the probe is a stateless ArrayHitCount fold (no shuffle, no
    * join). Oracle rebuilds the same top-25 (count desc, token asc)
    * and replays the membership filter as a list comprehension.
    */
  private def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val vocab = graft.operators.Lexicon.buildVocab(docs, "text", vocabSize = 25)
    graft.operators.Lexicon
      .oovStats(docs, "doc_id", "text", vocab)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Per-document top-3 TF-IDF terms, scored on the µ-nat integer grid
    * (floor(ln((N+1)/(df+1))*1e6)+1e6) so ranking and score replay
    * bit-identically in SQL. df table broadcast; top-k is a
    * WindowGroupLimit rank filter.
    */
  private def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lexicon
      .tfIdfTopTerms(Tables(s, dir, "documents"), "doc_id", "text", topK = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("score").desc, col("term"))

  /** Sqrt-temperature mixture plan over sources under a 1M-token
    * budget: share, tempered weight, token target, epoch factor. The
    * weight normalizer sums integer-quantized sqrts, so no
    * float-summation-order hazard reaches the oracle hash.
    */
  private def mixturePlan(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .mixturePlan(Tables(s, dir, "documents"), "source", "text", budgetTokens = 1000000L)
      .orderBy(col("source"))

  /** Materialized mixture plan: per-source epochs from mixturePlan
    * (budget 50k tokens) quantized to sixteenths, then every document
    * repeated floor(e) times plus an md5-selected extra for the
    * fraction — the deterministic upsampling pass that turns a plan
    * into training rows. No shuffle, no RNG; the oracle replays the
    * plan, the sixteenth quantization, and every copy.
    */
  private def mixtureUpsample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val plan = graft.operators.Sampling
      .mixturePlan(docs, "source", "text", budgetTokens = 50000L)
    val s16 = plan.select(col("source"), col("epochs")).collect()
      .map(r => r.getString(0) -> math.floor(r.getDouble(1) * 16 + 0.5).toInt)
      .toMap
    plan.unpersist()
    graft.operators.Sampling
      .upsampleSixteenths(docs, "source", "doc_id", s16)
      .select(col("doc_id"), col("source"), col("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))
  }

  /** Supervised semantic bucketing: per-label µ-grid centroids, then
    * every vector assigned to its nearest centroid by exact integer
    * squared distance (native codegen'd NearestCentroidL2; ties to the
    * lower label). Everything is integer arithmetic, so the oracle
    * replays the centroids AND the argmin bit-identically.
    */
  private def topicAssign(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables(s, dir, "embeddings")
    val cents = graft.operators.TopicAssign.collectCentroids(
      graft.operators.TopicAssign.labelCentroids(embs, "label", "embedding"))
    graft.operators.TopicAssign
      .assign(embs, "vec_id", "label", "embedding", cents)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))
  }

  /** Unsupervised corpus clustering: 3 Lloyd iterations of k=8
    * k-means from md5-seeded starts, everything on the integer
    * µ-grid ([[graft.operators.KMeansTrain]]) — seeds, argmin
    * assignment (ties to lower cluster) and floor-mean centroid
    * updates are all exact, so the oracle unrolls the SAME three
    * iterations as CTEs and the final assignment + integer loss
    * hash-match bit-for-bit.
    */
  private def kmeansTrainQ(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables(s, dir, "embeddings")
    val cents = graft.operators.KMeansTrain
      .train(embs, "vec_id", "embedding", k = 8, iters = 3)
    graft.operators.KMeansTrain
      .assign(embs, "vec_id", "embedding", cents)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))
  }

  /** Brute-force cosine similarity of every vector against a query
    * vector (vec_id=0) — the exact baseline for ANN.
    */
  private def simsearchCosine(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb
      .crossJoin(broadcast(q))
      // decimal-accumulated cosine: the rounded value is identical to the
      // oracle's explicit decimal-summed formulation (see VF.cosineDecimal).
      // `+ 0.0` normalizes IEEE signed zero (-0.0 + 0.0 = +0.0) so a tiny
      // negative cosine that rounds to zero hashes identically cross-engine.
      .select(col("vec_id"), (round(VF.cosineDecimal(col("embedding"), col("qv")), 3) + lit(0.0)).as("cos"))
      .orderBy(col("vec_id"))
  }

  /** [[simsearchCosine]] recomputed over int8-QUANTIZED vectors
    * ([[VF.quantizeInt8]]): the 4x-memory-cut scan a 100 TB embedding
    * corpus runs. Oracle-gated END-TO-END — quantization uses only
    * engine-portable IEEE arithmetic (floor(x/scale + 0.5)), integer
    * dots/norms are exact, so DuckDB replays the whole approximate
    * pipeline bit-for-bit. QuantizationSpec bounds the error vs the
    * exact cosine.
    */
  private def simsearchQuantized(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        VF.quantizeInt8(col("embedding"), VF.quantizeScale(col("embedding"))).as("qa"),
        VF.quantizeInt8(col("qv"), VF.quantizeScale(col("qv"))).as("qb"))
      .select(
        col("vec_id"),
        (round(VF.cosineQuantized(col("qa"), col("qb")), 3) + lit(0.0)).as("cos_q"))
      .orderBy(col("vec_id"))
  }

  /** Documents plus deterministic near-duplicate mutations (every 50th
    * doc gets a copy with an appended tail) — gives the near-dup
    * operators guaranteed work at any scale factor.
    */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select("doc_id", "text", "lang", "source", "n_chars")
    val mutated = d
      .filter(col("doc_id") % 50 === 0)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate tail")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    d.unionByName(mutated)
  }

  /** The END-TO-END curation pipeline in one gated row — the
    * composition a training-data user actually runs, every stage an
    * already-gated primitive: Gopher quality gate → exact dedup
    * (min-id per md5) → near-dup dedup ([[graft.operators.TextDedup
    * .prefixFilteredJaccardPairs]], LOSSLESS, closed transitively by
    * [[graft.operators.Clustering.connectedComponents]], keep the
    * component minimum) → deterministic 90/5/5 md5 split → per-split
    * doc/token totals, with every stage's surviving count riding the
    * output as telemetry columns. The fixture plants BOTH duplicate
    * kinds (near-dup tails at `% 50`, exact copies at `% 40`), so
    * both dedup stages do real work. BIT-EXACT oracle replay of the
    * entire chain.
    */
  /** Shared prefix of the curation pipelines: planted corpus (near-dup
    * tails at `% 50`, exact copies at `% 40`), Gopher quality gate —
    * both frames LAZY, callers persist what they reuse.
    */
  private def curationPrefix(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = docsWithNearDups(s, dir).select(col("doc_id"), col("text"))
    val withExact = base.unionByName(
      base.filter(col("doc_id") % 40 === 0 && col("doc_id") < 1000000L)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
    val quality = withExact
      .withColumn("__ws", TF.tokens(col("text")))
      .filter(TF.gopherKeep(col("__ws")))
    (withExact, quality)
  }

  /** Exact-dedup stage of the curation pipelines: min-id winner per
    * md5, returned as a semi-join of `quality` (which the caller has
    * persisted) so document text never rides the exchange — the
    * shuffle carries ONLY (hash, id).
    */
  private def curationExactDedup(quality: DataFrame): DataFrame = {
    val exactWinners = quality
      .select(md5(col("text")).as("__h"), col("doc_id"))
      .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    quality.join(exactWinners, Seq("doc_id"), "left_semi")
  }

  /** Survivor-set split + telemetry tail shared by the curation
    * pipelines: deterministic 90/5/5 md5 split of `survivors`, with
    * each stage's surviving count riding the output as broadcast
    * one-row telemetry columns.
    */
  private def curationSplitCounts(
      withExact: DataFrame,
      quality: DataFrame,
      exactKept: DataFrame,
      survivors: DataFrame): DataFrame = {
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long") % 100L
    graft.operators.Sampling
      .hashSplitBy(survivors, bucket, Seq(("train", 90), ("val", 5), ("test", 5)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("__ws"))).cast("long").as("total_tokens"))
      .crossJoin(broadcast(withExact.agg(count(lit(1)).as("n_input"))))
      .crossJoin(broadcast(quality.agg(count(lit(1)).as("n_quality"))))
      .crossJoin(broadcast(exactKept.agg(count(lit(1)).as("n_exact_kept"))))
      .crossJoin(broadcast(survivors.agg(count(lit(1)).as("n_near_kept"))))
      .orderBy(col("split"))
  }

  /** The curation pipelines' shared staged stages, built once per
    * (session, dir) — both variants consume the same quality gate,
    * exact-dedup survivors, and lossless near-dup pairs (the
    * build-once/curate-many lifecycle). `withExact` is a cheap lazy
    * construction, rebuilt per call.
    */
  private def curationStages(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (withExact, qualityL) = curationPrefix(s, dir)
    val (quality, exactKept, pairsExact, survivors) =
      SessionScopedCache.getOrElseUpdate(s, "curation:" + dir) {
        // session-staged frames are SETTLED (eager localCheckpoint, see
        // graft.util.Staged): every warm rep of every consumer re-
        // analyzed and re-rendered this whole stacked lineage per
        // action — measured r19 at ~2.8 s driver CPU per warm
        // curation-minhash rep against ~0.2 s of job work
        val q = graft.util.Staged.settle(qualityL)
        val ek = graft.util.Staged.settle(curationExactDedup(q))
        val pe = graft.util.Staged.settle(
          TextDedup.prefixFilteredJaccardPairs(
            ek, "doc_id", "text", shingleSize = 3, minJaccardMicro = 500000L)
            .select(col("id_a"), col("id_b")))
        val dropNear = graft.operators.Clustering
          .connectedComponents(pe, "id_a", "id_b")
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"))
        val sv = graft.util.Staged.settle(
          ek.join(dropNear, Seq("doc_id"), "left_anti"))
        (q, ek, pe, sv)
      }
    (withExact, quality, exactKept, pairsExact, survivors)
  }

  /** The curation pipeline under the DEFAULT strategy
    * ([[graft.operators.Curation.defaultStrategy]] — banded MinHash +
    * exact-Jaccard verify, pair-budget-bounded): ONE
    * [[graft.operators.Curation.curate]] call, the composition a
    * corpus-scale user gets when they do not choose. The gate pins
    * `scheme = PortableMd5Scheme` — the hash-family seam whose whole
    * point is engine portability — so DuckDB replays the DEFAULT
    * (lossy-recall) chain itself bit-for-bit: signatures, band
    * buckets, the pair-budget guard, candidates, the exact verify,
    * the transitive closure, and the survivor splits all hash-match
    * with NO recall verdict and NO SF dependence (the oracle is the
    * same lossy chain, not a truth set it might miss). The production
    * xxhash64 scheme's agreement with the lossless chain is gated
    * separately (`corpus_curation_pipeline_minhash`), and the lossless
    * chain itself stays gated at `corpus_curation_pipeline_lossless` /
    * `dedup_prefix_jaccard`.
    */
  private def corpusCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val (withExact, _) = curationPrefix(s, dir)
    // ONE curate() call, deliberately separate from the "curation:"
    // entry: this gate exercises the one-call public composition
    // end-to-end, while the lossless and strategy-agreement gates share
    // the hand-staged prefix
    val cur = SessionScopedCache.getOrElseUpdate(s, "banded-curated:" + dir) {
      // quality/exactKept/pairs arrive persisted from curate(); all
      // four staged frames are SETTLED (lineage truncation, see
      // curationStages) so warm splitCounts reps plan over leaves
      val c = graft.operators.Curation.curate(withExact, "doc_id", "text",
        graft.operators.Curation.BandedMinhash(scheme = TextDedup.PortableMd5Scheme))
      graft.operators.Curation.Curated(
        quality = graft.util.Staged.settle(c.quality),
        exactKept = graft.util.Staged.settle(c.exactKept),
        nearDupPairs = graft.util.Staged.settle(c.nearDupPairs),
        survivors = graft.util.Staged.settle(c.survivors))
    }
    val out = curationSplitCounts(withExact, cur.quality, cur.exactKept, cur.survivors)
    out.persist().count()
    out
  }

  /** The curation pipeline with the LOSSLESS near-dup strategy
    * explicitly selected ([[graft.operators.Curation.LosslessPrefix]]
    * semantics — the PPJoin prefix chain): complete by theorem, so the
    * oracle is a bit-exact all-pairs replay. The truth-set generator
    * at verification scales; superquadratic on fixed-vocabulary
    * corpora (TextDedup.scala scale-limit note), which is why it is a
    * SELECTED strategy, not the default.
    */
  private def corpusCurationPipelineLossless(s: SparkSession, dir: String): DataFrame = {
    val (withExact, quality, exactKept, _, survivors) = curationStages(s, dir)
    val out = curationSplitCounts(withExact, quality, exactKept, survivors)
    out.persist().count()
    out
  }

  /** The curation pipeline with the MINHASH-BANDED near-dup strategy —
    * the corpus-scale alternative to [[corpusCurationPipeline]]'s
    * lossless PPJoin (banding is a list-keyed bucket join, cost
    * ~candidate volume instead of the prefix-index join). Oracle-gated
    * via the recall-verdict pattern (`knn_graph_ann`): the emitted
    * rows are the EXACT chain's split counts, which DuckDB replays
    * bit-for-bit, and `minhash_ok` proves the banded composition
    * (MinHash+LSH candidates → exact-Jaccard verify on the staged
    * shingles → components → survivors) ran for real and recovered
    * >= 90% of the lossless chain's near-dup pairs AND landed its
    * survivor count within 1% of the exact chain's. Both chains share
    * one persisted quality/exact-dedup prefix; banding is
    * deterministic (xxhash64), so the recall is a fixed number for a
    * fixed dataset, not a statistical bound.
    */
  private def corpusCurationPipelineMinhash(s: SparkSession, dir: String): DataFrame = {
    // shared staged prefix + lossless pairs (the emitted truth) come
    // from the session cache both pipeline variants consume
    val (withExact, quality, exactKept, pairsExact, survivors) = curationStages(s, dir)
    // banded chain: LSH candidates -> exact verify on the STAGED
    // shingle arrays (never re-shingling text) -> components -> drops.
    // The verified pair table is the banded build artifact — staged in
    // its own session cache exactly as the lossless PPJoin pairs are.
    val (verified, ms) = SessionScopedCache.getOrElseUpdate(s, "minhash-pairs:" + dir) {
      val (cand, shingled) = TextDedup.minhashCandidatePairsAndShingles(
        exactKept, "doc_id", "text", threshold = 0.5)
      // settled (lineage truncation, see curationStages): the verdict
      // semi-join and the components pass re-render this frame's plan
      // on every warm rep
      val v = graft.util.Staged.settle(cand
        .join(shingled.select(col("id").as("id_a"), col("sh").as("__sa")), "id_a")
        .join(shingled.select(col("id").as("id_b"), col("sh").as("__sb")), "id_b")
        .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
        .filter(expr("__i * 1000000 div (size(__sa) + size(__sb) - __i)") >= 500000L)
        .select(col("id_a"), col("id_b")))
      cand.unpersist(); shingled.unpersist()
      val dropMinhash = graft.operators.Clustering
        .connectedComponents(v, "id_a", "id_b")
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      (v, exactKept.join(dropMinhash, Seq("doc_id"), "left_anti").count())
    }
    // verdict: pair recall (banding is lossy; verified is a SUBSET of
    // the lossless pairs by construction) and survivor-count agreement.
    // Bounded scalar counts over staged/eager frames, collected on
    // the driver (the connectedComponents convergence-check pattern):
    // crossJoining four one-row aggregate subtrees instead measures
    // plan-composition overhead, not the pipeline.
    // the verdict counts decide the `minhash_ok` column, so they are
    // recomputed on every call ("count:" entries hold sizing counts only)
    val hit = pairsExact.join(verified, Seq("id_a", "id_b"), "left_semi").count()
    val tot = pairsExact.count()
    val es = survivors.count()
    val minhashOk = hit * 100 >= tot * 90 && math.abs(ms - es) * 100 <= es
    val out = curationSplitCounts(withExact, quality, exactKept, survivors)
      .withColumn("minhash_ok", lit(minhashOk))
      .orderBy(col("split"))
    out.persist().count()
    out
  }

  /** PPJoin-style prefix-filtered exact-Jaccard join over the planted
    * near-dup corpus ([[graft.operators.TextDedup
    * .prefixFilteredJaccardPairs]]): each document indexes only its
    * globally rarest shingles (the prefix-filter bound), candidates
    * clear the size-compatibility inequality, and the exact integer
    * Jaccard verifies. LOSSLESS by theorem, so the oracle is simply
    * the all-pairs truth set — no recall verdict needed, unlike the
    * MinHash gate.
    */
  private def dedupPrefixJaccard(s: SparkSession, dir: String): DataFrame =
    TextDedup
      .prefixFilteredJaccardPairs(docsWithNearDups(s, dir), "doc_id", "text",
        shingleSize = 3, minJaccardMicro = 500000L)
      .orderBy(col("id_a"), col("id_b"))

  private def minhashCandidates(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionScopedCache.getOrElseUpdate(s, "lsh:" + dir) {
      val docs = docsWithNearDups(s, dir)
      // CORPUS-SIZE-AWARE operating point (r17 sf16 finding, mechanism
      // CORRECTED by this round's measurement). Two quadratic escapes
      // exist at a fixed operating point: (a) background-similarity
      // false positives (constant per-pair collision probability ⇒
      // ~n² candidates) — real when J_bg is high, handled by
      // LshTuning.pickSized deepening rows-per-band ~log n; (b)
      // DUPLICATE-GROUP buckets: the rehearsal fixture plants
      // identical-text groups whose SIZE grows ∝ n (baseId = id%1000
      // for 4% of docs ⇒ ~800-doc identical groups at sf16), and
      // identical docs collide in EVERY band at ANY depth, so (b) is
      // banding-invariant — measured: sf4 warm 52 s at (4, 8), same
      // as r17's 53.6 s at (8, 4). The designed lever for (b) is the
      // PER-BUCKET pair budget ("over-budget buckets are duplicate
      // GROUPS, found far cheaper by exactClusters" — and exactly why
      // the curation chain, which exact-dedups BEFORE the LSH stage,
      // held 2.88x at sf16 while this raw path melted): above 10^5
      // docs the per-bucket budget tightens to ~129 docs/bucket (64
      // verify pairs per member), dropping linear-sized groups from
      // the pairwise path. At every gate SF (the LARGEST gate corpus
      // is sf0.1's n = 5,100 — an earlier r18 session believed 510,
      // under-budgeted pickSized, and flipped sf0.1 to (4, 8), losing
      // 13 borderline-recall pairs vs the oracle; LshTuningSpec now
      // pins the true sizes) both knobs resolve to the oracle's exact
      // (8, 4) + 1999000 form, so gated results are byte-identical:
      // pickSized's 512-fp/doc budget keeps 8x4 through n ≈ 16k and
      // first deepens at the 50k sf1 rung.
      val n = docs.count()
      val (bands, _) = graft.operators.LshTuning.pickSized(
        TextDedup.defaultNumHashes, 0.5, n)
      val bucketBudget =
        if (n <= 100000L) TextDedup.defaultBucketPairBudget
        else math.min(TextDedup.defaultBucketPairBudget, 8256L) // m(m-1)/2 at m=129
      val (pairs, shingled) = TextDedup.minhashCandidatePairsAndShingles(
        docs, "doc_id", "text", threshold = 0.5, bands = bands,
        maxBucketPairs = bucketBudget,
        scheme = TextDedup.PortableMd5Scheme)
      // settle both session-staged frames (lineage truncation — see
      // curationStages): the bbit/ngram verify joins re-rendered the
      // whole signature+banding lineage on every warm action
      (graft.util.Staged.settle(pairs), graft.util.Staged.settle(shingled))
    }

  /** MinHash+LSH candidate duplicate pairs, oracle-gated end-to-end:
    * with [[TextDedup.PortableMd5Scheme]] every stage — seeded shingle
    * hashes, the 32 running minimums, the 8 band hashes, the bucket
    * join with its size guard, and the signature-agreement estimate —
    * is recomputed verbatim by the DuckDB oracle SQL (md5 hex strings
    * are engine-portable and order identically). est_jaccard is k/32
    * with k integral, exact in binary on both engines, so it ships
    * unrounded.
    */
  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashCandidates(s, dir)._1
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** b-bit minhash estimates over the LSH candidate pairs, BIT-EXACT
    * oracle-gated: the 4-bit sketches are the last hex character of
    * each md5 signature position (16x smaller than the signatures —
    * the store/shuffle compression lever at corpus scale), and the
    * unbiased estimate inverts the collision rate on the integer
    * µ-grid. Signatures recompute from the STAGED shingle table
    * restricted to pair ids (broadcast — pairs are few), never from
    * raw text.
    */
  private def dedupMinhashBbit(s: SparkSession, dir: String): DataFrame = {
    val (pairs, shingled) = minhashCandidates(s, dir)
    val ids = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct()
    val bb = shingled.join(broadcast(ids), "id")
      .select(col("id"),
        TextDedup.minhashSignatureFromShingles(col("sh"), 32, TextDedup.PortableMd5Scheme)
          .as("sig"))
      .select(col("id"), TextDedup.bbitSignatureMd5(col("sig"), 4).as("bb"))
    pairs
      .join(bb.select(col("id").as("id_a"), col("bb").as("bb_a")), "id_a")
      .join(bb.select(col("id").as("id_b"), col("bb").as("bb_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        TextDedup.bbitAgreement(col("bb_a"), col("bb_b")).cast("long").as("agree_bbit"))
      .withColumn("est_bbit_micro",
        TextDedup.bbitEstimateMicro(col("agree_bbit"), 32, 4))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact word-3-gram Jaccard verification of the LSH candidates.
    *
    * Verifies against the STAGED shingle arrays the signatures were
    * built from (no re-shingling of raw text — the recompute that made
    * this the bench's dominant cost in round 3), streaming the
    * persisted shingle blocks past a broadcast of the small candidate
    * set: zero corpus shuffles. Beyond broadcast size (pair counts in
    * the tens of millions) the pair side would drop the hint and fall
    * back to an id-keyed shuffle join — same shape as the signature
    * join-back inside the LSH operator.
    *
    * Oracle-gated: the exact all-pairs jaccard >= 0.5 truth set is
    * SQL-expressible, and every such pair in this corpus sits far above
    * the LSH recall band (min true jaccard 0.85 at sf0.01), so the
    * verified candidates equal the truth set.
    */
  private def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val (cands, shingled) = minhashCandidates(s, dir)
    val pairs = cands.select(col("id_a"), col("id_b"))
    // verify-join shape (the Curation.nearDupPairs pattern): join the
    // ID pairs to the staged shingles once per side — the pair table
    // broadcasts (ids only), the arrays stay distributed. The former
    // form broadcast the pairs WITH their sh_a arrays attached, a
    // table that grows with corpus x shingle size — it OOM'd the
    // driver at the sf4 rehearsal (200k docs) while this shape runs
    // the same plan pair-bounded.
    //
    // The broadcast is STAT-DRIVEN with a count the candidate stage
    // already materialized (the SemanticDedup join-back precedent):
    // Catalyst's static estimate for the persisted pair table fell off
    // the 10 MB broadcast cliff at the sf16 rung and planned BOTH
    // verify joins as shuffles of the 816k-row shingle-array table —
    // measured 21.9 s warm for a ~10^4-pair verify (r18 probe). Below
    // the cutoff both attach joins broadcast the pair side (the second
    // carries sh_a, so the cutoff is sized for pairs x one shingle
    // array ≈ 60 MB at 100k pairs) and the shingle table streams
    // twice, shuffle-free; beyond it the shuffle join IS the right
    // corpus-scale plan (linear in pairs + corpus, no executor-sized
    // broadcast).
    val shA = shingled.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = shingled.select(col("id").as("id_b"), col("sh").as("sh_b"))
    // stat count cached per (session, dir) — r18 VERDICT #7: the
    // candidate cardinality of the session-staged pair table is fixed,
    // and this decision ran a count job on every warm invocation
    // a "count:" entry only SIZES work — it may change how a result is
    // computed, never what the result is; a count that feeds a result
    // column is recomputed on every call
    val nCands = SessionScopedCache.getOrElseUpdate(s, "count:" + dir + "#lsh-cands")(cands.count())
    val verified =
      if (nCands <= 100000L)
        broadcast(broadcast(pairs).join(shA, "id_a")).join(shB, "id_b")
      else
        pairs.join(shA, "id_a").join(shB, "id_b")
    verified
      .select(col("id_a"), col("id_b"),
        round(TextDedup.jaccardFromShingles(col("sh_a"), col("sh_b")), 3).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  private def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(s, dir).orderBy(col("id_a"), col("id_b"))

  /** Near-duplicate GROUPS from the verified pair list:
    * [[Clustering.connectedComponents]] labels every paired document
    * with its component's minimum doc_id. Oracle-gated end-to-end — the
    * DuckDB side recomputes the exact-jaccard truth pairs and closes
    * them transitively with a recursive CTE.
    */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Clustering
      .connectedComponents(
        ngramJaccardPairs(s, dir).select(col("id_a"), col("id_b")), "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
      .orderBy(col("doc_id"))

  /** Incremental connected components through the persisted cluster
    * store ([[graft.operators.Clustering.absorbEdges]] — union-find
    * with deferred path compression over an id-prefix-partitioned
    * label table): a base chain graph builds the store, then an
    * increment EXTENDS components and BRIDGES adjacent pairs of them
    * (the i%20==4 cross edges), exercising root forwarding,
    * contracted re-propagation, and new-node appends. Oracle-gated
    * end-to-end: the resolved labels must equal DuckDB's recursive
    * transitive closure over base ∪ increment — absorb == rebuild,
    * hash-checked per run.
    */
  private def dedupClustersIncremental(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables(s, dir, "embeddings")
      .select(col("vec_id").as("i")).filter(col("i") < 200)
    val base = ids.filter(col("i") % 10 < 3)
      .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
    val inc = ids.filter(col("i") % 10 === 3)
      .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      .unionByName(ids.filter(col("i") % 20 === 4)
        .select(col("i").as("id_a"), (col("i") + 6).as("id_b")))
    val C = graft.operators.Clustering
    val path = scratchDir("graft-cluster-store")
    // the base component labels are fixture prep (the store the
    // increment arrives AT); staged once — the measured lifecycle is
    // save -> absorb -> resolve, which runs in full every invocation
    val baseLabels = SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#cluster-store-base") {
      graft.util.Staged.settle(C.connectedComponents(base, "id_a", "id_b"))
    }
    C.saveClusters(baseLabels, path, prefixBuckets = 16)
    C.absorbEdges(s, path, inc, "id_a", "id_b")
    C.resolvedLabels(C.loadClusters(s, path))
      .select(col("id").as("vec_id"), col("cluster").as("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** C4-style corpus-frequency n-gram duplication per document
    * (computed over the FULL corpus; output sampled to the first 30 doc
    * ids to keep the oracle diff small).
    */
  private def dedupGlobalNgrams(s: SparkSession, dir: String): DataFrame =
    TextDedup
      .globalNgramDupStats(Tables(s, dir, "documents"), "doc_id", "text", n = 3, minDocs = 2)
      .filter(col("id") < 30)
      .select(
        col("id").as("doc_id"),
        col("n_grams"),
        col("dup_grams"),
        round(col("dup_frac"), 4).as("dup_frac"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination: the "eval set" is a planted exact
    * subset of the corpus (every doc_id % 50 == 7), so those documents
    * are fully contaminated by construction and the rest only via
    * chance 4-gram collisions — both paths of the flag are exercised.
    * Oracle-gated: word 4-grams, broadcast eval-gram probe, per-doc
    * overlap count, all replayed in SQL.
    */
  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val evalSet = docs.filter(col("doc_id") % 50 === 7).select(col("text"))
    Decontamination.flagContaminated(docs, evalSet, "doc_id", "text", n = 4)
      .select(col("id").as("doc_id"), col("n_grams"), col("eval_hits"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Integer-grid PageRank over a deterministic synthetic link graph
    * (3 out-edges per document, `dst = (src*7 + j) mod N`, self-loops
    * dropped), BIT-EXACT oracle-gated: ranks are BIGINT micro-units
    * and every update a floor division, so DuckDB unrolls the 3 power
    * iterations as CTEs and hash-matches every rank (the
    * `kmeans_train` convention for iterative numerics). The one
    * driver-side action is the node-universe size — a single long.
    */
  private def pageRankQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val n = docs.agg(max(col("doc_id"))).collect().head.getLong(0) + 1L
    val edges = docs
      .select(col("doc_id").as("src"), explode(sequence(lit(1L), lit(3L))).as("j"))
      .select(col("src"), ((col("src") * 7L + col("j")) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
    graft.operators.PageRank.rank(edges, docs, "src", "dst", iters = 3)
      .select(col("node").as("doc_id"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("doc_id"))
      .limit(50)
  }

  /** Personalized PageRank over the same synthetic link graph as
    * [[pageRankQ]], restarting on the seed set `doc_id % 100 == 0`
    * ([[graft.operators.PageRank.personalizedRank]] — teleport mass
    * and the initial walk live only on the seeds, so ranks measure
    * link-proximity to the seeds, the known-good-domain propagation
    * op). BIT-EXACT oracle-gated: same unrolled-CTE replay with the
    * seed-conditional teleport and start vector.
    */
  private def pageRankPersonalizedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val n = docs.agg(max(col("doc_id"))).collect().head.getLong(0) + 1L
    val edges = docs
      .select(col("doc_id").as("src"), explode(sequence(lit(1L), lit(3L))).as("j"))
      .select(col("src"), ((col("src") * 7L + col("j")) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
    graft.operators.PageRank
      .personalizedRank(edges, docs, docs.filter(col("doc_id") % 100 === 0),
        "src", "dst", iters = 3)
      .select(col("node").as("doc_id"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("doc_id"))
      .limit(50)
  }

  /** Deterministic weighted sampling (Efraimidis-Spirakis exponential
    * keys on md5 uniforms, µ-grid-quantized): the 25 length-weighted
    * winners replay bit-exactly — quality-weighted subsampling with
    * zero RNG state.
    */
  private def weightedSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .weightedSample(
        Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars"), k = 25)
      .select(col("doc_id"), col("n_chars"), col("__wkey").as("key_micro"))

  /** Token-distribution entropy per document on the µ-nat integer
    * grid — exact integers, fully SQL-replayable (the corpus-drift
    * convention); the distribution-shape quality signal beside the
    * Gopher repetition fractions.
    */
  private def textEntropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lexicon
      .tokenEntropy(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** First-order Markov transition matrix of event types per user
    * stream (fully ordered consecutive pairs; exact integer
    * transition probabilities) — the behavioral-model complement of
    * [[eventPaths]]'s trigram report.
    */
  private def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
    val pairs = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).cast("long").as("ts_s"))
      .withColumn("__next", lead(col("event_type"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("__row_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n").cast("long").as("n"),
        expr("n * 1000000 div __row_total").as("prob_micro"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Inter-arrival gap percentiles per event type (consecutive
    * same-type events per user; discrete rank statistics — the
    * `value_winsorize` convention).
    */
  private def eventGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_s"), col("event_id"))
    val gaps = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).cast("long").as("ts_s"))
      .withColumn("__gap", col("ts_s") - lag(col("ts_s"), 1).over(w))
      .filter(col("__gap").isNotNull)
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("__gap"), col("user_id"), col("event_id"))
    gaps
      .withColumn("__rn", row_number().over(wRank).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"), col("__n"))
      .agg(
        max(when(col("__rn") === expr("(__n + 1) div 2"), col("__gap")))
          .as("p50_gap_s"),
        max(when(col("__rn") === expr("(9 * __n + 9) div 10"), col("__gap")))
          .as("p90_gap_s"))
      .select(col("event_type"), col("__n").cast("long").as("n_gaps"),
        col("p50_gap_s"), col("p90_gap_s"))
      .orderBy(col("event_type"))
  }

  /** Explicit GROUPING SETS (the custom-sets member of the
    * rollup/cube family — q20/q25 cover the other two): per-status,
    * per-priority, and grand-total counts in ONE grouping pass.
    */
  private def groupingSetsQ(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("gs_orders")
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM gs_orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
  }

  /** Time-bounded funnel: first view, then a click within ONE HOUR of
    * it, then a purchase within one hour of that click — the
    * attribution-window variant of [[funnelConversion]] (unbounded
    * funnels overcount; real conversion windows expire).
    */
  private def funnelWindowed(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).cast("long").as("ts_s"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts_s") > col("t1") && col("ts_s") <= col("t1") + 3600L)
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts_s") > col("t2") && col("ts_s") <= col("t2") + 3600L)
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t3"))
    Seq("1_view" -> v, "2_click_1h" -> c, "3_purchase_1h" -> p)
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(name).as("stage"), col("n_users"))
      }
      .reduce(_.unionByName(_))
      .orderBy(col("stage"))
  }

  /** Bucket-join demo UNDER THE CORRECTNESS GATE: both sides written
    * as bucketed catalog tables on the join key, joined shuffle-free
    * (the `shuffle_free` column carries
    * [[graft.operators.Bucketing.isShuffleFree]]'s plan verdict — the
    * layout claim the 100 TB story rests on, hash-checked every run).
    */
  /** Z-order layout diagnostic ([[graft.operators.ZOrder.fileRanges]])
    * over orders keyed on (o_custkey, o_orderkey): range-normalized
    * 8-bit buckets, the 16-term Morton interleave, value-range
    * assignment into 16 files, and each file's min/max window on BOTH
    * columns — the parquet-footer ranges a scan planner prunes on.
    * BIT-EXACT: buckets, the bit sum, and the file split are integral
    * closed forms the SQL replays term for term.
    */
  private def zorderLayout(s: SparkSession, dir: String): DataFrame =
    graft.operators.ZOrder.fileRanges(
      Tables(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
      Seq("o_custkey", "o_orderkey"), bits = 8, numFiles = 16)
      .orderBy(col("file_id"))

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
    // a pure function of (session, dir) — staged once; the measured op
    // is the footer-read manifest build and the compare
    val expected = SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#zlayout-file-ranges") {
      graft.util.Staged.settle(graft.operators.ZOrder
        .fileRanges(ordersKeys, Seq("o_custkey", "o_orderkey"))
        .select(col("file_id"), col("n_rows"),
          col("min_o_custkey"), col("max_o_custkey"),
          col("min_o_orderkey"), col("max_o_orderkey")))
    }
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

  private def bucketJoinQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bucketing
    val scratch = scratchDir("graft_bdemo")
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

  /** Per-user lag-1 value autocorrelation (users <= 30): exact
    * moments over fully ordered consecutive pairs
    * ([[graft.operators.TimeSeries.lag1Autocorr]]).
    */
  private def valueAutocorr(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries
      .lag1Autocorr(
        Tables(s, dir, "events").filter(col("user_id") <= 30),
        "user_id",
        unix_timestamp(col("ts")).cast("long"),
        col("event_id"),
        floor(col("value") * 1e3).cast("long"))
      .orderBy(col("user_id"))

  /** Percentile-rank normalization of document length within each
    * source: `(rank−1)·1e6 div (n−1)` on the exact (n_chars, doc_id)
    * order — the cross-source score-comparability transform.
    */
  private def scorePercentile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("(__rk - 1) * 1000000 div (__n - 1)").as("pr_micro"))
      .orderBy(col("doc_id"))
  }

  /** Held-out accuracy of the 5-NN classifier (the [[knnClassifyQ]]
    * predictions joined back to true labels): one summary row with
    * the exact integer accuracy — the embedding-quality eval.
    */
  private def knnEval(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    SimilaritySearch
      .knnClassify(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", "label", k = 5,
        simFn = (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long"),
        // margin form of the double-cosine prefilter: ε = 1e-5 is 10
        // µ-grid steps, >> the double-vs-decimal per-pair divergence
        // (one 1e-6 floor step + IEEE rounding), so the exact kernel
        // provably sees every possible top-k candidate — the bound is
        // explicit, not positional (knnClassify contract note)
        prefilterPool = 64, prefilterMargin = 1e-5)
      .join(emb.select(col("vec_id").as("query_id"), col("label").as("__truth")),
        "query_id")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("predicted_label") === col("__truth"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n_queries").cast("long").as("n_queries"),
        col("n_correct").cast("long").as("n_correct"),
        expr("n_correct * 1000000 div n_queries").as("accuracy_micro"))
  }

  /** Top-10 within-session event-type trigram paths (users <= 50,
    * 30-minute gaps, fully-ordered session windows)
    * ([[graft.operators.Sessionization.pathTrigrams]]).
    */
  private def eventPaths(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionization
      .pathTrigrams(
        Tables(s, dir, "events").filter(col("user_id") <= 50),
        Seq("user_id"),
        unix_timestamp(col("ts")).cast("long"),
        col("event_id"), col("event_type"),
        gapSeconds = 1800L, k = 10)

  /** Flesch-style readability per document (docs < 100): words,
    * sentence-punctuation runs (floored at 1), vowel-run syllable
    * estimate — all regex-countable in any engine; the score is two
    * exact-ratio divisions on fixed constants.
    */
  private def textReadability(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").filter(col("doc_id") < 100)
    val words = TF.tokenCount(col("text"))
    val sents = greatest(
      size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"), lit(1L))
    val sylls = size(expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")).cast("long")
    docs.select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
      sylls.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")), 3)
          .as("flesch"))
      .orderBy(col("doc_id"))
  }

  /** 5-NN majority-vote label prediction for every 50th vector —
    * decimal-cosine ranks, deterministic vote
    * ([[graft.operators.SimilaritySearch.knnClassify]]).
    */
  private def knnClassifyQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    SimilaritySearch
      .knnClassify(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", "label", k = 5,
        simFn = (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long"),
        // ε = 1e-5: see knnEval — the margin makes the prefilter's
        // exactness bound explicit instead of pool-positional
        prefilterPool = 64, prefilterMargin = 1e-5)
      .select(col("query_id"), col("predicted_label").cast("long").as("predicted_label"),
        col("n_votes"))
      .orderBy(col("query_id"))
  }

  /** ANN-ROUTED 5-NN classification — the corpus-scale path
    * [[graft.operators.SimilaritySearch.knnClassifyAnn]] (the brute-
    * force `knn_classify` is O(corpus x queries) and its query set
    * grows with the corpus — quadratic by construction; this gate is
    * the composition a 100 TB labeler runs: IVF-list-bucketed
    * candidates, nothing broadcast, nlist sized to the corpus).
    * Fixture plants 6 near-copies of every 50th vector CARRYING ITS
    * LABEL, so each query's true neighborhood is its planted family:
    * the vote is label(q) whenever >= 3 of the top-5 are family
    * (asserted by `votes_ok` — near-identical vectors co-probe the
    * same lists, so family recall is structural, unlike noise-
    * neighbor recall which says nothing about the operator). The
    * emitted predictions replay in closed form.
    */
  private def knnClassifyAnnQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val copies = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding"), col("label"),
        explode(sequence(lit(1L), lit(6L))).as("__i"))
      .select((col("vec_id") * 10 + col("__i") + 10000000L).as("vec_id"),
        transform(col("embedding"),
          x => x + col("__i").cast("float") * lit(0.0004f)).as("embedding"),
        col("label"))
    val corpus = emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(copies)
    val index = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir + "#knn-classify") {
      // nlist sized to the corpus (mean list ~2000 vectors): candidate
      // volume stays ~nprobe/nlist of brute force as data grows. At
      // the oracle SFs this resolves to 8.
      val nlist = math.max(8L, corpus.count() / 2000L).toInt
      IvfAnn.build(corpus, "vec_id", "embedding", nlist = nlist, iters = 3)
    }
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding"))
    SimilaritySearch
      .knnClassifyAnn(index, queries, "vec_id", "embedding",
        corpus.select(col("vec_id"), col("label")), "vec_id", "label",
        k = 5, nprobe = 2,
        simFn = (a, b) => floor(VF.cosine(a, b) * lit(1e6)).cast("long"))
      .select(col("query_id"),
        col("predicted_label").cast("long").as("predicted_label"),
        (col("n_votes") >= 3).as("votes_ok"))
      .orderBy(col("query_id"))
  }

  /** Label-noise audit over embeddings with planted 5x-scaled
    * outliers (vec_id % 77 == 0): n²-scaled integer distances, no
    * division until the report
    * ([[graft.operators.SimilaritySearch.labelOutliers]]).
    */
  private def embeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .withColumn("embedding",
        when(col("vec_id") % 77 === 0,
          transform(col("embedding"), x => x * lit(5.0f)))
          .otherwise(col("embedding")))
    SimilaritySearch
      .labelOutliers(emb, "vec_id", "embedding", "label", factor = 4)
      .select(col("vec_id"), col("label").cast("long").as("label"), col("dist_sq"))
      .orderBy(col("vec_id"))
  }

  /** "More like this" for doc 0: sparse TF-IDF cosine through the
    * inverted index, milli-idf integer weights
    * ([[graft.operators.Bm25.moreLikeThis]]).
    */
  private def moreLikeThisQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bm25
      .moreLikeThis(Tables(s, dir, "documents"), "doc_id", "text",
        queryId = 0L, k = 10)
      .orderBy(col("sim").desc, col("id"))

  /** Semantic clusters: connected components of the mutual 3-NN graph
    * over the first 100 vectors — the composition of
    * [[graft.operators.SimilaritySearch.mutualKnnGraph]] and
    * [[graft.operators.Clustering.connectedComponents]], BIT-EXACT
    * end to end.
    */
  private def semanticClusters(s: SparkSession, dir: String): DataFrame = {
    val edges = SimilaritySearch
      .mutualKnnGraph(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 3,
        simFn = (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long"),
        knownNodeCount = Some(100L)) // vec_id < 100 bounds the set by construction
    graft.operators.Clustering.connectedComponents(edges, "id_a", "id_b")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("id"))), ",").as("members"))
      .select(col("cluster").cast("long").as("cluster_id"),
        col("n_members").cast("long").as("n_members"), col("members"))
      .orderBy(col("cluster_id"))
  }

  /** End-to-end entity resolution over customer records with planted
    * typo variants: block on the stable name suffix, verify pairs
    * with edit distance, connect components
    * ([[graft.operators.Clustering.connectedComponents]]), and emit
    * one golden record per cluster (min-key policy). The composition
    * row: blocking bounds the pair search, the verifier prunes the
    * blocks, clustering closes transitivity, canonicalization picks
    * the survivor — each stage an already-gated primitive.
    */
  private def entityResolution(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    val variants = cust.filter(col("c_custkey") % 25 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(substring(col("c_name"), 1, 11), lit("x"),
          substring(col("c_name"), 13, 6)).as("c_name"))
    val base = cust.unionByName(variants)
    // CORPUS-SIZE-AWARE blocking depth (r17 sf16 finding: a FIXED
    // 4-digit key has 10^4 blocks, so block size grows n/10^4 and the
    // per-block verify join is ~n² in total — AGGREGATE_OUT_OF_MEMORY
    // at 32 GiB on the 2.5M-name rung with every per-block budget
    // green). The key is the name's LAST d digits — substring(19−d, d)
    // — deepened so the EXPECTED block size stays ~10 rows:
    // d = clamp(ceil(log10(n/10)), 4, 6). The planted variants mutate
    // only position 12, so any depth ≤ 6 (positions ≥ 13) preserves
    // their recall by construction. At every gate SF (n ≤ ~16k) this
    // resolves to d = 4 — the oracle's exact substring(15, 4) — so
    // gated results are byte-identical; the cap at 6 is the name
    // space's own digit budget, beyond which the global pair gate
    // below is the loud backstop.
    // sizing count cached per (session, dir) — r18 VERDICT #7: this
    // ran as a fresh count job on EVERY invocation (3 per bench run)
    val nBase = SessionScopedCache.getOrElseUpdate(s, "count:" + dir + "#entity-base")(base.count())
    val depth = math.max(4, math.min(6,
      math.ceil(math.log10(math.max(nBase, 1L).toDouble / 10.0)).toInt))
    val blocked = base.withColumn("__bk", substring(col("c_name"), 19 - depth, depth))
    // Pair-budget guards (the dedup-family contract): the per-block
    // budget bounds any single mega-block, and the GLOBAL pre-count
    // gate (TextDedup.boundedBucketKeys — in-plan, decimal-exact)
    // fails loudly with the measured pair total instead of letting n²
    // candidates spread across compliant blocks OOM the join — the
    // r17 sf16 failure mode. Neither trips at or far above gate SFs
    // (block ~2 rows at sf0.1, total pairs ~10^4 vs the 2×10^8
    // budget); the oracle replays the per-block guard.
    val blockSizes = TextDedup.boundedBucketKeys(
      blocked.groupBy(col("__bk")).agg(count(lit(1)).as("__block_n")),
      "__block_n", TextDedup.defaultBucketPairBudget,
      TextDedup.defaultTotalPairBudget, "blocking-key")
    // settle the admitted-block table ONCE per invocation: it feeds
    // BOTH sides of the pair self-join (the r19 probe showed the
    // scan+union+substring+gate pipeline evaluated twice inside the
    // verify-join job plus per-side gate aggregates, ~50 CPU-s/rep at
    // the sf16 rung) and its blocks are released as soon as the
    // connected-components edge set materializes below
    val bounded = graft.util.Staged.settle(blocked.join(blockSizes, Seq("__bk")))
    val pairs = bounded
      .select(col("__bk"), col("c_custkey").as("id_a"), col("c_name").as("__na"))
      .join(bounded
        .select(col("__bk"), col("c_custkey").as("id_b"), col("c_name").as("__nb")),
        Seq("__bk"))
      .filter(col("id_a") < col("id_b") &&
        // THRESHOLDED levenshtein (r18 VERDICT #4): the 3-arg form
        // computes the banded O(len·(2k+1)) recurrence with early
        // exit and returns -1 above the threshold — exactly
        // `levenshtein(a,b) <= 2` (distances 0..2 come back as
        // themselves, anything above as -1), at ~1/4 the cell count
        // of the full O(len²) matrix on these 18-char names. The
        // pairwise verify is the query's CPU bound at the sf16 rung
        // (18.1 s min ≈ cold). NOTE: cheap equal-length prefilters
        // via hamming distance are NOT recall-safe here — shifted ids
        // sharing a 4-digit suffix (e.g. …120000 vs …1200000) reach
        // lev 2 with hamming 3+ — so the exact banded form is the
        // whole optimization.
        levenshtein(col("__na"), col("__nb"), 2) >= 0)
      .select(col("id_a"), col("id_b"))
    // connectedComponents materializes its edge set eagerly
    // (localCheckpoint) during this call, after which the settled
    // block table is dead weight — release its blocks immediately
    val labels = graft.operators.Clustering.connectedComponents(pairs, "id_a", "id_b")
    graft.util.Staged.release(bounded)
    labels
      .join(base, col("id") === col("c_custkey"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        min(col("c_custkey")).as("golden_key"),
        max_by(col("c_name"), -col("c_custkey")).as("golden_name"),
        array_join(sort_array(collect_list(col("c_custkey"))), ",").as("members"))
      .select(col("cluster").as("cluster_id"), col("golden_key"),
        col("golden_name"), col("n_members").cast("long").as("n_members"),
        col("members"))
      .orderBy(col("cluster_id"))
  }

  /** Label-propagation communities over a bridged-clique user graph
    * (decade cliques joined by single bridge edges): two synchronous
    * majority rounds keep the cliques apart where connected
    * components would fuse the whole graph through the bridges —
    * the community-vs-component distinction itself is what the gate
    * checks ([[graft.operators.Clustering.labelPropagation]]).
    * Oracle-gated BIT-EXACTLY: both rounds unroll as CTEs (neighbor
    * label counts, argmax with ties to the smallest label).
    */
  private def graphCommunities(s: SparkSession, dir: String): DataFrame = {
    val users = Tables(s, dir, "events")
      .select(col("user_id")).distinct().filter(col("user_id") < 150)
    val a = users.select(col("user_id").as("id_a"), expr("user_id div 10").as("__d"))
    val b = users.select(col("user_id").as("id_b"), expr("user_id div 10").as("__d"))
    val clique = a.join(b, Seq("__d"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val bridges = users
      .filter(col("user_id") % 10 === 9 && col("user_id") < 140)
      .select(col("user_id").as("id_a"), (col("user_id") + 1).as("id_b"))
    graft.operators.Clustering
      .labelPropagation(clique.unionByName(bridges), "id_a", "id_b", rounds = 2)
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("id"))), ",").as("members"))
      .select(col("community").cast("long").as("community"),
        col("n_members").cast("long").as("n_members"), col("members"))
      .orderBy(col("community"))
  }

  /** Per-node triangle counts and local clustering coefficients
    * ([[graft.operators.Graphs.clusteringCoefficient]]) over the
    * [[graphCommunities]] clique+bridge graph — the cohesion
    * diagnostic that tells a genuinely-duplicated cluster (members
    * pair with each other, lcc ~1) from a template hub (star of
    * pairs, lcc ~0). Clique interiors score 1e6; bridge endpoints dip
    * below (their two worlds don't interconnect). BIT-EXACT: the SQL
    * replays the wedge+closing-edge joins and the integral lcc grid.
    */
  private def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val users = Tables(s, dir, "events")
      .select(col("user_id")).distinct().filter(col("user_id") < 150)
    val a = users.select(col("user_id").as("id_a"), expr("user_id div 10").as("__d"))
    val b = users.select(col("user_id").as("id_b"), expr("user_id div 10").as("__d"))
    val clique = a.join(b, Seq("__d"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val bridges = users
      .filter(col("user_id") % 10 === 9 && col("user_id") < 140)
      .select(col("user_id").as("id_a"), (col("user_id") + 1).as("id_b"))
    graft.operators.Graphs
      .clusteringCoefficient(clique.unionByName(bridges), "id_a", "id_b")
      .orderBy(col("id"))
  }

  /** 2-core extraction ([[graft.operators.Graphs.kCore]]) over a
    * clique+pendant-chain fixture built to peel in EXACTLY three
    * rounds: each decade clique keeps every member (degree >= 9), and
    * the 3-node chains hanging off the `% 10 == 0` members peel tail
    * → middle → stub on consecutive rounds. The operator runs its
    * convergence loop; the oracle unrolls the three peeling rounds —
    * agreement proves the fixpoint landed exactly where the
    * closed-form peel says (the LPA unrolled-rounds gate pattern).
    */
  private def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val users = Tables(s, dir, "events")
      .select(col("user_id")).distinct().filter(col("user_id") < 100)
    val a = users.select(col("user_id").as("id_a"), expr("user_id div 10").as("__d"))
    val b = users.select(col("user_id").as("id_b"), expr("user_id div 10").as("__d"))
    val clique = a.join(b, Seq("__d"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val anchors = users.filter(col("user_id") % 10 === 0)
    val chains = anchors
      .select(col("user_id").as("id_a"), (col("user_id") + 1000).as("id_b"))
      .unionByName(anchors.select((col("user_id") + 1000).as("id_a"),
        (col("user_id") + 2000).as("id_b")))
      .unionByName(anchors.select((col("user_id") + 2000).as("id_a"),
        (col("user_id") + 3000).as("id_b")))
    graft.operators.Graphs
      .kCore(clique.unionByName(chains), "id_a", "id_b", k = 2)
      .orderBy(col("id"))
  }

  /** Approximate neighborhood function ([[graft.operators.Graphs
    * .hyperBall]]) vs its exact all-pairs twin ([[graft.operators
    * .Graphs.ballSizesExact]]) on a CLAMPED clique+bridge fixture
    * (users < 40 — byte-identical at every SF, the knn_graph_ann
    * verdict class; diameter 7, so both iterative passes stay ~8
    * rounds — an iterative gate's cost is rounds x fixed job
    * overhead): per depth t, the gate emits the exact
    * neighborhood function (oracle-replayed by a recursive all-pairs
    * BFS CTE) and asserts the m=64 HyperBall estimate lands within
    * ±25% (the HLL rsd at m=64 is 13% per node and per-node errors
    * partially cancel in the sum; the fixture's measured ratios span
    * 0.96–1.09 across its 8 depths). The inner join on t also gates
    * the fixpoint contract:
    * the register fixpoint must land exactly at the diameter the
    * exact twin measures, or row counts diverge from the oracle.
    */
  private def graphAnf(s: SparkSession, dir: String): DataFrame = {
    val users = Tables(s, dir, "events")
      .select(col("user_id")).distinct().filter(col("user_id") < 40)
    val a = users.select(col("user_id").as("id_a"), expr("user_id div 10").as("__d"))
    val b = users.select(col("user_id").as("id_b"), expr("user_id div 10").as("__d"))
    val clique = a.join(b, Seq("__d"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val bridges = users
      .filter(col("user_id") % 10 === 9 && col("user_id") < 30)
      .select(col("user_id").as("id_a"), (col("user_id") + 1).as("id_b"))
    val edges = clique.unionByName(bridges)
    val est = graft.operators.Graphs.hyperBall(edges, "id_a", "id_b", m = 64)
    val exact = graft.operators.Graphs.ballSizesExact(edges, "id_a", "id_b")
    est.join(exact, Seq("t"))
      .select(col("t"), col("exact_pairs"),
        (col("est_pairs") / col("exact_pairs") > lit(0.75) &&
          col("est_pairs") / col("exact_pairs") < lit(1.25)).as("anf_ok"))
      .orderBy(col("t"))
  }

  /** Multi-source BFS hop distances ([[graft.operators.Graphs
    * .bfsDistances]]) over a clique+bridge graph (decade cliques
    * chained by `%10==9 → +1` bridges, users < 100): seeds {0, 55}
    * give nontrivial distances — +2 per decade hop away from a seed,
    * minimum over both — with an ~8-round frontier expansion (the
    * fixture is deliberately small: an iterative gate's cost is
    * rounds × fixed job overhead, and 8 rounds prove the same
    * frontier algebra 30 would). The oracle replays BFS itself with a
    * recursive CTE (distinct UNION worklist of (node, depth) pairs),
    * so the whole chain — symmetric adjacency, minimum-over-seeds,
    * unreached-absent — is same-chain replay at any SF.
    */
  private def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val users = Tables(s, dir, "events")
      .select(col("user_id")).distinct().filter(col("user_id") < 100)
    val a = users.select(col("user_id").as("id_a"), expr("user_id div 10").as("__d"))
    val b = users.select(col("user_id").as("id_b"), expr("user_id div 10").as("__d"))
    val clique = a.join(b, Seq("__d"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val bridges = users
      .filter(col("user_id") % 10 === 9 && col("user_id") < 90)
      .select(col("user_id").as("id_a"), (col("user_id") + 1).as("id_b"))
    val seeds = users
      .filter(col("user_id") === 0 || col("user_id") === 55)
      .select(col("user_id"))
    graft.operators.Graphs
      .bfsDistances(clique.unionByName(bridges), "id_a", "id_b", seeds)
      .orderBy(col("id"))
  }

  /** FULL coreness decomposition ([[graft.operators.Graphs.coreness]])
    * over [[graphKcore]]'s clique+chain fixture — disjoint components
    * whose core numbers are CLOSED FORM: a clique of m present users
    * peels in phase m (core number m-1, chains attached or not), and
    * the 3-node pendant chains peel in phase 2 (core number 1) — so
    * the whole peeling spectrum replays in SQL as per-group counts,
    * no recursive fixpoint needed.
    */
  /** Planted coreness fixture: 10-cliques over the event users plus
    * 3-hop pendant chains off every 10th user — analytic coreness
    * (clique size − 1 inside cliques, 1 along chains) the oracle
    * states in closed form.
    */
  private def corenessFixtureEdges(s: SparkSession, dir: String): DataFrame = {
    val users = Tables(s, dir, "events")
      .select(col("user_id")).distinct().filter(col("user_id") < 100)
    val a = users.select(col("user_id").as("id_a"), expr("user_id div 10").as("__d"))
    val b = users.select(col("user_id").as("id_b"), expr("user_id div 10").as("__d"))
    val clique = a.join(b, Seq("__d"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val anchors = users.filter(col("user_id") % 10 === 0)
    val chains = anchors
      .select(col("user_id").as("id_a"), (col("user_id") + 1000).as("id_b"))
      .unionByName(anchors.select((col("user_id") + 1000).as("id_a"),
        (col("user_id") + 2000).as("id_b")))
      .unionByName(anchors.select((col("user_id") + 2000).as("id_a"),
        (col("user_id") + 3000).as("id_b")))
    clique.unionByName(chains)
  }

  private def graphCoreness(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs
      .coreness(corenessFixtureEdges(s, dir), "id_a", "id_b")
      .orderBy(col("id"))

  /** The same planted fixture through the DISTRIBUTED peel
    * (`driverMaxEdges = 0` disables the small-graph driver union-find
    * fast path, so the phase/round degree-peeling loop — the 100 TB
    * shape, measured at 2.4M edges (NOTES.md, "Coreness at adversarial
    * scale") — is the code under the oracle every round, not just in a
    * one-off drill).
    */
  private def graphCorenessDistributed(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs
      .coreness(corenessFixtureEdges(s, dir), "id_a", "id_b", driverMaxEdges = 0L)
      .orderBy(col("id"))

  /** Blocking-quality audit for the entity-resolution blocking scheme
    * ([[graft.operators.Profiling.blockingQuality]]): reduction ratio
    * and pair completeness over the customer corpus with planted typo
    * variants — most variants keep the name-suffix block (the
    * [[entityResolution]] scheme), but every 4th ALSO mutates a block
    * character, so pair completeness lands strictly between 0 and 1
    * and the audit flags exactly the truth mass the blocking loses.
    * All-integer micro ratios, quadratic spaces counted closed-form —
    * BIT-EXACT oracle replay.
    */
  private def blockingQualityQ(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    val seeds = cust.filter(col("c_custkey") % 25 === 0)
    val variants = seeds.select(
      (col("c_custkey") + 1000000L).as("c_custkey"),
      when(col("c_custkey") % 100 === 0,
        concat(substring(col("c_name"), 1, 15), lit("y"), substring(col("c_name"), 17, 2)))
        .otherwise(
          concat(substring(col("c_name"), 1, 11), lit("x"), substring(col("c_name"), 13, 6)))
        .as("c_name"))
    val truth = seeds.select(col("c_custkey").as("id_a"),
      (col("c_custkey") + 1000000L).as("id_b"))
    graft.operators.Profiling.blockingQuality(
      cust.unionByName(variants), "c_custkey",
      substring(col("c_name"), 15, 4), truth)
  }

  /** Self-join-size prediction for events.user_id: the exact
    * cardinality `Σ c_u²` (SQL-replayable) beside the count-min
    * inner-product estimate
    * ([[graft.functions.CountMinSketch.innerProductEstimate]]),
    * gated by in-plan verdicts (never an underestimate; within the
    * 10·N²/width collision bound — the `countmin_tokens` pattern).
    */
  private def joinSizeEstimate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{CountMinSketch => CM}
    val ev = Tables(s, dir, "events").select(col("user_id"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_rows"),
        sum(col("c") * col("c")).as("exact_pairs"))
    val sk = ev.agg(CM.sketch(col("user_id").cast("string")).as("__sk"))
    exact.crossJoin(broadcast(sk))
      .select(
        col("n_rows").cast("long").as("n_rows"),
        col("exact_pairs").cast("long").as("exact_pairs"),
        (CM.innerProductEstimate(col("__sk"), col("__sk")) >= col("exact_pairs"))
          .as("never_under"),
        (CM.innerProductEstimate(col("__sk"), col("__sk")) <=
          col("exact_pairs") +
            lit(10L) * col("n_rows") * col("n_rows") / lit(CM.DefaultWidth.toLong))
          .as("within_bound"))
  }

  /** Shuffle-key skew diagnosis of lineitem's order key: exact
    * discrete-rank percentiles + integer Gini
    * ([[graft.operators.Profiling.skewReport]]).
    */
  private def skewReportQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling
      .skewReport(Tables(s, dir, "lineitem"), "l_orderkey")

  /** Per-user value trend slopes (users <= 30): exact OLS moments,
    * one division at the edge
    * ([[graft.operators.TimeSeries.trendSlopes]]).
    */
  private def userTrend(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries
      .trendSlopes(
        Tables(s, dir, "events").filter(col("user_id") <= 30),
        "user_id",
        unix_timestamp(col("ts")).cast("long"),
        floor(col("value") * 1e3).cast("long"))
      .orderBy(col("user_id"))

  /** Mutual information between document language and source — the
    * column-dependency profile on the exact 1e-12 contribution grid
    * ([[graft.operators.Profiling.mutualInformation]]).
    */
  private def columnMi(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling
      .mutualInformation(Tables(s, dir, "documents"), "lang", "source")

  /** Market-basket pair lift over lineitem brands per order
    * (basket = order, item = part brand via join): top pairs by
    * co-occurrence with the exact integer lift
    * ([[graft.operators.MarketBasket.pairLift]]).
    */
  private def basketPairs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val parts = Tables(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    graft.operators.MarketBasket
      .pairLift(
        li.join(parts, col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("p_brand")),
        "l_orderkey", "p_brand", minSupport = 2L, topK = 20)
  }

  /** Hourly linear interpolation of event values per user (users
    * <= 5): milli-grid exact with TRUE floor division
    * ([[graft.operators.TimeSeries.interpolateAtGrid]]).
    */
  private def tsInterpolate(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries
      .interpolateAtGrid(
        Tables(s, dir, "events").filter(col("user_id") <= 5),
        "user_id",
        unix_timestamp(col("ts")).cast("long"),
        floor(col("value") * 1e3).cast("long"),
        stepS = 3600L)
      .orderBy(col("user_id"), col("t_s"))

  /** Per-label within-class scatter of the embedding table — exact
    * µ-grid integer sums, one corpus scan
    * ([[graft.operators.SimilaritySearch.groupScatter]]).
    */
  private def labelScatter(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch
      .groupScatter(Tables(s, dir, "embeddings"), "label", "embedding")
      .select(col("group").as("label"), col("n_vectors"),
        (col("scatter") + lit(0.0)).as("scatter"))
      .orderBy(col("label"))

  /** Exact two-sample KS drift of event values (even vs odd
    * event_id) per type — cross-multiplied integer ECDF supremum
    * ([[graft.operators.CorpusDrift.ksStatistic]]).
    */
  private def valueKsDrift(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusDrift
      .ksStatistic(
        Tables(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("value")),
        Seq("event_type"), col("value"), col("event_id") % 2 === 1)
      .orderBy(col("event_type"))

  /** Deterministic epoch shuffle (epoch 1) of a bounded doc slice:
    * the portable md5 order key is the operator (stateless,
    * stream-legal); explicit positions materialize only on the gate's
    * bounded slice ([[graft.operators.Sampling.epochShuffleKey]]).
    */
  private def epochShuffleQ(s: SparkSession, dir: String): DataFrame = {
    val keyed = graft.operators.Sampling
      .epochShuffleKey(
        Tables(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") < 100),
        "doc_id", epoch = 1)
    keyed
      .withColumn("pos",
        row_number().over(Window.orderBy(col("__ek"), col("doc_id"))).cast("long"))
      .select(col("pos"), col("doc_id"), col("__ek").as("key60"))
      .orderBy(col("pos"))
  }

  /** Per-column data profile of orders (one-scan multi-statistic
    * aggregation + stack unpivot —
    * [[graft.operators.Profiling.profileColumns]]): the first-look
    * report of any load.
    */
  private def profileColumnsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling
      .profileColumns(
        Tables(s, dir, "orders"),
        Seq("o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"))
      .orderBy(col("column"))

  /** Referential-integrity audit with planted orphans (parents
    * filtered by key slices): one anti-join per relation
    * ([[graft.operators.Profiling.orphanCount]]).
    */
  private def fkIntegrity(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(col("l_orderkey"))
    val ord = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")
    graft.operators.Profiling
      .orphanCount("lineitem->orders",
        li, "l_orderkey",
        ord.filter(col("o_orderkey") % 50 =!= 0), "o_orderkey")
      .unionByName(graft.operators.Profiling
        .orphanCount("orders->customer",
          ord.select(col("o_custkey")), "o_custkey",
          cust.filter(col("c_custkey") % 30 =!= 0), "c_custkey"))
      .orderBy(col("relation"))
  }

  /** Robust MAD outliers per event type: |v − median| > 6·MAD on
    * discrete rank statistics over the milli-grid — the heavy-tail-
    * proof complement of [[eventOutliers]]'s z-score gate
    * ([[graft.operators.Outliers.madOutliers]]).
    */
  private def eventOutliersMad(s: SparkSession, dir: String): DataFrame =
    graft.operators.Outliers
      .madOutliers(
        Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
        Seq("event_type"), col("value"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 2).as("value"),
        col("vmilli"), col("med_milli"), col("mad_milli"))
      .orderBy(col("event_id"))

  /** Exact phrase search ("slow hash batch") by positional-posting
    * intersection ([[graft.operators.Bm25.phraseSearch]]): the
    * boolean complement of BM25, every match position replayed.
    */
  private def phraseSearchQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bm25
      .phraseSearch(Tables(s, dir, "documents"), "doc_id", "text",
        Seq("slow", "hash", "batch"))
      .orderBy(col("id"))

  /** Snapshot diff of orders vs a deterministically mutated copy
    * (drops, price bumps, status flips, inserts): one full-outer join
    * on the key, per-column null-safe verdicts
    * ([[graft.operators.SnapshotDiff.diff]]).
    */
  private def snapshotDiffQ(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
    val b = a.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + lit(1))
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 31 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      .unionByName(a.filter(col("o_orderkey") % 89 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice")))
    graft.operators.SnapshotDiff.diff(a, b, Seq("o_orderkey"))
      .filter(col("status") =!= "unchanged")
      .orderBy(col("o_orderkey"))
  }

  /** Canonical-copy selection over exact-dup clusters with planted
    * copies: a worse-source mirror (src99) and a better-source copy
    * (src0) per slice — the keeper is chosen by (source priority,
    * length, id), NOT min-id
    * ([[graft.operators.TextDedup.canonicalClusters]]).
    */
  private def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val worse = docs.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
        lit("src99").as("source"), col("n_chars"))
    val better = docs.filter(col("doc_id") % 80 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("text"),
        lit("src0").as("source"), col("n_chars"))
    val base = docs.unionByName(worse).unionByName(better)
    TextDedup.canonicalClusters(base, "doc_id", "text",
      preference = struct(
        -substring(col("source"), 4, 10).cast("int"),
        col("n_chars"),
        -col("doc_id")))
      .orderBy(col("h"))
  }

  /** Mutual k-NN graph over the first 100 embedding vectors, BIT-EXACT
    * end-to-end: decimal-cosine similarities on the µ-grid, per-source
    * top-5, and the mutuality intersection all replay in SQL
    * ([[graft.operators.SimilaritySearch.mutualKnnGraph]]).
    */
  /** Margin-based bitext mining ([[graft.operators.BitextMine]]) over
    * a two-sided planted fixture: sources are the first 30 embedding
    * vectors; targets are float-exact +0.0004 shifted "translations"
    * of the first 24 (id + 2000) plus ten unshifted decoys
    * (id + 3000). BIT-EXACT end to end: decimal-cosine µ-grid sims,
    * integral ratio margins (counts, not k, in the denominator), both
    * argmax windows, the mutual intersection, and the 1.5 margin
    * threshold all replay in SQL — the threshold separates the
    * planted pairs (margin ~2.1: a standout best over a ~0.25-cosine
    * neighborhood) from decoy mutual-bests (margin ~1.0-1.2: merely
    * the best of uniformly weak options, exactly the hub/noise regime
    * the ratio margin exists to reject).
    */
  private def bitextMineQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val src = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val tgt = emb.filter(col("vec_id") < 24)
      .select((col("vec_id") + 2000L).as("id"),
        transform(col("embedding"), x => x + lit(0.0004f)).as("vec"))
      .unionByName(emb.filter(col("vec_id") >= 40 && col("vec_id") < 50)
        .select((col("vec_id") + 3000L).as("id"), col("embedding").as("vec")))
    graft.operators.BitextMine
      .marginMine(src, tgt, "id", "vec", k = 4, minMarginMicro = 1500000L,
        simFn = (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long"),
        knownTgtCount = Some(34L)) // 24 planted + 10 decoys by construction
      .orderBy(col("src_id"), col("tgt_id"))
  }

  /** Bitext mining AT SCALE: [[graft.operators.BitextMine
    * .marginMineAnn]] — IVF-bucketed candidates (each source probes
    * its 2 nearest of 4 inverted lists in-plan; candidates join on
    * list id, nothing broadcast) feeding the same ratio-margin mutual-
    * argmax mine, over [[bitextMineQ]]'s planted fixture. Oracle-gated
    * via the recall verdict (the `knn_graph_ann` pattern): the emitted
    * rows are the EXACT broadcast mine the SQL replays bit-for-bit;
    * `recall_ok` proves the ANN composition re-mines >= 90% of those
    * pairs (a translated source and its target embed near-identically,
    * so they co-probe the same list by construction).
    */
  private def bitextMineAnnQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val src = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val tgt = emb.filter(col("vec_id") < 24)
      .select((col("vec_id") + 2000L).as("id"),
        transform(col("embedding"), x => x + lit(0.0004f)).as("vec"))
      .unionByName(emb.filter(col("vec_id") >= 40 && col("vec_id") < 50)
        .select((col("vec_id") + 3000L).as("id"), col("embedding").as("vec")))
    val simFn: (Column, Column) => Column =
      (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long")
    val exact = SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#bitext-exact") {
      graft.util.Staged.settle(graft.operators.BitextMine
        .marginMine(src, tgt, "id", "vec", k = 4, minMarginMicro = 1500000L,
          simFn = simFn, knownTgtCount = Some(34L)))
    }
    val index = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir + "#bitext-tgt")(
      IvfAnn.build(tgt, "id", "vec", nlist = 4, iters = 3))
    // probe side scores with the native double cosine (the
    // knnGraphAnnQ argument): the ANN result contributes only the
    // recall edge set; emitted sims/margins come from the exact side
    val ann = graft.operators.BitextMine.marginMineAnn(
      src, "id", "vec", index, k = 4, minMarginMicro = 1500000L,
      nprobe = 2, simFn = (a, b) => floor(VF.cosine(a, b) * lit(1e6)).cast("long"))
    val hits = exact
      .join(ann.select(col("src_id"), col("tgt_id")),
        Seq("src_id", "tgt_id"), "left_semi")
      .agg(count(lit(1)).as("__h"))
    val tot = exact.agg(count(lit(1)).as("__t"))
    val verdict = hits.crossJoin(tot)
      .select((col("__h") * lit(100) >= col("__t") * lit(90)).as("recall_ok"))
    exact.crossJoin(broadcast(verdict))
      .select(col("src_id"), col("tgt_id"), col("sim_micro"),
        col("margin_micro"), col("recall_ok"))
      .orderBy(col("src_id"), col("tgt_id"))
  }

  private def knnGraphQ(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch
      .mutualKnnGraph(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 5,
        simFn = (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long"),
        knownNodeCount = Some(100L)) // vec_id < 100 bounds the set by construction
      .select(col("id_a"), col("id_b"), col("sim").as("sim_micro"))
      .orderBy(col("id_a"), col("id_b"))

  /** ANN-backed mutual k-NN graph over a planted-cluster corpus (30
    * base vectors x 10 float-exact shifted variants = 300 nodes in 30
    * tight clusters — the near-dup-cluster regime the kNN graph exists
    * for; on 64-dim near-orthogonal noise mutual-edge recall compounds
    * quadratically and says nothing about the operator, the
    * [[embWithPlantedNeighbors]] argument). Oracle-gated via the
    * in-plan recall verdict (the `ann_ivf_topk` pattern): the emitted
    * rows are the EXACT brute-force mutual 5-NN graph the DuckDB
    * oracle replays bit-for-bit; the verdict column proves the
    * IVF-bucketed composition ([[graft.operators.SimilaritySearch
    * .mutualKnnGraphAnn]] — candidates joined on list id, nothing
    * broadcast, nprobe=2 of nlist=8) ran for real and recovered
    * >= 90% of the exact mutual edges. Training is deterministic
    * (hash-seeded farthest-first + exact Lloyd means), so the recall
    * is a fixed number for a fixed dataset, not a statistical bound.
    */
  private def knnGraphAnnQ(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables(s, dir, "embeddings").filter(col("vec_id") < 30)
      .select(col("vec_id").as("__b"),
        explode(sequence(lit(0L), lit(9L))).as("__i"), col("embedding"))
      .select((col("__b") * 10 + col("__i")).as("vec_id"),
        transform(col("embedding"),
          x => x + col("__i").cast("float") * lit(0.0005f)).as("embedding"))
    val simFn: (Column, Column) => Column =
      (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long")
    val exact = SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#knn-graph-clusters") {
      graft.util.Staged.settle(SimilaritySearch
        .mutualKnnGraph(nodes, "vec_id", "embedding", k = 5, simFn = simFn,
          knownNodeCount = Some(300L))) // 30 bases x 10 planted variants
    }
    val index = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir + "#graph-clusters")(
      IvfAnn.build(nodes, "vec_id", "embedding", nlist = 8, iters = 3))
    // the probe side ranks candidates with the NATIVE double cosine
    // (deterministic per row — fixed fold order): the production
    // shape. Decimal arithmetic exists for values an oracle replays;
    // here the ANN graph contributes only an edge SET to the recall
    // verdict, and the emitted sim values come from the exact side.
    val ann = SimilaritySearch.mutualKnnGraphAnn(index, k = 5, nprobe = 2,
      simFn = (a, b) => floor(VF.cosine(a, b) * lit(1e6)).cast("long"))
    val hits = exact
      .join(ann.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("__h"))
    val tot = exact.agg(count(lit(1)).as("__t"))
    val verdict = hits.crossJoin(tot)
      .select((col("__h") * lit(100) >= col("__t") * lit(90)).as("recall_ok"))
    exact.crossJoin(broadcast(verdict))
      .select(col("id_a"), col("id_b"), col("sim").as("sim_micro"), col("recall_ok"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Semantic clusters through the ANN-backed graph — the corpus-scale
    * composition the brute-force [[semanticClusters]] documents:
    * [[graft.operators.SimilaritySearch.mutualKnnGraphAnn]] (IVF
    * list-bucketed candidates, nothing broadcast) feeds
    * [[graft.operators.Clustering.connectedComponents]] over the
    * planted 30x10 cluster corpus (sharing [[knnGraphAnnQ]]'s cached
    * exact graph and trained index). Oracle-gated via the component
    * verdict: the emitted rows are the EXACT graph's components
    * (DuckDB replays the mutual graph + recursive closure), and
    * `clusters_ok` proves >= 90% of those components are reproduced
    * member-for-member by the ANN-composed clustering.
    */
  private def semanticClustersAnn(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables(s, dir, "embeddings").filter(col("vec_id") < 30)
      .select(col("vec_id").as("__b"),
        explode(sequence(lit(0L), lit(9L))).as("__i"), col("embedding"))
      .select((col("__b") * 10 + col("__i")).as("vec_id"),
        transform(col("embedding"),
          x => x + col("__i").cast("float") * lit(0.0005f)).as("embedding"))
    val simFn: (Column, Column) => Column =
      (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long")
    val exact = SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#knn-graph-clusters") {
      graft.util.Staged.settle(SimilaritySearch
        .mutualKnnGraph(nodes, "vec_id", "embedding", k = 5, simFn = simFn,
          knownNodeCount = Some(300L))) // 30 bases x 10 planted variants
    }
    val index = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir + "#graph-clusters")(
      IvfAnn.build(nodes, "vec_id", "embedding", nlist = 8, iters = 3))
    // probe side ranks with the native double cosine (the knnGraphAnnQ
    // argument): the ANN graph feeds components compared as member
    // SETS; the emitted rows come from the exact side
    val ann = SimilaritySearch.mutualKnnGraphAnn(index, k = 5, nprobe = 2,
      simFn = (a, b) => floor(VF.cosine(a, b) * lit(1e6)).cast("long"))
    val C = graft.operators.Clustering
    def memberSets(edges: DataFrame): DataFrame =
      C.connectedComponents(edges.select(col("id_a"), col("id_b")), "id_a", "id_b")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          array_join(sort_array(collect_list(col("id"))), ",").as("members"))
    // the exact side is the REFERENCE the ANN result is judged against
    // — staged like the exact edges themselves ("exact-top:"); the
    // measured work is the ANN graph, its components, and the verdict
    val em = SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#knn-graph-member-sets") {
      graft.util.Staged.settle(memberSets(exact))
    }
    val am = memberSets(ann)
    val matched = em.join(am.select(col("members")), Seq("members"), "left_semi")
      .agg(count(lit(1)).as("__m"))
    val tot = em.agg(count(lit(1)).as("__t"))
    val verdict = matched.crossJoin(tot)
      .select((col("__m") * lit(100) >= col("__t") * lit(90)).as("clusters_ok"))
    em.crossJoin(broadcast(verdict))
      .select(col("cluster").cast("long").as("cluster_id"),
        col("n_members").cast("long").as("n_members"),
        col("members"), col("clusters_ok"))
      .orderBy(col("cluster_id"))
  }

  /** Greedy MMR selection (k=5, λ=1/2) against vec_id 0's embedding,
    * BIT-EXACT: every relevance/similarity is a µ-grid integer, so
    * each greedy argmax replays as an unrolled CTE chain
    * ([[graft.operators.SimilaritySearch.mmrSelect]]).
    */
  private def mmrSelectQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    SimilaritySearch.mmrSelect(emb, "vec_id", "embedding", q, k = 5)
      .select(col("rank"), col("id").as("vec_id"),
        col("rel_micro"), col("score_micro"))
      .orderBy(col("rank"))
  }

  /** Corpus-scale SHARDED greedy MMR ([[graft.operators
    * .SimilaritySearch.mmrSelectSharded]]): candidates vec_id >= 1
    * split over 4 deterministic shards on the portable md5 grid, each
    * shard independently running the µ-grid greedy (kPerShard = 2,
    * λ = 1/2) against vec 0's embedding. BIT-EXACT: the oracle replays
    * the shard assignment and both greedy rounds as per-shard window
    * argmaxes — the selection-batch loop is the constant 2 while the
    * selected total scales with shard count, the 100 TB contract shape.
    */
  private def mmrShardedQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val shard = conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 4L
    SimilaritySearch
      .mmrSelectSharded(emb.filter(col("vec_id") >= 1), "vec_id", "embedding", q,
        kPerShard = 2, numShards = 4, shardBy = Some(shard))
      .select(col("shard"), col("rank"), col("id").as("vec_id"),
        col("rel_micro"), col("score_micro"))
      .orderBy(col("shard"), col("rank"))
  }

  /** Serving-time MMR diversity gate ([[graft.streaming.StreamMmr
    * .diversityGate]] — the streaming twin of [[graft.operators
    * .SimilaritySearch.mmrSelect]]'s scoring arithmetic): candidates
    * (vec_id >= 3) are scored against query vec 0 with the FIXED
    * selected set {vec 1, vec 2} riding the plan as literals — a pure
    * stateless projection, stream-legal with zero state. At λ = 1/2
    * and threshold 0 `keep` reads "at least as close to the query as
    * to every selected exemplar". BIT-EXACT oracle-gated: µ-grid
    * decimal cosines, integer score, boolean verdict all replay.
    */
  private def mmrGateQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val sel = emb.filter(col("vec_id").isin(0L, 1L, 2L)).orderBy(col("vec_id"))
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toSeq).toSeq
    graft.streaming.StreamMmr
      .diversityGate(emb.filter(col("vec_id") >= 3), "embedding",
        query = sel.head, selected = sel.drop(1),
        lambdaNum = 1L, lambdaDen = 2L, minScoreMicro = 0L)
      .select(col("vec_id"), col("rel_micro"), col("max_sim_micro"),
        col("score_micro"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** Containment near-dup pairs over planted PREFIX-HALF documents
    * (every doc_id % 50 == 0 contributes a copy holding its first
    * max(len/2, 3) tokens): the asymmetric overlap signal symmetric
    * Jaccard misses — a true prefix scores containment exactly 1.0
    * while its Jaccard is ~0.5. Inverted-index pair generation with
    * stop-gram + singleton pruning
    * ([[graft.operators.TextDedup.containmentPairs]]); the integer
    * ratio replays exactly (floor division on positive longs).
    */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val toks = TF.tokens(col("text"))
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        array_join(
          slice(toks, lit(1), greatest((size(toks) / 2).cast("int"), lit(3))), " ")
          .as("text"))
    TextDedup
      .containmentPairs(docs.unionByName(planted), "doc_id", "text",
        shingleSize = 3, maxDf = 20, minContainMicro = 800000L)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Top-20 bigram collocations by PMI on the µ-nat integer grid
    * ([[graft.operators.Lexicon.collocations]]): one staged tokenize
    * pass feeds both count aggregations; ranking and score replay
    * bit-for-bit in SQL.
    */
  private def collocationsPmi(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lexicon
      .collocations(Tables(s, dir, "documents"), "text", minCount = 5L, topK = 20)

  /** Zipf rank-frequency OLS slope over the top-100 tokens — exact
    * integer OLS sums on µ-nat quantized logs, one double division at
    * the edge ([[graft.operators.Lexicon.zipfSlope]]).
    */
  private def zipfSlopeQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lexicon
      .zipfSlope(Tables(s, dir, "documents"), "text", topR = 100)

  /** JL random projection 64 -> 8 dims, BIT-EXACT oracle-gated: the
    * md5-derived integer matrix and decimal-accumulated coordinates
    * replay in SQL, so every projected value hash-matches (the
    * `kmeans_train` determinism convention applied to dimensionality
    * reduction — the cheapener that runs before PQ/ANN at scale).
    */
  private def embedProject(s: SparkSession, dir: String): DataFrame =
    graft.operators.RandomProjection
      .project(Tables(s, dir, "embeddings"), "vec_id", "embedding", d = 64, k = 8)
      .orderBy(col("vec_id"))

  /** Aho-Corasick blocklist scan, bit-exact oracle-gated: one
    * automaton pass per document counts every overlapping occurrence
    * of every pattern (O(len), pattern-count-independent — the
    * blocklist-filtering shape a naive contains-OR cannot afford at
    * thousands of entries); the oracle recounts by position
    * enumeration, which defines the same overlapping-occurrence
    * semantics.
    */
  private def textBlocklist(s: SparkSession, dir: String): DataFrame = {
    val pats = Seq("fast table", "slow", "value table", "a row")
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.MultiPatternCount(lower(trim(col("text"))), pats).as("m"))
      .select(col("doc_id"),
        col("m.hits").cast("long").as("hits"),
        col("m.patterns_hit").cast("long").as("patterns_hit"),
        (col("m.hits") > 0L).as("blocked"))
      .orderBy(col("doc_id"))
  }

  /** Distinct-n diversity per language (Li et al. 2016): total vs
    * distinct bigram counts and their ratio — the template-spam /
    * mode-collapse signal. Fully SQL-replayable.
    */
  private def textDiversity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lexicon
      .diversityStats(Tables(s, dir, "documents"), "text", "lang", n = 2)
      .orderBy(col("lang"))

  /** Length-bucketed batching plan: power-of-two buckets by explicit
    * boundary comparison (no libm log2), per-bucket padding-waste
    * ledger. Fully SQL-replayable — every count and ratio.
    */
  private def lengthBucketsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing
      .lengthBuckets(Tables(s, dir, "documents"), size(TF.tokens(col("text"))))

  /** Cross-corpus overlap via HLL set algebra: the exact distinct
    * bigram counts of the even/odd document halves and their exact
    * intersection replay in SQL; the sketch-side inclusion-exclusion
    * estimate (three register reads, no join between the corpora)
    * gates via a 25% relative-error verdict — generous because
    * subtraction amplifies the per-sketch ~3% error, and exactly the
    * point: at 100 TB the exact intersection is a cross-corpus join
    * you cannot afford, the three sketches you already have.
    */
  private def corpusOverlap(s: SparkSession, dir: String): DataFrame = {
    val HLL = graft.functions.HyperLogLog
    // staged DISTINCT (half, gram) pairs: one explode scan feeds both
    // sketch aggregations AND the exact intersection (without it the
    // tokenize+explode runs four times — measured 80 CPU-s at the sf1
    // fixture, ~4x this form)
    val grams = Tables(s, dir, "documents")
      .select((col("doc_id") % 2 === 0).as("even"),
        explode(TF.ngramsFromTokens(TF.tokens(col("text")), 2)).as("g"))
      .distinct()
      .persist()
    val a = grams.filter(col("even")).select(col("g"))
    val b = grams.filter(!col("even")).select(col("g"))
    val skA = a.agg(HLL.sketch(col("g")).as("ska"), count(lit(1)).as("n_a"))
    val skB = b.agg(HLL.sketch(col("g")).as("skb"), count(lit(1)).as("n_b"))
    val exact = a
      .join(b, Seq("g"), "left_semi")
      .agg(count(lit(1)).as("exact_overlap"))
    skA.crossJoin(broadcast(skB)).crossJoin(broadcast(exact))
      .select(
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        col("exact_overlap").cast("long").as("exact_overlap"),
        (abs(HLL.intersectionEstimate(col("ska"), col("skb")) /
          col("exact_overlap").cast("double") - lit(1.0)) <= lit(0.25)).as("overlap_ok"))
  }

  /** Unicode NFC normalization, bit-exact oracle-gated: the corpus is
    * decorated with deterministic DECOMPOSED sequences (combining
    * accents), normalized by the native [[graft.functions
    * .NormalizeText]] expression, and compared to DuckDB's
    * `nfc_normalize` via byte lengths + md5 of the normalized text —
    * both engines implement Unicode canonical composition, so the
    * hashes must agree on every row. The pass that must run before
    * any hash-based dedup on multilingual corpora.
    */
  private def textNormalize(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        // DECOMPOSED decorations (combining accents), matching the
        // oracle's chr(769)/chr(776) construction byte for byte
        concat(col("text"), lit(" cafe\u0301 u\u0308ber no\u0308el")).as("t"))
      .select(col("doc_id"), col("t"),
        graft.functions.NormalizeText.nfc(col("t")).as("nt"))
      .select(
        col("doc_id"),
        octet_length(col("t")).cast("long").as("raw_bytes"),
        octet_length(col("nt")).cast("long").as("norm_bytes"),
        md5(col("nt").cast("binary")).as("norm_md5"))
      .orderBy(col("doc_id"))

  /** Sorted-neighborhood near-dup pairs over the planted-near-dup
    * fixture, BIT-EXACT oracle-gated: key construction, the bucketed
    * sliding window (no global single-partition sort), and the exact
    * integer-rational Jaccard gate all replay in SQL — the sort-based
    * member of the dedup-blocking taxonomy (hash = exact dedup,
    * bands = MinHash-LSH, clusters = SemDeDup, sort = this).
    */
  private def dedupSortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    graft.operators.SortedNeighborhood
      .nearDupPairs(docsWithNearDups(s, dir), "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))

  /** Persisted-sketch absorb for the whole sketch family: the
    * even-doc half of the corpus is sketched (HLL registers, bloom
    * words, count-min counters, length histogram), SAVED to parquet,
    * LOADED, and absorbed with a fresh sketch of the odd-doc half
    * using each aggregate's own merge IN-PLAN (max / OR / add). The
    * verdicts assert element-for-element equality with the
    * whole-corpus sketches — exact, not approximate, because these
    * merges ARE the aggregates' partial-combine folds; what the gate
    * proves end-to-end is that the parquet round trip preserves every
    * element and the column-level merge matches the internal one. The
    * exact metrics are SQL-replayable; O(increment) absorb is the
    * same store contract as the dedup/BM25/IVF stores.
    */
  private def sketchAbsorb(s: SparkSession, dir: String): DataFrame = {
    val HLL = graft.functions.HyperLogLog
    val BF = graft.functions.BloomFilter
    val CM = graft.functions.CountMinSketch
    val H = graft.functions.HistogramSketch
    val docs = Tables(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("n_chars"), explode(TF.tokens(col("text"))).as("term"))
    val base = toks.filter(col("doc_id") % 2 === 0)
    val inc = toks.filter(col("doc_id") % 2 =!= 0)
    val (nb, lo, hi) = (256, 0.0, 1024.0)
    def sketches(df: DataFrame, suffix: String) = df.agg(
      HLL.sketch(col("term")).as("hll" + suffix),
      BF.sketch(col("term")).as("bloom" + suffix),
      CM.sketch(col("term")).as("cms" + suffix),
      H.sketch(col("n_chars"), nb, lo, hi).as("hist" + suffix))
    val path = scratchDir("graft-sketch-store")
    graft.operators.SketchStore.save(sketches(base, ""), path)
    val loaded = graft.operators.SketchStore.load(s, path)
    val allSk = toks.agg(
      HLL.sketch(col("term")).as("hll_a"),
      BF.sketch(col("term")).as("bloom_a"),
      CM.sketch(col("term")).as("cms_a"),
      H.sketch(col("n_chars"), nb, lo, hi).as("hist_a"),
      countDistinct(col("term")).as("n_distinct"),
      count(lit(1)).as("n_tokens"))
    def eq(a: Column, b: Column): Column =
      forall(zip_with(a, b, (x, y) => x === y), x => x)
    loaded
      .crossJoin(broadcast(sketches(inc, "_i")))
      .crossJoin(broadcast(allSk))
      .select(explode(array(
        struct(lit("bloom").as("kind"), col("n_distinct").cast("long").as("exact_metric"),
          eq(BF.union(col("bloom"), col("bloom_i")), col("bloom_a")).as("absorb_ok")),
        struct(lit("cms").as("kind"), col("n_tokens").cast("long").as("exact_metric"),
          eq(CM.merge(col("cms"), col("cms_i")), col("cms_a")).as("absorb_ok")),
        struct(lit("hist").as("kind"), col("n_tokens").cast("long").as("exact_metric"),
          eq(H.merge(col("hist"), col("hist_i")), col("hist_a")).as("absorb_ok")),
        struct(lit("hll").as("kind"), col("n_distinct").cast("long").as("exact_metric"),
          eq(HLL.union(col("hll"), col("hll_i")), col("hll_a")).as("absorb_ok"))))
        .as("r"))
      .select(col("r.kind").as("kind"), col("r.exact_metric").as("exact_metric"),
        col("r.absorb_ok").as("absorb_ok"))
      .orderBy(col("kind"))
  }

  /** Histogram-sketch quantiles of document length: exact interpolated
    * percentiles (SQL-replayable — the q28 convention) plus in-plan
    * verdicts that the 256-bucket fixed-range sketch reads each
    * quantile within two bucket widths (true error is <= half a
    * width; the slack covers interpolation straddling a boundary).
    * The deterministic quantile summary for metrics with a known
    * range — see [[graft.functions.HistogramSketchAgg]] for why not
    * KLL/t-digest at this engine's determinism bar.
    */
  private def histQuantiles(s: SparkSession, dir: String): DataFrame = {
    val H = graft.functions.HistogramSketch
    val (nb, lo, hi) = (256, 0.0, 1024.0)
    val width = (hi - lo) / nb
    Tables(s, dir, "documents")
      .agg(
        H.sketch(col("n_chars"), nb, lo, hi).as("sk"),
        expr("percentile(n_chars, 0.25)").as("e25"),
        expr("percentile(n_chars, 0.5)").as("e50"),
        expr("percentile(n_chars, 0.75)").as("e75"),
        expr("percentile(n_chars, 0.95)").as("e95"))
      .select(
        round(col("e25"), 2).as("p25"),
        round(col("e50"), 2).as("p50"),
        round(col("e75"), 2).as("p75"),
        round(col("e95"), 2).as("p95"),
        (abs(H.quantile(col("sk"), 0.25, nb, lo, hi) - col("e25")) <= 2 * width).as("ok25"),
        (abs(H.quantile(col("sk"), 0.50, nb, lo, hi) - col("e50")) <= 2 * width).as("ok50"),
        (abs(H.quantile(col("sk"), 0.75, nb, lo, hi) - col("e75")) <= 2 * width).as("ok75"),
        (abs(H.quantile(col("sk"), 0.95, nb, lo, hi) - col("e95")) <= 2 * width).as("ok95"))
  }

  /** Bloom-filter decontamination over the same eval fixture as
    * `decontaminate`, gated on exact columns plus two in-plan sketch
    * verdicts: `bloom_no_fn` (per doc: the bloom caught at least the
    * exact hits — false negatives are structurally impossible and the
    * gate proves it end-to-end) and `fp_ok` (global: false-positive
    * gram rate <= 1%). The filter is SIZED TO THE EVAL CORPUS
    * ([[Decontamination.sizedNumBits]], 32 bits per distinct eval
    * gram): with a fixed width the fp bound is an SF coin toss (fill
    * grows with the corpus until the verdict flips — ~0.7 fp at a
    * 1.8M-gram eval set on 2^22 bits); with per-gram sizing fill
    * <= 0.20 and fp <= ~1e-5 at every scale, so the 1% bound is a
    * sizing theorem with ~1000x slack that still fails a degenerate
    * all-ones filter.
    */
  private def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val evalSet = docs.filter(col("doc_id") % 50 === 7).select(col("text"))
    val flagged = Decontamination
      .flagContaminatedBloom(docs, evalSet, "doc_id", "text", n = 4,
        numBits = Decontamination.sizedNumBits(evalSet, "text", n = 4))
    val fp = flagged.agg(
      ((sum(col("bloom_hits") - col("eval_hits")).cast("double") /
        greatest(sum(col("n_grams") - col("eval_hits")).cast("double"), lit(1.0)))
        <= lit(0.01)).as("fp_ok"))
    flagged.crossJoin(broadcast(fp))
      .select(
        col("id").as("doc_id"), col("n_grams"), col("eval_hits"), col("contaminated"),
        (col("bloom_hits") >= col("eval_hits")).as("bloom_no_fn"),
        col("fp_ok"))
      .orderBy(col("doc_id"))
  }

  /** Hashed-feature linear quality score per document, oracle-gated via
    * the portable md5 hash scheme: bucket, LCG weight, exact integer
    * feature sum, mean-weight score, and the integer-compare keep gate
    * are all replayed in SQL. The xxhash64 production scheme is spec'd
    * in QualityClassifierSpec.
    */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame =
    SessionScopedCache.getOrElseUpdate(s, "classifier:" + dir) {
      graft.util.Staged.settle(QualityClassifier
        .score(Tables(s, dir, "documents"), "doc_id", "text", QualityClassifier.PortableMd5Scheme))
    }

  private def textQualityClassifier(s: SparkSession, dir: String): DataFrame =
    scoredDocs(s, dir)
      .select(col("id").as("doc_id"), col("n_tokens"), col("feat_sum"), col("score"), col("keep"))
      .orderBy(col("doc_id"))

  /** TRAINED-weight classifier serving, oracle-gated end-to-end via the
    * portable scheme: the weight table is tabulated from the closed
    * form w(b) = (b - 2048) / 2048 (exact dyadic rationals, so the
    * double sums are exact in ANY order on both engines) and served
    * through [[QualityClassifier.scoreWithWeights]]'s real
    * `element_at`-against-the-table path — the oracle recomputes the
    * same weights from the closed form without ever seeing the array.
    */
  private def textQualityTrained(s: SparkSession, dir: String): DataFrame = {
    val weights =
      Array.tabulate(graft.operators.QualityClassifier.NumBuckets)(b => (b - 2048) / 2048.0)
    graft.operators.QualityClassifier
      .scoreWithWeights(Tables(s, dir, "documents"), "doc_id", "text",
        weights.toSeq, graft.operators.QualityClassifier.PortableMd5Scheme)
      .select(
        col("id").as("doc_id"),
        col("n_tokens"),
        (col("w_sum") + 0.0).as("w_sum"),
        col("score"),
        col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Budget-capped corpus selection composed on the quality classifier:
    * keep the best-scoring documents until the running token total
    * exceeds the budget. Oracle-gated: the SQL replays the classifier
    * then one window running sum over (score desc, doc_id) — exactly
    * the total order the two-layer Spark plan reproduces without a
    * single-partition window.
    */
  private def tokenBudgetSelect(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .tokenBudgetSelect(scoredDocs(s, dir), "id", "score", "n_tokens", budget = 5000L)
      .select(col("id").as("doc_id"), col("score"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))

  /** Incremental exact dedup against a fingerprint store. Store = docs
    * with doc_id < 400. Increment: exact copies of every doc_id % 25 ==
    * 3 doc (store dups where the base id < 400, fresh content
    * otherwise), genuinely new docs, and a second in-increment copy of
    * every doc_id % 100 == 3 doc (whole fingerprint group must drop
    * when the store already has it). Oracle-gated end to end.
    */
  private def dedupIncrementalExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val store = docs.filter(col("doc_id") < 400)
      .select(TF.fingerprint(col("text")).as("fp"))
    val incoming = docs.filter(col("doc_id") % 25 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 40 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" fresh tail")).as("text")))
      .unionAll(docs.filter(col("doc_id") % 100 === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
    TextDedup.exactSurvivorsAgainstStore(incoming, store, "doc_id", "text")
      .select(col("id").as("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** Incremental near-dup dedup against a MinHash signature store
    * (portable-md5 scheme, so signatures, bands, the store-side bucket
    * guard, and the Jaccard estimate replay in SQL). Store = the whole
    * corpus; increment = near-duplicate tails of every 50th doc, which
    * must match their base doc.
    */
  private def dedupIncrementalMinhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // the store is per-corpus state, built once per (session, dir) and
    // probed by every increment — the operator's deployment shape
    val store = SessionScopedCache.getOrElseUpdate(s, "minhash-store:" + dir)(
      TextDedup.buildMinhashStore(docs, "doc_id", "text",
        scheme = TextDedup.PortableMd5Scheme))
    val incoming = docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate tail")).as("text"))
    TextDedup
      .minhashAgainstStore(incoming, store, "doc_id", "text",
        scheme = TextDedup.PortableMd5Scheme)
      .select(col("id").as("doc_id"), col("store_id"), col("est_jaccard"))
      .orderBy(col("doc_id"), col("store_id"))
  }

  /** [[dedupIncrementalMinhash]] through a DISK round-trip of the
    * store: build once, save to parquet (band-hash-prefix partitioned,
    * the IvfAnn.save shape), LOAD, probe the loaded store — the
    * restarted-pipeline deployment path. Oracle-gated with the live
    * twin's SQL verbatim: persistence must be invisible to results.
    * The probe of the loaded store prunes the band read to the
    * increment's hash prefixes at the directory level
    * (StorePersistenceSpec asserts the PartitionFilters).
    */
  private def dedupIncrementalMinhashPersisted(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val store = SessionScopedCache.getOrElseUpdate(s, "minhash-store:" + dir + "#minhash-persisted") {
      val live = TextDedup.buildMinhashStore(docs, "doc_id", "text",
        scheme = TextDedup.PortableMd5Scheme)
      val path = scratchDir("graft-minhash-store")
      TextDedup.saveMinhashStore(live, path, prefixBuckets = 32)
      live.unpersist()
      TextDedup.loadMinhashStore(s, path)
    }
    val incoming = docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate tail")).as("text"))
    TextDedup
      .minhashAgainstStore(incoming, store, "doc_id", "text",
        scheme = TextDedup.PortableMd5Scheme)
      .select(col("id").as("doc_id"), col("store_id"), col("est_jaccard"))
      .orderBy(col("doc_id"), col("store_id"))
  }

  /** Corpus snapshot diff: old = doc_id < 400, new = doc_id >= 100 with
    * every doc_id % 40 == 0 rewritten — yields all four statuses.
    * Oracle-gated (a FULL OUTER JOIN over fingerprint projections).
    */
  private def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") < 400)
    val newSnap = docs.filter(col("doc_id") >= 100)
      .select(col("doc_id"),
        when(col("doc_id") % 40 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
      .select(col("id").as("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test assignment (90/5/5) in the
    * engine-portable md5 form, summarized per source. Oracle-gated: the
    * bucket, range bounds, and counts replay verbatim in SQL.
    */
  private def splitAssign(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long") % 100L
    graft.operators.Sampling
      .hashSplitBy(docs, bucket, Seq(("train", 90), ("val", 5), ("test", 5)))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("split"))
  }

  /** Leakage-guarded split over a corpus with planted duplicate
    * CHAINS (doc d -> copies d+2M and d+4M, paired d~d+2M and
    * d+2M~d+4M so co-splitting requires real transitive closure, not
    * pair lookup): [[graft.operators.Sampling.clusterAwareSplit]]
    * assigns every cluster member by its component representative, so
    * near-duplicates can never straddle train/test. Oracle-gated with
    * the md5 bucket `split_assign` gates, plus an in-plan `leak_free`
    * verdict (every pair co-split) the oracle asserts true.
    */
  private def clusterAwareSplitQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val seeds = docs.filter(col("doc_id") % 50 === 0)
    val all = docs
      .unionByName(seeds.select((col("doc_id") + 2000000L).as("doc_id")))
      .unionByName(seeds.select((col("doc_id") + 4000000L).as("doc_id")))
    val pairs = seeds
      .select(col("doc_id").as("id_a"), (col("doc_id") + 2000000L).as("id_b"))
      .unionByName(seeds.select((col("doc_id") + 2000000L).as("id_a"),
        (col("doc_id") + 4000000L).as("id_b")))
    val bucketOf: Column => Column = r =>
      conv(substring(md5(r.cast("string")), 1, 15), 16, 10).cast("long") % 100L
    val assigned = graft.operators.Sampling
      .clusterAwareSplit(all, "doc_id", pairs, "id_a", "id_b",
        Seq(("train", 90), ("val", 5), ("test", 5)), bucketOf)
      .persist()
    val verdict = pairs
      .join(assigned.withColumnsRenamed(Map("doc_id" -> "id_a", "split" -> "__sa")),
        Seq("id_a"))
      .join(assigned.withColumnsRenamed(Map("doc_id" -> "id_b", "split" -> "__sb")),
        Seq("id_b"))
      .agg(bool_and(col("__sa") === col("__sb")).as("leak_free"))
    assigned.groupBy(col("split")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(verdict))
      .orderBy(col("split"))
  }

  /** Per-language corpus report: doc/token counts plus exact token
    * percentiles — the summary table every ingest round publishes.
    * Oracle-gated: Spark `percentile` and DuckDB `quantile_cont` share
    * the linear-interpolation definition, and the only division is a
    * single deterministic IEEE op per cell.
    */
  private def corpusStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("lang"), TF.tokenCount(col("text")).as("toks"), col("n_chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        round(percentile(col("toks"), lit(0.5)), 4).as("med_tokens"),
        round(percentile(col("toks"), lit(0.95)), 4).as("p95_tokens"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"))
      .orderBy(col("lang"))

  /** Distributed suffix array over the first 25 tokens of the doc_id <
    * 40 slice ([[graft.operators.SuffixArray.build]] — prefix
    * doubling, log-round sort-based ordinal ranking, no suffix string
    * ever materialized). Oracle-gated the strong way: DuckDB simply
    * SORTS THE ACTUAL SUFFIX LISTS (`ORDER BY ws[pos:], doc_id, pos`)
    * — trivially correct by definition — and the doubling construction
    * must reproduce every rank bit-for-bit.
    */
  private def suffixArrayRanks(s: SparkSession, dir: String): DataFrame = {
    // built per call, never served from a "suffix:" entry: here the
    // build itself is the measured operator
    val ix = graft.operators.SuffixArray.build(
      Tables(s, dir, "documents").filter(col("doc_id") < 40),
      "doc_id", "text", maxTokens = 25)
    val out = ix.sa.orderBy(col("doc_id"), col("pos"))
    out.persist().count()
    ix.unpersist()
    out
  }

  /** Repeated-passage discovery via suffix-array adjacent LCP
    * ([[graft.operators.SuffixArray.adjacentLcp]] — binary descent
    * over the retained doubling tables): every >= 5-token passage
    * occurring twice in the boilerplate-seeded doc_id < 200 slice
    * surfaces as an adjacent pair, with NO shingle size fixed in
    * advance — the substring-level dedup primitive (Lee et al. 2022)
    * the k-gram span remover approximates. Oracle: rank the real
    * suffix lists, pair consecutive ranks, count the agreeing
    * prefixes (monotone, so a filter-count is the LCP), filter >= 5.
    */
  private def suffixRepeats(s: SparkSession, dir: String): DataFrame = {
    val boiler = "subscribe to our newsletter for updates terms of service apply"
    val seeded = Tables(s, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1, concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")).as("text"))
    val ix = SessionScopedCache.getOrElseUpdate(s, "suffix:" + dir + "#repeats")(
      graft.operators.SuffixArray.build(seeded, "doc_id", "text", maxTokens = 30))
    val out = graft.operators.SuffixArray.repeatedSpans(ix, minLen = 5)
      .orderBy(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"))
    out.persist().count()
    out
  }

  /** Suffix-array-DRIVEN corpus rewrite ([[graft.operators.SuffixArray
    * .removeRepeatedSpans]]) — the consuming half of the Lee et al.
    * capability `suffix_repeats` only finds: over the boilerplate-
    * seeded 120-doc corpus (uncapped index — the rewrite must keep
    * every tail token), every duplicated 8-token window keeps exactly
    * its minimal-(doc_id, pos) canonical occurrence and loses the
    * rest. The suffix path groups occurrences through adjacent-LCP
    * runs + connected components; the oracle replays the same
    * semantics directly in gram space (same-8-prefix suffix runs ARE
    * the 8-gram occurrence groups), making the gate an exact
    * cross-representation hash match.
    */
  private def suffixDedupSpans(s: SparkSession, dir: String): DataFrame = {
    val boiler = "subscribe to our newsletter for updates terms of service apply"
    val seeded = Tables(s, dir, "documents")
      .filter(col("doc_id") < 120)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1, concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")).as("text"))
    val ix = SessionScopedCache.getOrElseUpdate(s, "suffix:" + dir + "#dedup-spans")(
      graft.operators.SuffixArray.build(seeded, "doc_id", "text"))
    val out = graft.operators.SuffixArray
      .removeRepeatedSpans(ix, minLen = 8, keepCanonical = true)
      .select(col("id").as("doc_id"), col("n_tokens"),
        col("removed_tokens"), col("clean_text"))
      .orderBy(col("doc_id"))
    out.persist().count()
    out
  }

  /** Span-level exact-substring dedup over documents seeded with a
    * 10-token boilerplate prefix on every doc_id % 10 == 1 doc: the
    * boilerplate's 8-token windows duplicate across those docs, so
    * exactly the planted prefix is removed from each while the unique
    * remainder (and every unseeded doc) survives. Oracle-gated: window
    * starts, the corpus-wide gram count, position covers, and the
    * reassembled clean text all replay in SQL.
    */
  private def dedupSpans(s: SparkSession, dir: String): DataFrame = {
    val boiler = "subscribe to our newsletter for updates terms of service apply"
    val seeded = Tables(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 10 === 1, concat(lit(boiler + " "), col("text")))
        .otherwise(col("text")).as("text"))
    // string gram keys: the SQL-replayable scheme (the xxhash64 default
    // is the 100 TB path; IncrementalDedupSpec proves span-identity)
    TextDedup.removeDupSpans(seeded, "doc_id", "text", k = 8, hashedGramKeys = false)
      .select(col("id").as("doc_id"), col("n_tokens"), col("removed_tokens"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL span dedup: the boilerplate-seeded corpus except the
    * doc_id % 50 == 7 slice is the ingested store (gram counts,
    * session-cached); that 2% slice is the increment probed against it
    * — small relative to the store at EVERY scale factor, which is the
    * operator's contract (the increment's distinct gram keys are
    * broadcast). Oracle-gated by the equivalence the operator
    * guarantees: the SQL replays the full union computation (the
    * `dedup_spans` pipeline over ALL seeded docs) restricted to the
    * increment's ids — which is exactly what the store probe computes
    * without re-exploding the corpus side.
    */
  private def dedupIncrementalSpans(s: SparkSession, dir: String): DataFrame = {
    val boiler = "subscribe to our newsletter for updates terms of service apply"
    val seeded = Tables(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 10 === 1, concat(lit(boiler + " "), col("text")))
        .otherwise(col("text")).as("text"))
    val store = SessionScopedCache.getOrElseUpdate(s, "span-store:" + dir + "#spans")(
      TextDedup.buildSpanStore(seeded.filter(col("doc_id") % 50 =!= 7), "doc_id", "text",
        k = 8, hashedGramKeys = false))
    TextDedup
      .removeDupSpansAgainstStore(seeded.filter(col("doc_id") % 50 === 7), store,
        "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("removed_tokens"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** [[dedupIncrementalSpans]] through a DISK round-trip of the span
    * store: the corpus gram counts are saved gram-key-prefix
    * partitioned, loaded, and the increment probed against the LOADED
    * store — the probe reads only the increment's gram prefixes from
    * disk. Oracle-gated with the live twin's SQL verbatim.
    */
  private def dedupIncrementalSpansPersisted(s: SparkSession, dir: String): DataFrame = {
    val boiler = "subscribe to our newsletter for updates terms of service apply"
    val seeded = Tables(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 10 === 1, concat(lit(boiler + " "), col("text")))
        .otherwise(col("text")).as("text"))
    val store = SessionScopedCache.getOrElseUpdate(s, "span-store:" + dir + "#spans-persisted") {
      val live = TextDedup.buildSpanStore(seeded.filter(col("doc_id") % 50 =!= 7),
        "doc_id", "text", k = 8, hashedGramKeys = false)
      val path = scratchDir("graft-span-store")
      TextDedup.saveSpanStore(live, path, prefixBuckets = 32)
      live.unpersist()
      TextDedup.loadSpanStore(s, path)
    }
    TextDedup
      .removeDupSpansAgainstStore(seeded.filter(col("doc_id") % 50 === 7), store,
        "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("removed_tokens"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM perplexity scoring (the CCNet-class quality signal):
    * the model trains on the doc_id % 50 != 7 reference slice, the
    * held-out 2% slice is scored against it — same train/probe split
    * as the incremental-dedup family. Oracle-gated end-to-end: counts,
    * vocabulary, the add-one probability, and the FLOOR-quantized
    * 1e-6-scaled log-prob (a LONG, so the per-doc sum is exact in any
    * order on both engines) all replay in SQL; the only float steps are
    * `ln`/`exp` of identical IEEE rationals plus round(4).
    */
  private def textPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val model = SessionScopedCache.getOrElseUpdate(s, "ngram-lm:" + dir)(
      graft.operators.NgramLm.train(docs.filter(col("doc_id") % 50 =!= 7), "doc_id", "text"))
    graft.operators.NgramLm
      .perplexity(docs.filter(col("doc_id") % 50 === 7), model, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"), col("avg_logp"), col("perplexity"))
      .orderBy(col("doc_id"))
  }

  /** The stateless-projection twin of [[textPerplexity]]
    * ([[graft.operators.NgramLm.perplexityInline]] — model rides the
    * task closure via the codegen'd BigramLmScore expression; the form
    * that gates an unaggregated document STREAM). Same oracle as the
    * join form: the two are bit-identical by construction and by
    * differential spec.
    */
  private def textPerplexityInline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val model = SessionScopedCache.getOrElseUpdate(s, "ngram-lm:" + dir)(
      graft.operators.NgramLm.train(docs.filter(col("doc_id") % 50 =!= 7), "doc_id", "text"))
    val collected = graft.operators.NgramLm.collectModel(model)
    graft.operators.NgramLm
      .perplexityInline(docs.filter(col("doc_id") % 50 === 7), collected, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"), col("avg_logp"), col("perplexity"))
      .orderBy(col("doc_id"))
  }

  /** Token-distribution drift between the even- and odd-doc_id halves
    * of the corpus (the between-epochs monitoring op). Oracle-gated:
    * counts and the union vocab are exact, the smoothed probabilities
    * are IEEE rationals of them, and each token's KL contribution is
    * FLOOR-quantized to a 1e-12-scaled LONG — mover selection (by
    * absolute contribution, token tie-break) and the reported round(6)
    * values replay in SQL.
    */
  private def corpusDriftMovers(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    graft.operators.CorpusDrift.topMovers(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "text", k = 20)
  }

  /** Scalar KL drift (both directions) for the same split — the exact
    * quantized sums make the one-row report engine-portable.
    */
  private def corpusDriftKl(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    graft.operators.CorpusDrift.summary(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "text")
  }

  /** BM25 top-20 retrieval over the documents corpus (the lookup side
    * of decontamination audits / corpus inspection). Oracle-gated
    * end-to-end: tf/df/dl/N are exact counts, idf and the length
    * normalization are IEEE arithmetic over them with identical
    * literal constants on both engines, and each (doc, term)
    * contribution is FLOOR-quantized to a 1e-6-scaled LONG before the
    * per-doc sum — ranking, tie-breaks (by the exact sum then
    * doc_id), and the round(4) score all replay in SQL.
    */
  private def bm25Search(s: SparkSession, dir: String): DataFrame = {
    val idx = SessionScopedCache.getOrElseUpdate(s, "bm25:" + dir)(
      graft.operators.Bm25.build(Tables(s, dir, "documents"), "doc_id", "text"))
    graft.operators.Bm25.search(idx, Seq("vector", "merge", "stream"), k = 20)
      .select(col("id").as("doc_id"), col("n_terms"), col("score"))
  }

  /** Per-domain document cap (the RefinedWeb-style quota) over
    * synthetic URLs seeded from the source column — one domain per
    * source (25+ docs each at every SF), so the cap of 10 genuinely
    * cuts. Oracle-gated end-to-end: URL synthesis, the RE2-portable
    * host regex, and the deterministic md5 rank within each domain all
    * replay in SQL.
    */
  private def domainCap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val url = concat(
      lit("https://"), col("source"), lit(".example.com/docs/"),
      col("doc_id").cast("string"))
    graft.operators.DomainOps
      .capPerDomain(
        docs.select(col("doc_id"), url.as("url")),
        graft.operators.DomainOps.extractDomain(col("url")), "doc_id", cap = 10)
      .select(col("domain"), col("doc_id"), col("rk").cast("long").as("rk"))
      .orderBy(col("domain"), col("rk"))
  }

  /** PII scrubbing over documents seeded with deterministic synthetic
    * contact strings (the corpus itself is PII-free), so the redaction
    * regexes are exercised on known material on both engines.
    */
  private def textScrubPii(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 20)
      .select(
        col("doc_id"),
        TF.scrubPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@mail.example or call +1-555-0100 today"))).as("scrubbed"))
      .orderBy(col("doc_id"))

  /** SimHash near-duplicate pairs (rows-only). */
  /** SimHash near-duplicate pairs, oracle-gated end-to-end with
    * [[TextDedup.PortableMd5Simhash]]: the 60-bit md5-derived token
    * hashes, majority-bit signature, pigeonhole bit-bands, bucket-size
    * guard, and exact Hamming verify are all replayed verbatim by the
    * DuckDB oracle SQL.
    */
  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    TextDedup
      .simhashCandidatePairs(docsWithNearDups(s, dir), "doc_id", "text", maxHamming = 4,
        scheme = TextDedup.PortableMd5Simhash)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))

  /** Language-id heuristic vs the labeled lang column (oracle-gated:
    * greatest-of-struct argmax is expressible as a reverse-alphabetical
    * CASE over the per-profile scores).
    */
  private def textLangid(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("lang"), TF.langId(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  /** Embeddings plus 24 planted near-copies of the query vector
    * (vec_id 1000001..1000024, component shift `i * 0.0005f`) — the
    * needle regime ANN exists for. The raw corpus's top-20 sits at
    * cos ~0.24-0.29 (64-dim near-orthogonal noise), where NO
    * signature scheme concentrates — measured recall there is 0.5-0.85
    * and says nothing about the operator. Planted neighbors at
    * cos > 0.99 make recall deterministic and meaningful (same
    * argument as [[dedupEmbedding]]). Float-exact cross-engine: the
    * shift is float(i) * float(0.0005) added in single precision, which
    * DuckDB replays bit-for-bit via list_transform.
    */
  private def embWithPlantedNeighbors(emb: DataFrame): DataFrame = {
    val copies = emb
      .filter(col("vec_id") === 0)
      .select(explode(sequence(lit(1L), lit(24L))).as("i"), col("embedding"))
      .select(
        (col("i") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), x => x + col("i").cast("float") * lit(0.0005f))
          .as("embedding"))
    emb.select(col("vec_id"), col("embedding")).unionByName(copies)
  }

  /** Exact decimal-cosine top-20 around vec_id=0 — the SQL-replayable
    * half of the ANN gates (same formulation as [[annIvfFullprobe]]'s
    * oracle: round-3 decimal cosine, ties at the k-boundary break by
    * vec_id).
    */
  private def exactTop20(
      s: SparkSession,
      dir: String,
      corpus: DataFrame,
      query: DataFrame): DataFrame =
    SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#planted-top20") {
      val q = query.select(col("embedding").as("__qv"))
      graft.util.Staged.settle(corpus
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          (round(VF.cosineDecimal(col("embedding"), col("__qv")), 3) + lit(0.0)).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(20))
    }

  /** Exact top-20 rows plus an in-plan recall verdict on an approximate
    * top-k (the `q34_approx_distinct` tolerance-verdict pattern): the
    * oracle replays the exact rows and asserts `recall_ok = true`, so
    * the approximate path is gated on recall@20 >= 0.9 without its
    * engine-specific ranking ever reaching the cross-engine hash.
    */
  private def exactTopWithRecallVerdict(exact: DataFrame, approx: DataFrame): DataFrame = {
    val verdict = exact
      .join(approx.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .agg((count(lit(1)) >= lit(18)).as("recall_ok"))
    exact
      .crossJoin(broadcast(verdict))
      .select(col("vec_id"), col("cos"), col("recall_ok"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  /** LSH-pruned ANN top-20 around vec_id=0 over the planted-neighbor
    * corpus, oracle-gated via the in-plan recall verdict: the
    * hyperplane prune (32 bits, Hamming <= 12) runs for real and must
    * recover >= 18 of the exact top-20; the emitted rows are the exact
    * decimal-cosine top-20 the DuckDB oracle recomputes over the same
    * (SQL-reconstructed) corpus. Recall is deterministic (seeded
    * hyperplanes, planted cos > 0.99 neighbors), not statistical.
    */
  private def annLshTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val corpus = embWithPlantedNeighbors(emb)
    val query = emb.filter(col("vec_id") === 0)
    val approx = SimilaritySearch
      .lshTopK(corpus, query, "vec_id", "embedding",
        k = 20, bits = 32, maxHamming = 12)
    exactTopWithRecallVerdict(exactTop20(s, dir, corpus, query), approx)
  }

  /** Binary sign-bit ANN top-20 around vec_id=0 over the planted
    * corpus, BIT-EXACT oracle-gated end to end (unlike the LSH/IVF
    * recall gates): sign-bit packing, the Hamming-64 candidate pool
    * (ties by vec_id), and the decimal-cosine rerank are all
    * deterministic and ANSI-replayable — the oracle computes Hamming
    * as the count of differing strict-positive signs (provably equal
    * to popcount-of-XOR over the packed words, see BinaryAnnSpec) and
    * replays pool -> rerank row for row. The recall verdict vs the
    * exact top-20 is ALSO recomputed by the oracle, not asserted as a
    * literal.
    */
  private def annHammingTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val corpus = embWithPlantedNeighbors(emb)
    val query = emb.filter(col("vec_id") === 0)
    // persisted via the top-k cache: the 20-row result feeds BOTH the
    // verdict semi-join and the output — without it the Hamming pool
    // scan (the whole corpus) runs twice
    val top = SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#hamming-top20") {
      graft.util.Staged.settle(BinaryAnn.topK(corpus, query, "vec_id", "embedding",
        k = 20, poolSize = 64,
        cosineFn = (a, b) => round(VF.cosineDecimal(a, b), 3) + lit(0.0)))
    }
    val verdict = exactTop20(s, dir, corpus, query)
      .join(top.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .agg((count(lit(1)) >= lit(18)).as("recall_ok"))
    top.crossJoin(broadcast(verdict))
      .select(col("vec_id"), col("ham"), col("cos"), col("recall_ok"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  /** IVF-Flat ANN top-20 around vec_id=0 over the planted-neighbor
    * corpus (nprobe=4 of nlist=16 — a 4x scan reduction), oracle-gated
    * via the in-plan recall verdict (k-means training itself is not
    * ANSI-SQL-expressible; the recall of its probe against the exact
    * top-20 is). The planted copies reach the index through
    * [[IvfAnn.append]] — the assign-only incremental-ingest path — on
    * top of the SAME trained index [[annIvfFullprobe]] uses, so the
    * quantizer trains once per (session, dir) and the gate also
    * exercises real index ingest. IvfAnnSpec additionally proves
    * full-probe equals the exact brute-force top-k.
    */
  private def annIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val corpus = embWithPlantedNeighbors(emb)
    val query = emb.filter(col("vec_id") === 0)
    val index = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir + "#planted") {
      val base = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir)(
        IvfAnn.build(emb, "vec_id", "embedding", nlist = 16, iters = 3))
      IvfAnn.append(base, corpus.filter(col("vec_id") >= 1000000L))
    }
    val approx = IvfAnn.topK(index, query, k = 20, nprobe = 4)
    exactTopWithRecallVerdict(exactTop20(s, dir, corpus, query), approx)
  }

  /** Two-stage retrieval — the 100 TB serving shape the single-stage
    * gates don't compose: an int8-QUANTIZED integer-dot prefilter
    * scans the corpus (4x less memory traffic than float32, exact
    * integer arithmetic — [[graft.functions.VectorFunctions
    * .cosineQuantized]]) and keeps a 64-candidate pool; the exact
    * decimal-cosine rerank touches ONLY the pool. Oracle-gated via the
    * in-plan recall verdict vs the exact top-20 (the `ann_lsh_topk`
    * pattern): quantization error must not cost more than 2 of the
    * top 20. Both stages are deterministic, so the recall is a fixed
    * number for a fixed corpus.
    */
  private def annQuantizedRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val corpus = embWithPlantedNeighbors(emb)
    val query = emb.filter(col("vec_id") === 0)
    val qv = query.select(col("embedding").as("__qv"))
    val pool = corpus.crossJoin(broadcast(qv))
      .select(col("vec_id"), col("embedding"),
        VF.cosineQuantized(
          VF.quantizeInt8(col("embedding"), VF.quantizeScale(col("embedding"))),
          VF.quantizeInt8(col("__qv"), VF.quantizeScale(col("__qv")))).as("__cq"))
      .orderBy(col("__cq").desc, col("vec_id"))
      .limit(64)
    val approx = pool.crossJoin(broadcast(qv))
      .select(col("vec_id"),
        (round(VF.cosineDecimal(col("embedding"), col("__qv")), 3) + lit(0.0)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(20)
    exactTopWithRecallVerdict(exactTop20(s, dir, corpus, query), approx)
  }

  /** IVF with EVERY list probed, oracle-gated against DuckDB's exact
    * decimal-cosine top-20: full probe must degenerate to the exact
    * scan, which proves end-to-end that training+assignment partition
    * the corpus losslessly (no vector dropped from or duplicated
    * across inverted lists). Decimal-accumulated cosine rounded at the
    * ordering boundary so both engines rank identically; ties at the
    * k-boundary break by vec_id on both sides.
    */
  private def annIvfFullprobe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val index = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir)(
      IvfAnn.build(emb, "vec_id", "embedding", nlist = 16, iters = 3))
    IvfAnn.topK(index, emb.filter(col("vec_id") === 0), k = 20, nprobe = 16,
        cosineFn = (a, b) => round(VF.cosineDecimal(a, b), 3) + lit(0.0))
      .select(col("vec_id"), col("cos"))
  }

  /** PQ codebook training + corpus encoding, BIT-EXACT oracle-gated:
    * m=4 subspaces of 16 dims, ksub=16 codes, 2 fused Lloyd
    * iterations on the integer µ-grid
    * ([[graft.operators.ProductQuantizer]]) — md5 seeds, exact
    * integer argmin (ties to lower code), floor-mean updates. The
    * oracle unrolls all four subspace trainings as CTEs
    * ([[pqSubspaceSql]]) and hash-matches every code and the exact
    * integer reconstruction distance.
    */
  private def pqEncode(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val cb = SessionScopedCache.getOrElseUpdate(s, "pq:" + dir)(
      PQ.train(emb, "vec_id", "embedding", m = 4, ksub = 16, iters = 2))
    PQ.encode(emb, "vec_id", "embedding", cb, keep = Seq("embedding"))
      .withColumn("recon_dist", PQ.reconDist(col("embedding"), cb))
      .select(
        col("vec_id"),
        element_at(col("codes"), 1).as("code0"),
        element_at(col("codes"), 2).as("code1"),
        element_at(col("codes"), 3).as("code2"),
        element_at(col("codes"), 4).as("code3"),
        col("recon_dist"))
      .orderBy(col("vec_id"))
  }

  /** PQ ADC top-20 around vec_id=0 over the planted-neighbor corpus,
    * oracle-gated via the in-plan recall verdict (the
    * [[annLshTopk]] pattern, sharing its oracle): codebooks train on
    * the base corpus, the planted copies are encoded with the SAME
    * books (encode-only ingest — PQ's incremental path), and the
    * asymmetric-distance scan over the m-byte codes must recover
    * >= 18 of the exact decimal-cosine top-20.
    */
  private def pqTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val corpus = embWithPlantedNeighbors(emb)
    val query = emb.filter(col("vec_id") === 0)
    val cb = SessionScopedCache.getOrElseUpdate(s, "pq:" + dir)(
      PQ.train(emb, "vec_id", "embedding", m = 4, ksub = 16, iters = 2))
    val qQ = query.select(col("embedding")).head().getSeq[Float](0)
      .map(x => math.floor(x.toDouble * 1e6).toLong).toSeq
    val approx = PQ.adcTopK(
      PQ.encode(corpus, "vec_id", "embedding", cb),
      "vec_id", PQ.distTable(qQ, cb), cb, k = 20)
    exactTopWithRecallVerdict(exactTop20(s, dir, corpus, query), approx)
  }

  /** Embedding near-duplicate pairs over planted perturbed copies,
    * oracle-gated by the recall argument (same as dedup_ngram_jaccard):
    * the exact all-pairs cosine >= 0.98 truth set is SQL-expressible,
    * and every true pair is a planted float-perturbed copy at cos ~
    * 0.99998 — identical-signature recall for those is guaranteed at
    * any SF that keeps vectors off the hyperplane boundaries (checked
    * empirically at sf0.001/0.01/0.1), while random 64-dim pairs
    * concentrate near cos 0 (max ~0.7 even at millions of pairs), far
    * under the threshold. Decimal-accumulated cosine, rounded before
    * the threshold filter on both engines.
    */
  /** Embedding near-dup pairs, gated the knn_graph_ann way: the
    * EMITTED rows are the exact truth set (all-pairs double-cosine
    * prefilter at 0.97 — 0.01 of slack under the final gate, so
    * engine-order double noise cannot move a passing pair — then the
    * round-3 decimal verify at 0.98, exactly what DuckDB replays),
    * and `lsh_ok` proves the HYPERPLANE-LSH operator ran and
    * recovered >= 85% of them. Full-signature hyperplane matching is
    * lossy by construction (a planted near-copy of a vector lying
    * close to one of the 16 hyperplanes flips that sign — at sf0.1
    * exactly 2 of the 20 planted pairs do), so asserting the truth
    * set against the LSH output directly is an SF-dependent
    * coin-toss; the sf0.1 full-gate sweep caught it.
    */
  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val perturbed = emb
      .filter(col("vec_id") % 100 === 0)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.0005f)).as("embedding"),
        col("label"))
    val corpus = emb.unionByName(perturbed)
    val v = corpus.select(col("vec_id"), col("embedding"))
    val exact = v.select(col("vec_id").as("id_a"), col("embedding").as("__va"))
      .repartition(s.sparkContext.defaultParallelism)
      .join(broadcast(v.select(col("vec_id").as("id_b"), col("embedding").as("__vb"))),
        col("id_a") < col("id_b"))
      .filter(VF.cosine(col("__va"), col("__vb")) > 0.97)
      .select(col("id_a"), col("id_b"),
        round(VF.cosineDecimal(col("__va"), col("__vb")), 3).as("cos"))
      .filter(col("cos") >= 0.98)
      .persist()
    val lsh = SimilaritySearch
      .embeddingNearDupPairs(corpus, "vec_id", "embedding",
        bits = 16, minCosine = 0.98,
        cosineFn = (a, b) => round(VF.cosineDecimal(a, b), 3))
      .select(col("id_a"), col("id_b"))
    val hit = exact.join(lsh, Seq("id_a", "id_b"), "left_semi").count()
    val tot = exact.count()
    exact
      .withColumn("lsh_ok", lit(hit * 100 >= tot * 85))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Multimodal pipeline: synthetic media table (REAL BMP/WAV
    * containers) -> mapPartitions feature extraction -> per-type stats,
    * oracle-gated. Counts, byte totals, and frame totals are closed-
    * form functions of doc_id and the UTF-8 text length (the BMP/WAV
    * container sizes are deterministic), so DuckDB replays them
    * exactly; the decoded pixel/sample means are gated by an in-plan
    * verdict against [[expectedDecodedMeans]] — an independent
    * recomputation from the raw document bytes that never touches the
    * codecs — so `decode_ok = true` proves the encode->decode round
    * trip reproduced every pixel and sample (both paths sum the same
    * doubles in the same order; the 1e-12 tolerance is pure slack).
    */
  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val media = Multimodal.syntheticMediaFromDocs(s, docs)
    val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
    feats
      .join(expectedDecodedMeans(s, docs), Seq("media_id"))
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("frames_sampled")).cast("long").as("total_frames"),
        bool_and(
          when(col("expected_mean").isNull, col("decoded_mean").isNull)
            .otherwise(abs(col("decoded_mean") - col("expected_mean")) < 1e-12))
          .as("decode_ok"),
        bool_and(
          size(col("features")) === 16 &&
            forall(col("features"), f => f.isNotNull && f >= -1f && f <= 1f))
          .as("features_ok"))
      .orderBy(col("media_type"))
  }

  /** MP4 (ISO BMFF) container-metadata round trip — the compressed-
    * video metadata tier: a REAL box tree (ftyp/moov/trak/tkhd/mdhd/
    * hdlr/stsd/stsz/mdat) is built per document with deterministic
    * track parameters and an opaque codec payload, then parsed back by
    * the genuine recursive box walker ([[graft.multimodal.Codecs
    * .decodeMp4Meta]]); every emitted field comes from the DECODED
    * metadata, so the oracle's closed-form recompute of the generator
    * parameters hash-gates the full encode→parse round trip (including
    * the byte-exact container size). Codec payloads stay un-decoded —
    * no AVC/HEVC exists pure-JVM — and the downstream hash/band
    * machinery is codec-agnostic behind this seam.
    */
  private def multimodalMp4Meta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        import graft.multimodal.Codecs
        import graft.multimodal.Codecs.{Mp4Meta, Mp4Track}
        val vcodecs = Vector("avc1", "hvc1", "vp09", "av01")
        it.map { case (id, text) =>
          val ts = 90000L
          val dur = ts * (1 + id % 7)
          val samples = 10 + id % 20
          val tracks = Seq(
            Mp4Track("vide", vcodecs((id % 4).toInt), ts, dur,
              (16 * (1 + id % 8)).toInt, (16 * (1 + id % 5)).toInt, samples)) ++
            (if (id % 2 == 0)
              Seq(Mp4Track("soun", if (id % 4 == 0) "mp4a" else "opus",
                48000L, 48000L * (1 + id % 7), 0, 0, samples * 4))
            else Nil)
          val payload = text.getBytes("UTF-8").take(64)
          val bytes = Codecs.encodeMp4Meta(Mp4Meta("isom", tracks), payload)
          val meta = Codecs.decodeMp4Meta(bytes) // the REAL parse under test
          val v = meta.tracks.find(_.handler == "vide").get
          (id, bytes.length.toLong, meta.majorBrand, meta.tracks.size.toLong,
            v.codec, v.width.toLong, v.height.toLong, v.duration / v.timescale,
            meta.tracks.map(_.sampleCount).sum)
        }
      }
      .toDF("doc_id", "n_bytes", "major_brand", "n_tracks", "video_codec",
        "width", "height", "duration_s", "total_samples")
      .orderBy(col("doc_id"))
  }

  /** Matroska/WebM (EBML) container-metadata round trip — the second
    * compressed-video container tier beside [[multimodalMp4Meta]]: a
    * REAL EBML tree (EBML header with DocType + Segment[Info +
    * Tracks[TrackEntry...] + Cluster[SimpleBlock]]) is built per
    * document with deterministic track parameters and an opaque codec
    * payload riding a genuine SimpleBlock, then parsed back by the
    * genuine recursive EBML walker ([[graft.multimodal.Codecs
    * .decodeMkvMeta]] — variable-width ids and size VINTs, unknown-
    * size masters, unknown-element skip, FAILFAST corruption). Every
    * emitted field comes from the DECODED metadata, so the oracle's
    * closed-form recompute of the generator parameters hash-gates the
    * full encode→parse round trip, including the byte-exact container
    * size (the affine size formula is pinned by MkvSpec). Codec
    * payloads stay un-decoded — no VP9/AV1/Opus exists pure-JVM — and
    * the downstream hash/band machinery is codec-agnostic behind the
    * seam.
    */
  private def multimodalMkvMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        import graft.multimodal.Codecs
        import graft.multimodal.Codecs.{MkvMeta, MkvTrack}
        val vcodecs = Vector("V_AV1", "V_VP9", "V_VP8")
        it.map { case (id, text) =>
          val hasAudio = id % 2 == 1
          val flac = id % 4 == 1
          val docType = if (flac) "matroska" else "webm" // FLAC is not a WebM codec
          val video = MkvTrack("video", vcodecs((id % 3).toInt),
            (32 * (1 + id % 6)).toInt, (16 * (1 + id % 9)).toInt, 0L, 0)
          val audio =
            if (!hasAudio) Nil
            else Seq(MkvTrack("audio", if (flac) "A_FLAC" else "A_OPUS", 0, 0,
              if (flac) 44100L else 48000L, if (flac) 1 else 2))
          // TimestampScale 1 ms per tick; duration in whole seconds
          val meta = MkvMeta(docType, 1000000L, 1000L * (1 + id % 5), video +: audio)
          val payload = text.getBytes("UTF-8").take(48)
          val bytes = Codecs.encodeMkvMeta(meta, payload)
          val got = Codecs.decodeMkvMeta(bytes) // the REAL parse under test
          val v = got.tracks.find(_.trackType == "video").get
          val a = got.tracks.find(_.trackType == "audio")
          (id, bytes.length.toLong, got.docType, got.tracks.size.toLong,
            v.codec, v.width.toLong, v.height.toLong,
            got.durationTicks * got.timestampScaleNs / 1000000000L,
            a.map(_.codec).getOrElse(""), a.map(_.samplingHz).getOrElse(0L),
            a.map(_.channels.toLong).getOrElse(0L))
        }
      }
      .toDF("doc_id", "n_bytes", "doc_type", "n_tracks", "video_codec",
        "width", "height", "duration_s", "audio_codec", "sampling_hz", "channels")
      .orderBy(col("doc_id"))
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
    val outDir = scratchDir("graft-compactexec") + "/out"
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

  /** MinHash-LSH banding calibration ([[graft.operators.LshTuning]])
    * — the planning step before every banded dedup run: for each
    * signature budget and target Jaccard threshold, pick the
    * (bands, rows) divisor split whose S-curve midpoint sits at the
    * threshold. Every power is a left-fold multiplication chain (no
    * `pow` — its 1-ulp license differs across engines), so the DuckDB
    * oracle replays the doubles BIT-FOR-BIT via recursive CTEs: the
    * whole chain (config grid, curve evaluation, argmin selection,
    * tie-break) is same-chain replay with no verdict column.
    */
  private def lshTune(s: SparkSession, dir: String): DataFrame =
    graft.operators.LshTuning.tune(s,
      budgets = Seq(64, 128, 256), thresholds = Seq(0.5, 0.7, 0.8, 0.9))
      .orderBy(col("total_hashes"), col("threshold"))

  /** Image perceptual-hash near-dup dedup over the synthetic BMP
    * corpus: 64-bit difference hashes from REAL decoded pixels
    * ([[graft.multimodal.ImageDedup.dHash]] — integer Rec.601 luma on
    * a 9x8 grid), paired by 4x16-bit Hamming-LSH bands (pigeonhole-
    * lossless at the Hamming <= 3 threshold) and verified with the
    * exact popcount distance. The planted variants exercise both
    * invariances: RESIZED copies (nearest-neighbor through 72x72 via
    * the real BMP re-encode path — the 9x8 sampling composes through
    * any 72-divisible grid exactly, so their hashes are bit-identical,
    * ham 0) and NOISED copies (blue channel inverted on every 7th
    * pixel — up to ~11% of the luma range on the few grid cells that
    * sample those pixels, flipping a handful of gradient bits).
    * Oracle-gated BIT-EXACTLY: DuckDB recomputes every hash closed-
    * form from the document bytes (the resize collapse is exact:
    * floor(floor(72c/9)·w/72) = floor(cw/9)), takes all pairs at
    * ham <= 3, and must match the banded pipeline row for row.
    */
  private def imageDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{Codecs, ImageDedup => ID}
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("doc_id") < 120)
    val media = Multimodal.syntheticMediaFromDocs(s, docs)
    val resized = Multimodal.resize(media.filter(_.media_id % 30 == 0), 72, 72)
      .map(m => m.copy(media_id = m.media_id + 5000000L))
    val noised = media.filter(_.media_id % 45 == 0).mapPartitions(_.map { m =>
      val im = Codecs.decodeBmp(m.content)
      val px = im.pixels.clone()
      var i = 0
      // invert the blue channel of every 7th pixel: up to ~11% of the
      // luma range on the handful of 9x8 cells that sample those
      // pixels — enough to flip a few gradient bits, far from 64
      while (i < px.length) { if (i % 7 == 0) px(i) = px(i) ^ 0xff; i += 1 }
      m.copy(media_id = m.media_id + 6000000L,
        content = Codecs.encodeBmp(im.width, im.height, px))
    })
    ID.nearDupPairs(ID.dHashes(media.union(resized).union(noised)),
        "media_id", "hash", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("ham").cast("long").as("ham"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Near-duplicate VIDEO detection over REAL Y4M containers
    * ([[graft.multimodal.VideoDedup]]): 6-frame C444 videos
    * synthesized from documents, exact re-encoded copies for every
    * doc_id % 30 == 0 and blue-channel-noised variants for every
    * doc_id % 45 == 0; sampled frames (stride 2) hash with the luma
    * dHash, candidates join banded per (frame, band), and a pair
    * matches when ALL sampled frames land within Hamming 3. BIT-EXACT
    * oracle: the stored Y plane is an integer expression of the text
    * bytes, so grid luma, gradient bits, per-frame Hamming, and the
    * matched-frame filter all replay in SQL.
    */
  private def videoDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{Multimodal, VideoDedup => VD}
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("doc_id") < 120)
    val base = Multimodal.syntheticVideosFromDocs(s, docs)
    val copies = base.filter(_.media_id % 30 == 0)
      .map(m => m.copy(media_id = m.media_id + 5000000L))
    val noised = Multimodal
      .syntheticVideosFromDocs(s, docs.filter(col("doc_id") % 45 === 0),
        noiseEvery = 13)
      .map(m => m.copy(media_id = m.media_id + 6000000L))
    VD.nearDupPairs(
        VD.frameHashes(base.union(copies).union(noised), stride = 2),
        maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("matched_frames"),
        col("total_frames"), col("ham_sum"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** [[videoDedup]] through the PERSISTED frame-hash store — the
    * video-ingest shape: the base corpus's sampled-frame dHashes are
    * saved band-prefix-partitioned once ([[graft.multimodal.VideoDedup
    * .saveFrameStore]] — one banded layout shared with the image
    * store), and the increment (exact copies + noised variants)
    * probes it ([[graft.multimodal.VideoDedup.probeFrameStore]] —
    * store read pruned to the increment's band prefixes, aligned
    * frames only, matched-fraction policy). Banding is pigeonhole-
    * lossless per frame at ham <= 3, so the matches equal the full
    * increment-vs-base comparison the oracle computes closed-form.
    */
  private def videoDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{Multimodal, VideoDedup => VD}
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("doc_id") < 120)
    val path = SessionScopedCache.getOrElseUpdate(s, "video-store:" + dir) {
      val p = scratchDir("graft-vstore") + "/store"
      VD.saveFrameStore(
        VD.frameHashes(Multimodal.syntheticVideosFromDocs(s, docs), stride = 2), p)
      p
    }
    val base = Multimodal.syntheticVideosFromDocs(s, docs)
    val copies = base.filter(_.media_id % 30 == 0)
      .map(m => m.copy(media_id = m.media_id + 5000000L))
    val noised = Multimodal
      .syntheticVideosFromDocs(s, docs.filter(col("doc_id") % 45 === 0),
        noiseEvery = 13)
      .map(m => m.copy(media_id = m.media_id + 6000000L))
    VD.probeFrameStore(
        VD.frameHashes(copies.union(noised), stride = 2),
        VD.loadFrameStore(s, path), maxHamming = 3)
      .select(col("media_id"), col("store_id"), col("matched_frames"),
        col("total_frames"), col("ham_sum"))
      .orderBy(col("media_id"), col("store_id"))
  }

  /** [[imageDedup]] through the PERSISTED hash store — the ingest
    * shape: the base corpus's dHashes are saved band-prefix-
    * partitioned ([[graft.multimodal.ImageDedup.saveHashStore]]), and
    * the increment (the resized + noised variants) probes the saved
    * layout ([[graft.multimodal.ImageDedup.probeStore]] — store read
    * directory-pruned to the increment's band prefixes, spec-asserted
    * PartitionFilters). Banding is pigeonhole-lossless at ham <= 3,
    * so the matches equal the full increment-vs-base distance join
    * the DuckDB oracle computes closed-form.
    */
  private def imageDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{Codecs, ImageDedup => ID}
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("doc_id") < 120)
    val media = Multimodal.syntheticMediaFromDocs(s, docs)
    val path = scratchDir("graft-phash-store")
    ID.saveHashStore(ID.dHashes(media), "media_id", "hash", path,
      prefixBuckets = 16)
    val resized = Multimodal.resize(media.filter(_.media_id % 30 == 0), 72, 72)
      .map(m => m.copy(media_id = m.media_id + 5000000L))
    val noised = media.filter(_.media_id % 45 == 0).mapPartitions(_.map { m =>
      val im = Codecs.decodeBmp(m.content)
      val px = im.pixels.clone()
      var i = 0
      while (i < px.length) { if (i % 7 == 0) px(i) = px(i) ^ 0xff; i += 1 }
      m.copy(media_id = m.media_id + 6000000L,
        content = Codecs.encodeBmp(im.width, im.height, px))
    })
    ID.probeStore(ID.dHashes(resized.union(noised)),
        ID.loadHashStore(s, path), "media_id", "hash", maxHamming = 3)
      .select(col("id"), col("store_id"), col("ham").cast("long").as("ham"))
      .orderBy(col("id"), col("store_id"))
  }

  /** Audio perceptual-hash near-dup dedup — [[imageDedup]]'s WAV
    * sibling: 64-bit energy-envelope hashes from REAL decoded PCM-16
    * samples ([[graft.multimodal.AudioDedup.envelopeHash]] — exact
    * integer window energies, cross-multiplied mean comparisons),
    * paired by the same pigeonhole-lossless 4x16-bit Hamming bander.
    * Planted variants: VOLUME-HALVED copies (every synthetic sample is
    * even, so s/2 scales each window energy by exactly 1/4 and the
    * hash is bit-identical — ham 0, the loudness-invariance claim made
    * exact) and NOISED copies (+500 on every 11th sample — a few
    * gradient flips). Oracle-gated BIT-EXACTLY: DuckDB resynthesizes
    * every sample closed-form from the document bytes (including the
    * PCM-16 wraparound), replays window energies and gradient bits,
    * and must match the banded pipeline row for row at ham <= 3.
    */
  private def audioDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{AudioDedup => AD, Codecs}
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 3 === 1 && col("doc_id") < 120)
    val media = Multimodal.syntheticMediaFromDocs(s, docs)
    val halved = media.filter(_.media_id % 30 == 1).mapPartitions(_.map { m =>
      val wav = Codecs.decodeWavPcm16(m.content)
      m.copy(media_id = m.media_id + 5000000L,
        content = Codecs.encodeWavPcm16(
          wav.samples.map(x => (x / 2).toShort), wav.sampleRate))
    })
    val noised = media.filter(_.media_id % 45 == 1).mapPartitions(_.map { m =>
      val wav = Codecs.decodeWavPcm16(m.content)
      val ss = wav.samples.zipWithIndex.map { case (x, i) =>
        if (i % 11 == 0) (x + 500).toShort else x
      }
      m.copy(media_id = m.media_id + 6000000L,
        content = Codecs.encodeWavPcm16(ss, wav.sampleRate))
    })
    AD.nearDupPairs(
        AD.envelopeHashes(media.union(halved).union(noised)),
        "media_id", "hash", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("ham").cast("long").as("ham"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup semantic dedup removal list over the planted-perturbed
    * corpus ([[dedupEmbedding]]'s construction): k-means clusters the
    * embedding space (md5 seeds, 2 Lloyd iterations on the µ-grid),
    * then near-dup pairs are searched ONLY within clusters and every
    * document with a lower-id same-cluster duplicate at decimal-cos
    * >= 0.98 lands on the removal list. Oracle-gated END-TO-END: the
    * DuckDB side unrolls the same two Lloyd iterations as CTEs
    * ([[kmeansIterSql]]), replays the exact integer assignment, the
    * cluster-size guard, the in-cluster pair join, and the decimal
    * cosine threshold bit-for-bit.
    */
  private def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val perturbed = emb
      .filter(col("vec_id") % 100 === 0)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.0005f)).as("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(perturbed)
    // k sized to the corpus (SemanticDedup.sizedK: ~n/300, floor 8) —
    // the quadratic in-cluster search is bounded by MEAN CLUSTER SIZE,
    // so a pinned k melts at rehearsal scale (k=8 over 80k vectors =
    // 10k-vector clusters = ~400M prefilter cosines, 322 s cold at the
    // sf4 drill). At the oracle SFs (sf0.01/sf0.1: <= ~2k vectors)
    // sizedK resolves to exactly 8 — the value the Lloyd CTE program
    // replays — so the oracle is unchanged by the sizing.
    val cents = SessionScopedCache.getOrElseUpdate(s, "semdedup:" + dir) {
      val k = graft.operators.SemanticDedup.sizedK(corpus.count())
      graft.operators.KMeansTrain.train(corpus, "vec_id", "embedding", k = k, iters = 2)
    }
    graft.operators.SemanticDedup
      .removalList(corpus, "vec_id", "embedding", cents, minCosine = 0.98,
        cosineFn = (a, b) => round(VF.cosineDecimal(a, b), 3),
        // round-3 exact gate passes cosineDecimal >= 0.9795; 1e-4 slack
        prefilterMin = Some(0.9794))
      .select(col("id").as("vec_id"), col("cluster").cast("int").as("cluster"),
        col("dup_of"), col("n_dups"), col("cos_max"))
      .orderBy(col("vec_id"))
  }

  /** [[pqEncode]] through a codebook save/load cycle: the books are
    * trained once, persisted, reloaded, and the encode runs on the
    * LOADED books — persistence must be invisible to results, so the
    * oracle is shared verbatim with `pq_encode` (the
    * `dedup_incremental_*_persisted` convention).
    */
  private def pqEncodePersisted(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val cb = SessionScopedCache.getOrElseUpdate(s, "pq:" + dir + "#persisted") {
      val live = SessionScopedCache.getOrElseUpdate(s, "pq:" + dir)(
        PQ.train(emb, "vec_id", "embedding", m = 4, ksub = 16, iters = 2))
      val path = scratchDir("graft-pq-books")
      PQ.save(live, s, path)
      PQ.load(s, path)
    }
    PQ.encode(emb, "vec_id", "embedding", cb, keep = Seq("embedding"))
      .withColumn("recon_dist", PQ.reconDist(col("embedding"), cb))
      .select(
        col("vec_id"),
        element_at(col("codes"), 1).as("code0"),
        element_at(col("codes"), 2).as("code1"),
        element_at(col("codes"), 3).as("code2"),
        element_at(col("codes"), 4).as("code3"),
        col("recon_dist"))
      .orderBy(col("vec_id"))
  }

  /** [[semanticDedup]] through a centroid save/load cycle (same
    * persistence-invisibility contract; shares the oracle verbatim).
    */
  private def semanticDedupPersisted(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val perturbed = emb
      .filter(col("vec_id") % 100 === 0)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.0005f)).as("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(perturbed)
    val cents = SessionScopedCache.getOrElseUpdate(s, "semdedup:" + dir + "#persisted") {
      // same corpus-sized k as semantic_dedup (resolves to 8 at the
      // oracle SFs), so both gates share one trained artifact
      val live = SessionScopedCache.getOrElseUpdate(s, "semdedup:" + dir) {
        val k = graft.operators.SemanticDedup.sizedK(corpus.count())
        graft.operators.KMeansTrain.train(corpus, "vec_id", "embedding", k = k, iters = 2)
      }
      val path = scratchDir("graft-kmeans-cents")
      graft.operators.KMeansTrain.saveCentroids(live, s, path)
      graft.operators.KMeansTrain.loadCentroids(s, path)
    }
    graft.operators.SemanticDedup
      .removalList(corpus, "vec_id", "embedding", cents, minCosine = 0.98,
        cosineFn = (a, b) => round(VF.cosineDecimal(a, b), 3),
        // round-3 exact gate passes cosineDecimal >= 0.9795; 1e-4 slack
        prefilterMin = Some(0.9794))
      .select(col("id").as("vec_id"), col("cluster").cast("int").as("cluster"),
        col("dup_of"), col("n_dups"), col("cos_max"))
      .orderBy(col("vec_id"))
  }

  /** Winnowing fingerprint overlap pairs (MOSS) over the
    * [[docsWithNearDups]] corpus: char-8-gram portable md5 hashes,
    * window-8 minima, distinct per doc, bucket-guarded fingerprint
    * join, pairs sharing >= 10 fingerprints. Oracle-gated end-to-end
    * (grams, hashes, window minima, guard, counts all replayed).
    */
  private def winnowOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Winnow
      .overlapPairs(docsWithNearDups(s, dir), "doc_id", "text",
        k = 8, w = 8, minShared = 10, maxBucketSize = 50,
        hashFn = graft.operators.Winnow.PortableMd5Hash)
      .orderBy(col("id_a"), col("id_b"))

  /** DSIR importance selection: hashed unigram+bigram bucket
    * log-ratios of the English-labeled target slice vs the whole
    * corpus, exact integer per-doc weights, top 50. Oracle-gated
    * end-to-end (the 128-cell model and every weight replay in SQL).
    */
  private def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val ratios = SessionScopedCache.getOrElseUpdate(s, "dsir:" + dir)(
      graft.operators.Dsir.bucketLogRatios(docs, "text", col("lang") === "en", buckets = 128))
    graft.operators.Dsir.select(docs, "doc_id", "text", ratios, n = 50)
      .withColumnRenamed("id", "doc_id")
  }

  /** Hybrid retrieval: BM25 top-100 (terms "vector merge stream") and
    * dense decimal-cosine top-100 around vec_id=0 fused by
    * reciprocal-rank fusion (c=60, quantized contributions), top 20.
    * Ranks are assigned over each list's ROUNDED emitted score with
    * an id tie-break — the same ordering the oracle replays — so the
    * fused integer scores hash-match exactly.
    */
  private def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val idx = SessionScopedCache.getOrElseUpdate(s, "bm25:" + dir)(
      graft.operators.Bm25.build(Tables(s, dir, "documents"), "doc_id", "text"))
    val sparse = graft.operators.Bm25.search(idx, Seq("vector", "merge", "stream"), k = 100)
      .select(col("id"),
        row_number().over(Window.orderBy(col("score").desc, col("id"))).cast("long").as("rank"))
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
    val dense = emb.crossJoin(broadcast(q))
      .select(col("vec_id").as("id"),
        round(VF.cosineDecimal(col("embedding"), col("__qv")), 3).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(100)
      .select(col("id"),
        row_number().over(Window.orderBy(col("cos").desc, col("id"))).cast("long").as("rank"))
    graft.operators.RankFusion.rrf(Seq(sparse, dense), k = 20)
      .select(col("id").as("doc_id"), col("n_lists"), col("score"))
  }

  /** IVF-PQ ANN top-20 over the planted-neighbor corpus — the faiss
    * composition of the triad: the coarse quantizer prunes the scan
    * to nprobe=4 of 16 lists AND every scanned row is m=4 PQ codes
    * scored by ADC lookups (no float vector read at query time).
    * Reuses the SAME trained coarse index as [[annIvfTopk]] and the
    * SAME codebooks as [[pqTopk]] (train-once artifacts, composed by
    * one encode projection). Oracle-gated via the in-plan recall
    * verdict, sharing the `ann_lsh_topk` oracle.
    */
  private def ivfpqPlantedIndex(s: SparkSession, dir: String): graft.operators.IvfPq.Index =
    SessionScopedCache.getOrElseUpdate(s, "ivfpq:" + dir + "#planted") {
      val emb = Tables(s, dir, "embeddings")
      val corpus = embWithPlantedNeighbors(emb)
      val ivf = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir + "#planted") {
        val base = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir)(
          IvfAnn.build(emb, "vec_id", "embedding", nlist = 16, iters = 3))
        IvfAnn.append(base, corpus.filter(col("vec_id") >= 1000000L))
      }
      val cb = SessionScopedCache.getOrElseUpdate(s, "pq:" + dir)(
        PQ.train(emb, "vec_id", "embedding", m = 4, ksub = 16, iters = 2))
      graft.operators.IvfPq.fromParts(ivf, cb)
    }

  private def annIvfpqTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val corpus = embWithPlantedNeighbors(emb)
    val query = emb.filter(col("vec_id") === 0)
    val approx = graft.operators.IvfPq
      .topK(ivfpqPlantedIndex(s, dir), query, "embedding", k = 20, nprobe = 4)
    exactTopWithRecallVerdict(exactTop20(s, dir, corpus, query), approx)
  }

  /** [[annIvfpqTopk]] through a full index save/load cycle: the
    * composed index is persisted (encoded corpus partitioned BY list
    * id, centroid matrix, codebooks), reloaded, and the probe runs
    * against the SAVED layout — so the query exercises the
    * directory-pruned m-byte-row scan a 100 TB deployment would
    * serve from (IvfPqSpec asserts the `__list` PartitionFilters;
    * this gates the results through disk). Persistence must be
    * invisible: shares the ann oracle verbatim.
    */
  private def annIvfpqPersisted(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val corpus = embWithPlantedNeighbors(emb)
    val query = emb.filter(col("vec_id") === 0)
    val index = SessionScopedCache.getOrElseUpdate(s, "ivfpq:" + dir + "#planted-persisted") {
      val path = scratchDir("graft-ivfpq-index")
      graft.operators.IvfPq.save(ivfpqPlantedIndex(s, dir), path)
      graft.operators.IvfPq.load(s, path, "vec_id")
    }
    val approx = graft.operators.IvfPq
      .topK(index, query, "embedding", k = 20, nprobe = 4)
    exactTopWithRecallVerdict(exactTop20(s, dir, corpus, query), approx)
  }

  /** BPE merge-candidate pair statistics (Sennrich et al. 2016,
    * iteration-1 form): corpus-wide adjacent character-pair counts
    * with the `</w>` boundary symbol, weighted by word frequency —
    * the statistic a BPE trainer ranks to pick each merge. Top 30,
    * count desc / pair asc. Oracle-gated end-to-end (string ops +
    * integer sums replay verbatim).
    */
  private def bpePairStatsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lexicon
      .bpePairStats(Tables(s, dir, "documents"), "text", topK = 30)

  /** RESIDUAL IVF-PQ ANN top-20 (the full faiss IVFPQ form): same
    * probed-list pruning and m-byte ADC scan as [[annIvfpqTopk]],
    * but the codes quantize each vector's RESIDUAL to its list
    * centroid and every probed list scores against its own query
    * table — tighter distances at identical code size. Same planted
    * recall gate, shared ann oracle.
    */
  private def annIvfpqResidualTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val corpus = embWithPlantedNeighbors(emb)
    val query = emb.filter(col("vec_id") === 0)
    val index = SessionScopedCache.getOrElseUpdate(s, "ivfpq-residual:" + dir + "#planted") {
      val ivf = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir + "#planted") {
        val base = SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir)(
          IvfAnn.build(emb, "vec_id", "embedding", nlist = 16, iters = 3))
        IvfAnn.append(base, corpus.filter(col("vec_id") >= 1000000L))
      }
      graft.operators.IvfPq.fromPartsResidual(ivf, m = 4, ksub = 16, iters = 2)
    }
    val approx = graft.operators.IvfPq
      .topKResidual(index, query, "embedding", k = 20, nprobe = 4)
    exactTopWithRecallVerdict(exactTop20(s, dir, corpus, query), approx)
  }

  /** BM25 search through a SAVED index after tombstone retraction
    * ([[graft.operators.Bm25.retractFromSaved]]): the full corpus is
    * indexed and persisted, the ODD half is retracted as a tombstone
    * append (the term-prefix layout is never rewritten — doc deletion
    * is the wrong axis for it, the Lucene/Delta delete-marker shape),
    * and the loaded index must score EXACTLY like an index built on
    * the surviving even half — N, avgdl, idf, every posting. Gated
    * against the survivor-corpus replay, so retract == rebuild is
    * oracle-checked end to end (the `bm25_absorb_search` convention,
    * inverted).
    */
  private def bm25RetractSearch(s: SparkSession, dir: String): DataFrame = {
    val idx = SessionScopedCache.getOrElseUpdate(s, "bm25:" + dir + "#retract") {
      val docs = Tables(s, dir, "documents")
      val path = scratchDir("graft-bm25-retract")
      graft.operators.Bm25.save(
        graft.operators.Bm25.build(docs, "doc_id", "text"), path,
        prefixBuckets = 16)
      graft.operators.Bm25.retractFromSaved(
        s, path, docs.filter(col("doc_id") % 2 === 1).select(col("doc_id")), "doc_id")
      graft.operators.Bm25.load(s, path)
    }
    graft.operators.Bm25.search(idx, Seq("vector", "merge", "stream"), k = 20)
      .select(col("id").as("doc_id"), col("n_terms"), col("score"))
  }

  /** Count-Min heavy hitters — the sketch's canonical selection use:
    * every token whose SKETCH estimate clears the threshold
    * `floor(N/64)` is a candidate; because count-min never
    * underestimates, the candidates are a GUARANTEED superset of the
    * true heavy hitters, and the collision bound caps how far a
    * false positive can sit below the threshold. The emitted rows
    * are the exact hitters (SQL-replayable) plus the two-sided
    * verdict the oracle asserts: no true hitter missed, no candidate
    * further than `10N/w` below the threshold.
    */
  private def countminHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val CM = graft.functions.CountMinSketch
    val toks = Tables(s, dir, "documents")
      .select(explode(TF.tokens(col("text"))).as("term"))
    val sk = toks.agg(CM.sketch(col("term")).as("sk"), count(lit(1)).as("n"))
    // eager checkpoint of the vocabulary-sized estimate table: est is
    // referenced by BOTH the verdict aggregate and the final filter —
    // without the materialization each reference re-runs the two
    // corpus passes (tokenize+count and the sketch build), and only
    // exchange reuse keeps that bounded; checkpointing pins the pass
    // count at exactly two regardless of plan-reuse luck
    val est = toks.groupBy(col("term")).agg(count(lit(1)).as("exact_n"))
      .crossJoin(broadcast(sk))
      .select(col("term"), col("exact_n"),
        CM.estimate(col("sk"), col("term")).as("est"),
        floor(col("n") / lit(64.0)).cast("long").as("t"),
        ceil(lit(10.0) * col("n") / lit(CM.DefaultWidth)).cast("long").as("bound"))
      .localCheckpoint(true)
    val verdict = est.agg(
      bool_and(col("exact_n") < col("t") || col("est") >= col("t")).as("v1"),
      bool_and(col("est") < col("t") || col("exact_n") >= col("t") - col("bound")).as("v2"))
    est.filter(col("exact_n") >= col("t"))
      .crossJoin(broadcast(verdict))
      .select(col("term"), col("exact_n"), (col("v1") && col("v2")).as("hh_ok"))
      .orderBy(col("exact_n").desc, col("term"))
  }

  /** Chunk-level retrieval — the RAG-corpus composition: documents
    * chunked into 64-token/48-stride windows, a BM25 index built over
    * the CHUNKS (composite id doc_id*100000+chunk_id; an in-plan
    * assert_true fails loudly if any document ever yields >=100000
    * chunks rather than silently aliasing ids), and the top-20
    * chunks for the query terms returned with their provenance.
    * Oracle-gated end-to-end: the chunking replay (range + inclusive
    * slices) feeds the same integer-grid BM25 formula.
    */
  private def chunkSearch(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.operators.Chunking
      .chunk(Tables(s, dir, "documents"), "doc_id", "text",
        windowTokens = 64, strideTokens = 48)
      .select(
        (col("doc_id") * ChunkIdMultiplier + col("chunk_id") +
          coalesce(assert_true(col("chunk_id") < ChunkIdMultiplier), lit(0L))).as("cid"),
        col("chunk_text"))
    val idx = SessionScopedCache.getOrElseUpdate(s, "bm25:" + dir + "#chunks")(
      graft.operators.Bm25.build(chunks, "cid", "chunk_text"))
    graft.operators.Bm25.search(idx, Seq("vector", "merge", "stream"), k = 20)
      .select(
        expr(s"CAST(id DIV $ChunkIdMultiplier AS BIGINT)").as("doc_id"),
        pmod(col("id"), lit(ChunkIdMultiplier)).cast("int").as("chunk_id"),
        col("n_terms"),
        col("score"))
  }

  /** Trained BPE merge table for this (session, dir) — 6 iterations
    * over the corpus vocabulary; see [[graft.operators.Lexicon
    * .bpeTrain]].
    */
  private def bpeMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    SessionScopedCache.getOrElseUpdate(s, "bpe:" + dir)(
      graft.operators.Lexicon.bpeTrain(Tables(s, dir, "documents"), "text", nMerges = 6)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq)

  /** Full iterative BPE training, BIT-EXACT oracle-gated: 6 merges
    * over the corpus vocabulary — per iteration, frequency-weighted
    * adjacent-symbol-pair counts, top-pair selection (count desc,
    * x/y asc), and the literal bracketed-string replace that IS
    * greedy BPE merge application. The DuckDB oracle unrolls the
    * same 6 iterations as CTEs ([[bpeIterSql]]) and hash-matches
    * every merge and count.
    */
  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, dir).toDF("iter", "x", "y", "n").orderBy(col("iter"))
  }

  /** BPE segmentation serving: the first 10 documents tokenized and
    * segmented with the trained merge table (a pure per-row
    * projection — the merges ride the plan as literal replaces).
    * Oracle-gated end-to-end: the oracle re-trains the merges in SQL
    * and applies the same 6 replaces to every token.
    */
  private def bpeSegmentQ(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 10)
      .select(
        col("doc_id"),
        array_join(
          flatten(graft.operators.Lexicon.bpeSegment(
            col("text"), bpeMerges(s, dir).map(m => (m._2, m._3)))),
          " ").as("segmented"))
      .orderBy(col("doc_id"))

  /** Unigram-LM training geometry shared by the queries and the
    * generated oracle: piece length <= 4, 25 multi-char seed pieces,
    * 2 hard-EM rounds, word-length bound 12 (the DP-unroll depth; a
    * no-op on this corpus, whose longest token is 8 chars).
    */
  private val UlmMaxPieceLen = 4
  private val UlmTopMulti = 25
  private val UlmEmIters = 2
  private val UlmMaxWordLen = 12
  private val UlmPruneTo = 8

  private def ulmVocab(s: SparkSession, dir: String): graft.operators.UnigramLm.Vocab =
    SessionScopedCache.getOrElseUpdate(s, "ulm:" + dir)(
      graft.operators.UnigramLm.train(Tables(s, dir, "documents"), "text",
        maxPieceLen = UlmMaxPieceLen, topMulti = UlmTopMulti,
        emIters = UlmEmIters, maxWordLen = UlmMaxWordLen))

  /** Trained unigram-LM vocabulary (Kudo 2018; SentencePiece's model):
    * substring-seeded, 2 hard-EM rounds over the distinct-word table —
    * (piece, n, lp) with the floor-quantized log-prob, count desc.
    * Oracle-gated END-TO-END: the DuckDB replay re-runs the seed
    * counts, both EM rounds (per-position Viterbi DP unrolled as CTEs,
    * backpointer walk as a recursive CTE, count + re-quantize), and
    * emits the same final table — see [[ulmChainSql]].
    */
  private def ulmTrainQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.UnigramLm
      .vocabTable(Tables(s, dir, "documents"), "text", ulmVocab(s, dir))

  /** Unigram-LM Viterbi segmentation of the first 10 documents under
    * the trained vocabulary — the serving side, a pure per-row fold
    * (the vocab rides as one map literal). Same output convention as
    * `bpe_segment`; the oracle replays the DP at the final log-probs.
    */
  private def ulmSegmentQ(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 10)
      .select(
        col("doc_id"),
        array_join(
          flatten(graft.operators.UnigramLm.segment(
            col("text"), ulmVocab(s, dir), UlmMaxWordLen)),
          " ").as("segmented"))
      .orderBy(col("doc_id"))

  /** [[ulmTrainQ]] with the SentencePiece prune: every EM round keeps
    * only the top-8 multi-char pieces by EM count (the pieces EM
    * stopped using are cut first), so the served vocabulary shrinks
    * toward alphabet + 8. Oracle-gated end-to-end — the replay adds
    * the same LIMIT to each round's vocabulary rebuild.
    */
  private def ulmTrainPruned(s: SparkSession, dir: String): DataFrame =
    graft.operators.UnigramLm.vocabTable(
      Tables(s, dir, "documents"), "text",
      SessionScopedCache.getOrElseUpdate(s, "ulm:" + dir + "#pruned")(
        graft.operators.UnigramLm.train(Tables(s, dir, "documents"), "text",
          maxPieceLen = UlmMaxPieceLen, topMulti = UlmTopMulti,
          emIters = UlmEmIters, maxWordLen = UlmMaxWordLen,
          pruneMultiTo = Some(UlmPruneTo))))

  /** WordPiece-style greedy longest-match segmentation of the first
    * 10 documents under the PRUNED unigram-LM vocabulary (membership
    * only — no probabilities), the tokenizer family's third serving
    * mode. Oracle-gated end-to-end: the replay rebuilds the pruned
    * vocab (same EM chain), tabulates each position's greedy piece,
    * and walks it with a recursive CTE.
    */
  private def wordpieceSegment(s: SparkSession, dir: String): DataFrame = {
    val v = SessionScopedCache.getOrElseUpdate(s, "ulm:" + dir + "#pruned")(
      graft.operators.UnigramLm.train(Tables(s, dir, "documents"), "text",
        maxPieceLen = UlmMaxPieceLen, topMulti = UlmTopMulti,
        emIters = UlmEmIters, maxWordLen = UlmMaxWordLen,
        pruneMultiTo = Some(UlmPruneTo)))
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 10)
      .select(
        col("doc_id"),
        array_join(
          flatten(graft.operators.UnigramLm.maxMatchSegment(
            col("text"), v, UlmMaxWordLen)),
          " ").as("segmented"))
      .orderBy(col("doc_id"))
  }

  /** [[ulmSegmentQ]] through a vocabulary save/load cycle: the
    * trained artifact is persisted, reloaded, and segmentation runs
    * on the LOADED vocab — persistence must be invisible to results
    * (the `pq_encode_persisted` convention; shares the oracle
    * verbatim).
    */
  private def ulmSegmentPersisted(s: SparkSession, dir: String): DataFrame = {
    val v = SessionScopedCache.getOrElseUpdate(s, "ulm:" + dir + "#persisted") {
      val path = scratchDir("graft-ulm-vocab")
      graft.operators.UnigramLm.save(ulmVocab(s, dir), s, path)
      graft.operators.UnigramLm.load(s, path)
    }
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 10)
      .select(
        col("doc_id"),
        array_join(
          flatten(graft.operators.UnigramLm.segment(col("text"), v, UlmMaxWordLen)),
          " ").as("segmented"))
      .orderBy(col("doc_id"))
  }

  /** [[ulmTrainQ]] through the persisted-train-state ABSORB path: the
    * vocabulary trains on the EVEN half of the corpus
    * ([[graft.operators.UnigramLm.trainAndSave]] — the distinct-word
    * table persists hash-prefix-partitioned beside the artifact), then
    * the ODD half folds in ([[graft.operators.UnigramLm
    * .absorbIntoSaved]] — the increment is word-counted, only touched
    * word partitions merge under one staged swap, and EM re-runs
    * over the vocabulary-sized word table; the base corpus is never
    * rescanned). Gated against the SAME full-corpus EM oracle as
    * `ulm_train`, so absorb == rebuild is itself oracle-checked (the
    * `bm25_absorb_search` convention).
    */
  private def ulmAbsorbTrain(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val v = SessionScopedCache.getOrElseUpdate(s, "ulm:" + dir + "#absorb") {
      val path = scratchDir("graft-ulm-absorb")
      graft.operators.UnigramLm.trainAndSave(
        docs.filter(col("doc_id") % 2 === 0), "text", path,
        maxPieceLen = UlmMaxPieceLen, topMulti = UlmTopMulti,
        emIters = UlmEmIters, maxWordLen = UlmMaxWordLen)
      graft.operators.UnigramLm.absorbIntoSaved(
        s, path, docs.filter(col("doc_id") % 2 === 1), "text")
    }
    graft.operators.UnigramLm.vocabTable(docs, "text", v)
  }

  /** BM25 search over an index built from HALF the corpus and
    * [[graft.operators.Bm25.absorb]]-ed with the other half — gated
    * against the oracle's full-corpus replay, so the absorb==rebuild
    * invariant (O(increment) ingest folds into exactly the index a
    * full rebuild yields) is itself oracle-checked, not just spec'd.
    */
  private def bm25AbsorbSearch(s: SparkSession, dir: String): DataFrame = {
    val idx = SessionScopedCache.getOrElseUpdate(s, "bm25:" + dir + "#absorb") {
      val docs = Tables(s, dir, "documents")
      val first = graft.operators.Bm25.build(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      graft.operators.Bm25.absorb(
        first, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    }
    graft.operators.Bm25.search(idx, Seq("vector", "merge", "stream"), k = 20)
      .withColumnRenamed("id", "doc_id")
  }

  /** Count-Min token-frequency sketch over the corpus, oracle-gated
    * via the q34 tolerance-verdict pattern: the sketch estimate for
    * each probe term must be >= the exact count (count-min never
    * underestimates) and within the 10*N/width collision bound; the
    * emitted rows are the exact counts the DuckDB oracle recomputes,
    * plus the asserted `cm_ok` verdict — the engine-specific
    * estimates never reach the cross-engine hash.
    */
  private def countminTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val CM = graft.functions.CountMinSketch
    val terms = Seq("vector", "merge", "stream", "the", "data")
    val toks = Tables(s, dir, "documents")
      .select(explode(TF.tokens(col("text"))).as("term"))
    val sk = toks.agg(
      CM.sketch(col("term")).as("sk"),
      count(lit(1)).as("n"))
    val exact = toks.filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("exact_n"))
    val bound = ceil(lit(10.0) * col("n") / lit(CM.DefaultWidth))
    terms.toDF("term")
      .join(exact, Seq("term"), "left")
      .na.fill(0L, Seq("exact_n"))
      .crossJoin(broadcast(sk))
      .select(
        col("term"),
        col("exact_n"),
        (CM.estimate(col("sk"), col("term")) >= col("exact_n") &&
          CM.estimate(col("sk"), col("term")) <= col("exact_n") + bound).as("cm_ok"))
      .orderBy(col("term"))
  }

  /** Documents wrapped in deterministic boilerplate chrome — a
    * per-source header line and one of two footer variants — giving
    * the line-level dedup pass guaranteed frequent lines at every
    * scale factor (same fixture philosophy as [[docsWithNearDups]]:
    * the raw corpus has no newlines, so the operator's work is
    * synthesized in-plan and the oracle replays the synthesis).
    */
  private def docsWithBoilerplate(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      col("doc_id"),
      concat_ws("\n",
        concat(lit("=== "), col("source"), lit(" header ===")),
        col("text"),
        when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
          .otherwise(concat(lit("contact us at "), col("source"), lit(".example"))))
        .as("text"))

  /** Line-frequency statistics over the boilerplate fixture: the
    * chrome lines dominate the distinct-document counts; body lines
    * trail at 1. Top-20 by (n_docs desc, line).
    */
  private def lineStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.LineDedup
      .lineStats(docsWithBoilerplate(s, dir))
      .select(col("line"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_occ").cast("long").as("n_occ"))
      .orderBy(col("n_docs").desc, col("line"))
      .limit(20)

  /** CCNet-style line-level boilerplate removal, fully oracle-gated:
    * lines in >= 10 distinct documents are deleted, survivors rejoin
    * in order, emptied documents survive with empty text. String line
    * keys here so DuckDB replays the join; `hashedKeys` (the operator
    * default) is the 8-byte-shuffle scale path (the `dedup_spans`
    * convention).
    */
  private def lineDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.LineDedup
      .removeFrequentLines(docsWithBoilerplate(s, dir), minDocs = 10L, hashedKeys = false)
      .orderBy(col("doc_id"))

  /** Documents wrapped in deterministic HTML chrome — three template
    * shapes by doc_id mod 3 (full page with head/style/script/nav/
    * footer; comment + entity + list; uppercase table + numeric
    * entity) — the markup fixture for [[htmlExtractQ]] /
    * [[htmlBoilerplate]] (same synthesis philosophy as
    * [[docsWithBoilerplate]]: the raw corpus is markup-free, so the
    * structure the operator must strip is built in-plan and the oracle
    * rebuilds it from the same CASE).
    */
  private def htmlDocs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    Tables(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><style>body { color: #333; }</style>" +
          "<script type=\"text/javascript\">var n = "), id,
        lit(" < 99;</script></head><body>" +
          "<div id=\"nav\">Home | About | <a href=\"/contact\">Contact</a></div>" +
          "<h1>Doc "), id, lit("</h1><p>"), col("text"),
        lit("</p><div class=\"footer\">Copyright &amp; Co 2026</div></body></html>")))
        .when(col("doc_id") % 3 === 1, concat(
          lit("<div><p>intro&nbsp;one</p><!-- template <p>never shown</p> --><p>"),
          col("text"),
          lit("</p><ul><li><a href=\"https://example.com/a?x=1\">alpha item</a></li>" +
            "<li>beta &lt;tag&gt;</li></ul><img src=\"https://cdn.example.com/i.png\">" +
            "<p>Privacy Policy</p></div>")))
        .otherwise(concat(
          lit("<TABLE><TR><td>k"), id, lit("</td><td>"), col("text"),
          lit("</td></TR></TABLE><br/>tail &#39;quoted&#39; end.")))
        .as("html"))
  }

  /** HTML→text extraction over the [[htmlDocs]] fixture: comments,
    * script/style payloads, and tags stripped; block tags become line
    * breaks; the fixed entity set decodes; whitespace assembles — one
    * codegen'd projection ([[graft.operators.HtmlExtract]]), and the
    * oracle replays the IDENTICAL step list (its SQL is generated from
    * the same constants), so the whole pipeline hash-gates.
    */
  private def htmlExtractQ(s: SparkSession, dir: String): DataFrame =
    htmlDocs(s, dir)
      .select(col("doc_id"),
        graft.operators.HtmlExtract.extract(col("html")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy(col("doc_id"))

  /** Boilerplate-line removal over the EXTRACTED fixture: template
    * chrome (nav/footer/keyword lines, short no-punctuation
    * fragments, lines repeated across >= 5 documents) drops; body
    * sentences survive and rejoin in order. Integer/boolean features
    * only — the verdict replays exactly in SQL.
    */
  private def htmlBoilerplate(s: SparkSession, dir: String): DataFrame =
    graft.operators.HtmlExtract
      .removeBoilerplate(
        htmlDocs(s, dir).select(col("doc_id"),
          graft.operators.HtmlExtract.extract(col("html")).as("text")),
        "doc_id", "text", minDocs = 5L)
      .orderBy(col("doc_id"))

  /** Link harvest over the [[htmlDocs]] fixture: every href/src target
    * in document order with its registrable host ('' for relative
    * links) — the link-graph construction step upstream of PageRank
    * domain weighting. One codegen'd regexp_extract_all per attribute;
    * the oracle replays the same patterns (RE2 == java.util.regex on
    * this syntax) and the positional unnest.
    */
  private def htmlLinks(s: SparkSession, dir: String): DataFrame =
    graft.operators.HtmlExtract
      .links(htmlDocs(s, dir), "doc_id", "html")
      .select(col("doc_id"), col("link_no").cast("long").as("link_no"),
        col("url"), col("host"))
      .orderBy(col("doc_id"), col("link_no"))

  /** Per-language distinct (doc, token) cardinality: exact
    * `count(distinct ...)` (SQL-replayable) plus an in-plan
    * HyperLogLog relative-error verdict (the q34/countmin tolerance
    * pattern — the registers themselves are xxhash64-derived and
    * never reach the cross-engine hash). p=10 -> 1 KB of state and
    * ~3.3% standard error per group; the 15% gate is ~4.6 sigma.
    * HllSketchSpec proves the structural properties (order/partition
    * invariance, union-of-groups == whole-corpus, linear-counting
    * exactness at tiny cardinality) that make the sketch trustworthy
    * at the scales where the exact count is the thing you CAN'T have.
    */
  private def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val HLL = graft.functions.HyperLogLog
    val pairs = Tables(s, dir, "documents")
      .select(col("lang"), col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
      .select(col("lang"),
        concat(col("doc_id").cast("string"), lit(":"), col("term")).as("pair"))
    pairs
      .groupBy(col("lang"))
      .agg(
        HLL.sketch(col("pair")).as("sk"),
        countDistinct(col("pair")).as("exact_distinct"))
      .select(
        col("lang"),
        col("exact_distinct").cast("long").as("exact_distinct"),
        (abs(HLL.estimate(col("sk")) / col("exact_distinct").cast("double") - lit(1.0))
          <= lit(0.15)).as("hll_ok"))
      .orderBy(col("lang"))
  }

  /** Expected decoded means for the synthetic media table, recomputed
    * from the raw document text bytes with the generator's formulas —
    * mean Rec.601 luminance for image rows, RMS amplitude for audio
    * rows, null for video (no codec). Deliberately does NOT call
    * [[graft.multimodal.Codecs]]: this is the independent side of the
    * decode-fidelity verdict in [[multimodalFeatures]].
    */
  private def expectedDecodedMeans(
      s: SparkSession,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (docId, text) =>
        val bytes = text.getBytes("UTF-8")
        val expected: Option[Double] = (docId % 3).toInt match {
          case 0 => // image: pixels (b, b*31%256, b*7%256) from text bytes
            val w = math.max(math.min((docId % 640 + 16).toInt, 32), 1)
            val h = math.max(math.min((docId % 480 + 16).toInt, 32), 1)
            var sum = 0.0
            var i = 0
            while (i < w * h) {
              // empty text -> all-zero pixels, mirroring the generator
              val b = if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff
              sum += 0.299 * b + 0.587 * (b * 31 % 256) + 0.114 * (b * 7 % 256)
              i += 1
            }
            Some(sum / (w * h) / 255.0)
          case 1 => // audio: samples (b-128)*256 + (i%7)*100 from text bytes
            val n = math.min(bytes.length * 4, 2048)
            if (n == 0) Some(0.0) // empty text -> zero samples; rms() guards to 0.0
            else {
              var sum = 0.0
              var i = 0
              while (i < n) {
                val b = bytes(i % bytes.length) & 0xff
                val smp = ((b - 128) * 256 + (i % 7) * 100).toShort.toDouble
                sum += smp * smp
                i += 1
              }
              Some(math.sqrt(sum / n) / 32768.0)
            }
          case _ => None // video: opaque bytes, no codec, decode emits null
        }
        (docId, expected)
    }.toDF("media_id", "expected_mean")
  }

  /** Full wire->decode batch path as a query: events rows are
    * Avro-encoded + Confluent-framed on executors, then go through
    * envelope extraction, FAILFAST decode, and W1 dedup — the batch
    * form of the streaming pipeline. Oracle-gated: the Avro round trip
    * is identity on values, so the oracle is plain latest-per-key over
    * events with the `__deleted` (event_type='error') filter.
    */
  private val eventsCdcSchema: String =
    """{"type":"record","name":"events_cdc","fields":[
      |{"name":"user_id","type":"long"},
      |{"name":"event_id","type":"long"},
      |{"name":"event_type","type":["null","string"],"default":null},
      |{"name":"value","type":"double"},
      |{"name":"__deleted","type":["null","string"],"default":null},
      |{"name":"__log_sequence_number","type":"long"}
      |]}""".stripMargin

  private def cdcWireDecode(s: SparkSession, dir: String): DataFrame = {
    // Encode in-plan with the native AvroEncode expression (struct field
    // order matches the Avro schema), then frame and decode back — the
    // whole round trip stays inside one distributed plan.
    val framed = Tables(s, dir, "events")
      .repartition(s.sparkContext.defaultParallelism) // single-file input
      .select(
        ConfluentWire.frame(
          7,
          AvroEncode.toAvroColumn(
            struct(
              col("user_id"),
              col("event_id"),
              col("event_type"),
              col("value"),
              when(col("event_type") === "error", lit("true")).otherwise(lit("false"))
                .as("__deleted"),
              col("event_id").as("__log_sequence_number")),
            eventsCdcSchema)).as("value"))
    val decoded = framed
      .select(
        ConfluentWire.schemaId(col("value")).as("schema_id"),
        AvroDecode.fromAvro(ConfluentWire.avroPayload(col("value")), eventsCdcSchema).as("v"))
      .select(col("schema_id"), col("v.*"))
    CdcDedup
      .latestPerKey(decoded, Seq("user_id"), "__log_sequence_number")
      .filter(col("__deleted") =!= "true")
      .select(col("user_id"), col("event_id"), col("event_type"), round(col("value"), 2).as("value"))
      .orderBy(col("user_id"))
  }

  /** TPC-H Q5 shape: 5-way join through the region hierarchy, revenue
    * per nation for one region-year.
    */
  private def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val l = Tables(s, dir, "lineitem")
    val sup = Tables(s, dir, "supplier")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region").filter(col("r_name") === "EUROPE")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      // explicit date range, not year(col) === 1996: a function-over-
      // column predicate survives Catalyst pushdown but defeats parquet
      // row-group min/max pruning — the range prunes whole row groups
      // at the scan, which is the difference between reading one year
      // and reading every row group at 100 TB
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-01-01").cast("date"))
      .groupBy(col("n_name"))
      // per-row product cast to decimal BEFORE summing: decimal sums are
      // exact and order-independent, so the rounded result can never
      // straddle a half-up boundary differently than the oracle's
      .agg(round(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q14 shape: promo revenue share per month. */
  private def promoShare(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
    val p = Tables(s, dir, "part")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(round(
        sum(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .otherwise(0.0)) * 100.0 /
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 3).as("promo_pct"))
      .orderBy(col("month"))
  }

  /** TPC-H Q19 shape: disjunctive multi-attribute predicates. */
  private def disjunctivePredicates(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
    val p = Tables(s, dir, "part")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) && col("l_quantity") >= 10) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) && col("l_quantity") < 10) ||
        (col("p_type") === "ECONOMY" && col("l_discount") > 0.07))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** ntile bucketing: totalprice quartile within each order status. */
  private def ntileQuartiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(s, dir, "orders")
      .filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy(col("o_orderkey"))
  }

  /** Statistical aggregates: sample stddev/variance + correlation. */
  private def statsAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_discount")), 6).as("var_disc"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Batch sessionization with a 30-minute inactivity gap: lag flags
    * session starts, running sum numbers them, then per-session stats.
    */
  private def sessionizeBatch(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionization
      .sessionStats(
        Tables(s, dir, "events").filter(col("user_id") <= 30),
        Seq("user_id"),
        unix_timestamp(col("ts")).cast("long"),
        gapSeconds = 1800L)
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("duration_s"), col("start_s"))
      .orderBy(col("user_id"), col("session_id"))

  /** Calendar densification (gap-fill): every month in the data range
    * joined against per-month order counts — months with no orders
    * appear with zeros. sequence+explode on the probe side.
    */
  private def gapFillMonths(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .filter(col("o_custkey") <= 5) // sparse slice so gaps exist
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
    val bounds = Tables(s, dir, "orders")
      .agg(
        date_trunc("month", min(col("o_orderdate"))).as("lo"),
        date_trunc("month", max(col("o_orderdate"))).as("hi"))
    val months = bounds
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 month"))).as("month"))
    months
      .join(o, Seq("month"), "left_outer")
      .select(
        date_format(col("month"), "yyyy-MM").as("month"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("total"), lit(0.0)).as("total"))
      .orderBy(col("month"))
  }

  /** Date arithmetic: day diffs, month adds, truncation. */
  private def dateArithmetic(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .filter(col("o_orderkey") <= 1000)
      .select(
        col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
        date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd").as("quarter_start"))
      .orderBy(col("o_orderkey"))

  /** Generator/explode: top-5 tokens per language (explode -> agg ->
    * ranked window).
    */
  private def explodeTopWords(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables(s, dir, "documents")
      .select(col("lang"), explode(TF.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("tok"))
    counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy(col("lang"), col("rk"))
  }

  /** JSON extraction from a string column (get_json_object / from_json
    * path) + aggregation.
    */
  private def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("k")), 3).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Custom TypedImperativeAggregate: deterministic bottom-k-by-hash
    * sample per language, oracle-gated via the portable md5 rank: the
    * aggregate's bounded O(k) mergeable buffer must select exactly the
    * rows DuckDB's `row_number() OVER (ORDER BY md5-rank) <= k`
    * selects. (Equivalence of the default xxhash64 rank to the window
    * sampler is separately asserted in DeterministicSampleSpec.)
    */
  private def sampleSketch(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(graft.functions.DeterministicSample(col("doc_id"), 5, portableRank = true).as("sample"))
      .select(col("lang"), explode(col("sample")).as("doc_id"))
      .orderBy(col("lang"), col("doc_id"))

  /** The operators composed as a real training-data pipeline:
    * quality gate -> language gate -> exact dedup -> deterministic
    * per-source sampling -> corpus stats. One declarative plan,
    * oracle-gated end-to-end (md5 sampling hash, q32 pattern).
    */
  private def pipelineTrainingData(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val gated = docs
      .withColumn("q", TF.qualityScore(col("text")))
      .withColumn("n_tokens", TF.tokenCount(col("text")))
      .filter(col("q") >= 0.3 && col("n_tokens") >= 10)
      .withColumn("pred_lang", TF.langId(col("text")))
      .filter(col("pred_lang") === "en")
    val deduped = CdcDedup.latestPerKey(
      gated.withColumn("fp", TF.fingerprint(col("text"))),
      Seq("fp"), Seq(col("doc_id").asc))
    val sampled = graft.operators.Sampling
      .samplePerGroup(deduped, Seq("source"), Seq("doc_id"), k = 10,
        hash = Some(md5(col("doc_id").cast("string"))))
    sampled
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        // decimal-accumulated mean: double summation order differs across
        // engines/partitionings, so sum exactly in decimal, then do ONE
        // double division — the rounded value can never straddle a
        // half-up boundary differently than the oracle (q41 pattern)
        round(sum(col("q").cast("decimal(18,6)")).cast("double") / count(lit(1)), 4)
          .as("avg_quality"))
      .orderBy(col("source"))
  }

  /** End-to-end composition of the round-9 cleaning tier, BIT-EXACT
    * oracle-gated: boilerplate-line removal -> Aho-Corasick blocklist
    * gate -> token-entropy floor -> deterministic weighted sample.
    * Every stage is individually gated; this query proves they
    * COMPOSE — the ordering a real pipeline uses (clean before
    * measuring, measure before filtering, filter before sampling),
    * with the sample keys drawn over the cleaned corpus.
    */
  private def pipelineCleanSample(s: SparkSession, dir: String): DataFrame = {
    val cleaned = graft.operators.LineDedup
      .removeFrequentLines(docsWithBoilerplate(s, dir), minDocs = 10L, hashedKeys = false)
    val unblocked = cleaned
      .withColumn("m",
        graft.functions.MultiPatternCount(
          lower(col("text")), Seq("fast table", "merge batch")))
      .filter(col("m.hits") === 0L)
      .select(col("doc_id"), col("text"), col("kept_lines"))
    val entropy = graft.operators.Lexicon
      .tokenEntropy(unblocked.select(col("doc_id"), col("text")), "doc_id", "text")
    val gated = unblocked.select(col("doc_id"), col("kept_lines"))
      .join(entropy, "doc_id")
      .filter(col("entropy_micro") >= 2000000L)
    graft.operators.Sampling
      .weightedSample(gated, "doc_id", col("n_tokens"), k = 20)
      .select(col("doc_id"), col("kept_lines"), col("n_tokens"),
        col("entropy_micro"), col("__wkey").as("key_micro"))
  }

  /** SCD Type-2 history over the events change log (user_id = entity
    * key, event_id = version, `error` events = tombstones): every
    * surviving version with its validity interval and currency flag.
    * One key-shuffle + linear lead pass — see [[graft.operators.Scd2]].
    */
  private def scd2History(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scd2
      .history(
        Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"), col("value")),
        Seq("user_id"), "event_id",
        deletedWhen = Some(col("event_type") === "error"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from"))

  /** Point-in-time (time-travel) read of the SCD2 history at the
    * mid-log version: the row in effect per live user — users whose
    * latest change at that point was a tombstone are absent. A
    * stateless filter over the history (no recompute from the log).
    */
  private def scd2Asof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    // bounded collect: one max() row fixes the snapshot version
    val ver = ev.agg(max(col("event_id"))).first().getLong(0) / 2
    graft.operators.Scd2
      .snapshotAsOf(
        graft.operators.Scd2.history(ev, Seq("user_id"), "event_id",
          deletedWhen = Some(col("event_type") === "error")),
        lit(ver))
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy(col("user_id"))
  }

  /** Stupid-backoff trigram scoring (Brants et al. 2007) of the 2%
    * held-out slice against counts from the other 98% — the
    * unnormalized web-scale sibling of `text_perplexity`; per-doc
    * order mix (n_tri/n_big/n_uni) shows how much context the model
    * actually had. Micro-nat floor quantization makes the doc sums
    * exact — see [[graft.operators.BackoffLm]].
    */
  private def textBackoffScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val model = SessionScopedCache.getOrElseUpdate(s, "backoff-lm:" + dir)(
      graft.operators.BackoffLm.train(docs.filter(col("doc_id") % 50 =!= 7), "doc_id", "text"))
    graft.operators.BackoffLm
      .score(docs.filter(col("doc_id") % 50 === 7), model, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_tri"),
        col("n_big"), col("n_uni"), col("avg_logs"))
      .orderBy(col("doc_id"))
  }

  /** The stateless-projection twin of [[textBackoffScore]]
    * ([[graft.operators.BackoffLm.scoreInline]] — collected counts
    * ride the task closure via the codegen'd BackoffLmScore
    * expression; the form that gates an unaggregated document
    * STREAM). Same oracle as the join form: bit-identical by
    * construction and by differential spec (StreamBackoffSpec).
    */
  private def textBackoffInline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val model = SessionScopedCache.getOrElseUpdate(s, "backoff-lm:" + dir)(
      graft.operators.BackoffLm.train(docs.filter(col("doc_id") % 50 =!= 7), "doc_id", "text"))
    // 4M-row ceiling: the sf0.1 corpus sits under it; past that the
    // join form is the right shape anyway
    val collected = graft.operators.BackoffLm.collectModel(model, maxRows = 4000000L)
    graft.operators.BackoffLm
      .scoreInline(docs.filter(col("doc_id") % 50 === 7), collected, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_tri"),
        col("n_big"), col("n_uni"), col("avg_logs"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide hard-negative mining for queries vec_id 0..2: the
    * top-10 most-cosine-similar vectors of a DIFFERENT label per
    * query. Ranking runs on the decimal-exact cosine (ties by id),
    * rounding only at the output boundary, so the oracle replays the
    * ranking bit-for-bit — see
    * [[graft.operators.SimilaritySearch.hardNegatives]].
    */
  private def hardNegativesQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.SimilaritySearch
      .hardNegatives(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", "label",
        k = 10, cosineFn = VF.cosineDecimal)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neg_id"), col("neg_label"),
        (round(col("cos"), 3) + lit(0.0)).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Time-RANGE window frames: per user, the rolling 1-hour event
    * count and value sum (`RANGE BETWEEN 3600 PRECEDING AND CURRENT
    * ROW` over epoch seconds — peers at the same second all included,
    * the frame semantics ROWS frames can't express). Value sums ride
    * the micro-grid so the rolling sums replay exactly.
    */
  private def timeRangeWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .filter(col("user_id") <= 20)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).cast("long").as("ts_s"),
        floor(col("value") * 1e6).cast("long").as("vmicro"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
      .rangeBetween(-3600L, Window.currentRow)
    ev.select(col("user_id"), col("event_id"), col("ts_s"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(col("vmicro")).over(w).cast("double") / lit(1e6), 4).as("sum_1h"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Per-type value anomalies: events beyond 2.5 population sigmas of
    * their type, decided by the EXACT cross-multiplied inequality on
    * milli-grid integers (no float sigma anywhere) — the same rows
    * flag on any engine. See [[graft.operators.Outliers]].
    */
  private def eventOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Outliers
      .zScoreOutliers(
        Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
        Seq("event_type"), col("value"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("vmilli"))
      .orderBy(col("event_id"))

  /** Pivot: per-user event counts spread into one column per type.
    * The pivot values are EXPLICIT (no driver-side distinct scan to
    * discover them — the form that scales), so the plan is one
    * groupBy with five conditional counts.
    */
  private def pivotEventCounts(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Native session windows (`session_window`, 30-minute gap) over
    * second-truncated event times — the built-in operator form of the
    * q39 lag-flag sessionization; the truncation pins the gap
    * boundary to whole seconds so the merge decisions replay exactly
    * (merge iff gap < 1800 s — note the STRICT inequality, the
    * session_window contract).
    */
  private def sessionWindowNative(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .filter(col("user_id") <= 30)
      .select(col("user_id"),
        timestamp_seconds(unix_timestamp(col("ts"))).as("tss"))
      .groupBy(session_window(col("tss"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).cast("long").as("start_s"),
        (unix_timestamp(col("session_window.end")).cast("long")
          - unix_timestamp(col("session_window.start")).cast("long") - lit(1800L))
          .as("span_s"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_s"))

  /** Ordered funnel: users who viewed, then clicked strictly after
    * their first view, then purchased strictly after that first
    * qualifying click. Three stage frames, each a filter + min-agg +
    * key join of the previous — counts per stage.
    */
  private def funnelConversion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).cast("long").as("ts_s"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts_s") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts_s") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("t3"))
    Seq("1_view" -> v, "2_click_after_view" -> c, "3_purchase_after_click" -> p)
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
      }
      .reduce(_.unionByName(_))
      .orderBy(col("stage"))
  }

  /** Daily cohort retention: users grouped by first-active day, the
    * (cohort_day, day_offset) activity matrix counted over distinct
    * user-days. Two shuffles (per-user min, matrix count) regardless
    * of corpus size.
    */
  private def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), unix_timestamp(col("ts")).cast("long").as("ts_s"))
      .select(col("user_id"), expr("ts_s div 86400").as("day"))
      .distinct()
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Winsorized value sums per event type: clip at the DISCRETE
    * 5th/95th percentile (the value at rank ceil(q·n) — no
    * interpolation, so the bound is an actual data point and the
    * whole computation is integer-exact on the milli-grid; the
    * interpolated form would hinge on cross-engine ulp agreement).
    */
  private def valueWinsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 1e3).cast("long").as("vmilli"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("vmilli"), col("event_id"))
    val ranked = ev
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val bounds = ranked.groupBy(col("event_type"), col("n"))
      .agg(
        max(when(col("rn") === greatest(lit(1L), ceil(col("n") * 0.05)), col("vmilli")))
          .as("lo_milli"),
        max(when(col("rn") === ceil(col("n") * 0.95), col("vmilli"))).as("hi_milli"))
    ev.join(bounds, "event_type")
      .groupBy(col("event_type"), col("n"), col("lo_milli"), col("hi_milli"))
      .agg(
        sum(when(col("vmilli") < col("lo_milli"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("vmilli") > col("hi_milli"), 1L).otherwise(0L)).as("n_high"),
        round(sum(least(greatest(col("vmilli"), col("lo_milli")), col("hi_milli")))
          .cast("double") / lit(1e3), 3).as("sum_clipped"))
      .orderBy(col("event_type"))
  }

  /** Pairwise cosine between the per-label mean embeddings — the
    * domain-similarity map mixture design reads. Exact decimal
    * coordinate sums (the 1/n factors cancel in the cosine), one
    * corpus scan — see
    * [[graft.operators.SimilaritySearch.groupCentroidSimilarity]].
    */
  private def labelCentroidSimilarity(s: SparkSession, dir: String): DataFrame =
    graft.operators.SimilaritySearch
      .groupCentroidSimilarity(Tables(s, dir, "embeddings"), "label", "embedding")
      .select(col("group_a"), col("group_b"),
        (round(col("cos"), 4) + lit(0.0)).as("cos"))
      .orderBy(col("group_a"), col("group_b"))

  /** Bloom-pre-filtered semi-join: lineitem against the high-value
    * order subset, with the big side filtered by a broadcast bloom of
    * the selected order keys BEFORE the join shuffle (the runtime-
    * row-filter pattern, deterministic and always-on). The in-plan
    * `join_ok` verdict proves the bloom path returns EXACTLY the
    * plain semi-join's rows — see [[graft.operators.BloomJoin]].
    */
  private def bloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders").filter(col("o_totalprice") > 480000.0)
    val bloomed = graft.operators.BloomJoin.semiJoin(l, "l_orderkey", o, "o_orderkey")
    val plainN = l
      .join(o.select("o_orderkey").distinct(), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("__np"))
    val bloomN = bloomed.agg(count(lit(1)).as("__nb"))
    bloomed
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .crossJoin(broadcast(bloomN))
      .crossJoin(broadcast(plainN))
      .select(col("l_returnflag"), col("n_items"), col("sum_qty"),
        (col("__nb") === col("__np")).as("join_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Character-level near-dup pairs on the planted corpus: sorted-
    * neighborhood blocking + thresholded-Levenshtein verify (the
    * planted tails are 20-char insertions, inside maxDist 24). The
    * band-limited `levenshtein(a, b, threshold)` and the length
    * pre-filter are what keep the verify O(n·maxDist) — see
    * [[graft.operators.SortedNeighborhood.nearDupPairsByEdit]].
    */
  private def dedupEditDistance(s: SparkSession, dir: String): DataFrame =
    graft.operators.SortedNeighborhood
      .nearDupPairsByEdit(docsWithNearDups(s, dir), "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))

  /** Incremental exact-aggregate store, gated THROUGH the saved
    * layout: the even-event half is aggregated per (user, type) and
    * persisted, the odd half absorbed at O(increment) (only touched
    * partitions read or written), and the read-back table must equal a
    * full-corpus rebuild element for element (in-plan `absorb_ok`
    * verdict via full-outer join — missing or extra groups surface as
    * nulls, not silent passes). Monoid folds make the equality exact —
    * see [[graft.operators.AggStore]].
    */
  private def aggStoreAbsorb(s: SparkSession, dir: String): DataFrame = {
    val A = graft.operators.AggStore
    val keys = Seq("user_id", "event_type")
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    val path = scratchDir("graft-agg-store")
    // the base group table is fixture prep (the store the increment
    // arrives AT) — a pure aggregation, staged once; the measured
    // lifecycle is save -> absorb -> load -> audit, in full every rep
    val baseGroups = SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#agg-store-base") {
      graft.util.Staged.settle(
        A.build(ev.filter(col("event_id") % 2 === 0), keys, col("value")))
    }
    // 16 buckets: the 750-group fixture table needs directory COUNT
    // for the pruning proof, not directory SIZE — the commit protocol
    // cost per dir x 3 writes is the gate's whole budget
    A.save(baseGroups, keys, path, prefixBuckets = 16)
    A.absorbIntoSaved(s, path, ev.filter(col("event_id") % 2 =!= 0), col("value"))
    val loaded = A.load(s, path).groups.drop("__kp")
    val rebuilt = A.build(ev, keys, col("value"))
      .withColumnsRenamed(Map("cnt" -> "__c", "sum_micro" -> "__s",
        "min_micro" -> "__mn", "max_micro" -> "__mx"))
    loaded.join(rebuilt, keys, "full_outer")
      .select(
        col("user_id"), col("event_type"),
        coalesce(col("cnt"), lit(-1L)).as("cnt"),
        round(col("sum_micro").cast("double") / lit(A.ValueScale), 4).as("sum_value"),
        round(col("min_micro").cast("double") / lit(A.ValueScale), 4).as("min_value"),
        round(col("max_micro").cast("double") / lit(A.ValueScale), 4).as("max_value"),
        (col("cnt") === col("__c") && col("sum_micro") === col("__s") &&
          col("min_micro") === col("__mn") && col("max_micro") === col("__mx"))
          .as("absorb_ok"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Mergeable log-bucket quantile sketch ([[graft.operators
    * .QuantileSketch]]) over order totals (in exact floored cents) per
    * priority: p50/p95/p99 ESTIMATES from the sketch, exact type-1
    * order statistics beside them, and two in-plan verdicts — the
    * proven containment bound `est <= exact <= est + (est >> m)` for
    * every cell, and merge==rebuild (the two half-corpus sketches
    * merged answer every quantile identically to the one-shot build).
    * The whole scheme is integer bit-twiddling, so DuckDB replays
    * estimates, exacts, and verdicts bit-for-bit.
    */
  private def sketchQuantiles(s: SparkSession, dir: String): DataFrame = {
    val Q = graft.operators.QuantileSketch
    val vals = sketchQuantileValues(s, dir)
    val m = 7
    val sk = Q.build(vals, Seq("prio"), col("cents"), m)
    // merge lifecycle, proven in-plan: half sketches merged == rebuild
    val merged = Q.merge(
      Q.build(vals.filter(col("cents") % 2 === 0), Seq("prio"), col("cents"), m),
      Q.build(vals.filter(col("cents") % 2 =!= 0), Seq("prio"), col("cents"), m),
      Seq("prio"))
    sketchQuantileGate(vals, sk, merged, m)
  }

  /** Persisted round trip of [[sketchQuantiles]]: the even-cents half
    * is saved prefix-partitioned, the odd half absorbed into the saved
    * layout (directory-pruned, [[graft.operators.QuantileSketch
    * .absorbIntoSaved]]), and the LOADED store answers the quantiles —
    * `merge_ok` here proves absorb==rebuild in-plan (loaded-store
    * estimates vs one-shot build estimates). Shares the live gate's
    * oracle verbatim: persistence must be invisible to results.
    */
  private def sketchQuantilesPersisted(s: SparkSession, dir: String): DataFrame = {
    val Q = graft.operators.QuantileSketch
    val vals = sketchQuantileValues(s, dir)
    val m = 7
    val path = scratchDir("graft-qsk-store")
    Q.save(Q.build(vals.filter(col("cents") % 2 === 0), Seq("prio"), col("cents"), m),
      Seq("prio"), m, path, prefixBuckets = 8)
    Q.absorbIntoSaved(s, path, vals.filter(col("cents") % 2 =!= 0), col("cents"))
    val loaded = Q.load(s, path).sketch.drop("__kp")
    sketchQuantileGate(vals, loaded, Q.build(vals, Seq("prio"), col("cents"), m), m)
  }

  private def sketchQuantileValues(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))

  /** Shared tail of the quantile-sketch gates: estimates from `sk`,
    * estimates from the alternate sketch `skAlt` (merge/absorb
    * counterpart — equality is the `merge_ok` verdict), exact type-1
    * order statistics, and the containment-bound verdict.
    */
  private def sketchQuantileGate(
      vals: DataFrame, sk: DataFrame, skAlt: DataFrame, m: Int): DataFrame = {
    val Q = graft.operators.QuantileSketch
    val qs = Seq(("p50", 1, 2), ("p95", 19, 20), ("p99", 99, 100))
    def estNames(suffix: String) = qs.map { case (n, a, b) => (n + suffix, a, b) }
    val est = Q.quantiles(sk, Seq("prio"), estNames("_est"))
    val estM = Q.quantiles(skAlt, Seq("prio"), estNames("_m"))
    val exact = vals
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("prio")).orderBy(col("cents"))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("prio"))))
      .groupBy(col("prio"))
      .agg(
        min(when(col("__r") * 2 >= col("__n"), col("cents"))).as("p50_ex"),
        min(when(col("__r") * 20 >= col("__n") * 19, col("cents"))).as("p95_ex"),
        min(when(col("__r") * 100 >= col("__n") * 99, col("cents"))).as("p99_ex"))
    est.join(estM, Seq("prio")).join(exact, Seq("prio"))
      .select(col("prio") +: (
        qs.map { case (n, _, _) => col(n + "_est") } ++
        qs.map { case (n, _, _) => col(n + "_ex") } :+
        qs.map { case (n, _, _) =>
          Q.errorBoundOk(col(n + "_est"), col(n + "_ex"), m) }
          .reduce(_ && _).as("bounds_ok") :+
        qs.map { case (n, _, _) => col(n + "_est") === col(n + "_m") }
          .reduce(_ && _).as("merge_ok")): _*)
      .orderBy(col("prio"))
  }

  /** Token-balanced shard plan over the documents corpus
    * ([[graft.operators.Packing.shardPlan]] — two-level prefix sum in
    * md5-bucketed canonical order, no global single-task sort):
    * per-shard doc/token totals plus the provable balance verdict —
    * every shard except the last carries `budget ± (maxDocTokens - 1)`
    * tokens. Bit-exact oracle-gated: md5 buckets, the running sum, the
    * shard division, and the verdict all replay in SQL.
    */
  private def shardPlanQ(s: SparkSession, dir: String): DataFrame = {
    val budget = 4000L
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), TF.tokenCount(col("text")).as("toks"))
    val md5Bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 16L
    val plan = graft.operators.Packing
      .shardPlan(docs, "doc_id", col("toks"), budgetTokens = budget,
        orderBuckets = 16, bucketOf = Some(md5Bucket))
    val perShard = plan.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .persist()
    // bounded driver scalars (the sketch-gate convention): max doc
    // length and last shard id feed the balance bound
    val maxDoc = docs.agg(max(col("toks"))).head().getLong(0)
    val rows = perShard.collect() // bounded: corpusTokens / budget rows
    val last = rows.map(_.getLong(0)).max
    val ok = rows.forall { r =>
      r.getLong(0) == last ||
        (r.getLong(2) >= budget - maxDoc + 1 && r.getLong(2) <= budget + maxDoc - 1)
    }
    perShard
      .select(col("shard"), col("n_docs"), col("tokens"),
        lit(ok).as("balance_ok"))
      .orderBy(col("shard"))
  }

  // =====================================================================

  /** One entry per implemented operator from SURVEY.md §2 + extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (pricingSummary _),
    "q02_filter_pushdown" -> (filterPushdown _),
    "q03_segment_top_orders" -> (segmentTopOrders _),
    "q04_nation_revenue" -> (nationRevenue _),
    "q05_window_dedup" -> (windowDedup _),
    "q06_distinct_event_types" -> (distinctEventTypes _),
    "q07_cdc_merge" -> (cdcMerge _),
    "cdc_schema_evolution" -> (cdcSchemaEvolution _),
    "q08_year_month_partitions" -> (yearMonthPartitions _),
    "q09_zoned_timestamp_cast" -> (zonedTimestampCast _),
    "q10_topk_orders" -> (topkOrders _),
    "q11_groupby_having" -> (groupbyHaving _),
    "q12_count_distinct" -> (countDistinct_ _),
    "q13_conditional_agg" -> (conditionalAgg _),
    "q14_intersect" -> (intersectIds _),
    "q15_except" -> (exceptIds _),
    "q16_semi_join" -> (semiJoin _),
    "q17_anti_join" -> (antiJoin _),
    "q18_above_avg_parts" -> (aboveAvgParts _),
    "q19_rank_per_nation" -> (rankPerNation _),
    "q20_rollup" -> (rollupOrders _),
    "q21_union_counts" -> (unionCounts _),
    "q22_asof_join" -> (asofClickPurchase _),
    "q45_asof_physical" -> (asofPhysical _),
    "q46_range_join" -> (rangeJoinBands _),
    "q47_interval_overlap" -> (overlapCustBands _),
    "q23_running_sum" -> (runningRevenue _),
    "q24_lag_delta" -> (lagDelta _),
    "q25_cube" -> (cubeOrders _),
    "q26_full_outer" -> (fullOuterActivity _),
    "q27_in_subquery" -> (inSubquery _),
    "q28_percentiles" -> (percentiles _),
    "q29_string_funcs" -> (stringFuncs _),
    "q30_salted_agg" -> (saltedAgg _),
    "q31_window_dedup_agg" -> (windowDedupAgg _),
    "q32_sample_per_group" -> (samplePerGroup _),
    "q33_hash_rate_sample" -> (hashRateSample _),
    "mixture_sample" -> (mixtureSample _),
    "pack_sequences" -> (packSequences _),
    "shard_plan" -> (shardPlanQ _),
    "q34_approx_distinct" -> (approxDistinct _),
    "q35_json_extract" -> (jsonExtract _),
    "q36_explode_top_words" -> (explodeTopWords _),
    "q37_gap_fill_months" -> (gapFillMonths _),
    "q39_sessionize_batch" -> (sessionizeBatch _),
    "q40_stats_agg" -> (statsAgg _),
    "q41_region_revenue" -> (regionRevenue _),
    "q42_promo_share" -> (promoShare _),
    "q43_disjunctive" -> (disjunctivePredicates _),
    "q44_ntile" -> (ntileQuartiles _),
    "q38_date_arithmetic" -> (dateArithmetic _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_clusters_incremental" -> (dedupClustersIncremental _),
    "dedup_prefix_jaccard" -> (dedupPrefixJaccard _),
    "corpus_curation_pipeline" -> (corpusCurationPipeline _),
    "corpus_curation_pipeline_lossless" -> (corpusCurationPipelineLossless _),
    "corpus_curation_pipeline_minhash" -> (corpusCurationPipelineMinhash _),
    "dedup_global_ngrams" -> (dedupGlobalNgrams _),
    "dedup_simhash" -> (dedupSimhash _),
    "decontaminate" -> (decontaminate _),
    "text_quality_classifier" -> (textQualityClassifier _),
    "text_quality_trained" -> (textQualityTrained _),
    "token_budget_select" -> (tokenBudgetSelect _),
    "dedup_incremental_exact" -> (dedupIncrementalExact _),
    "dedup_incremental_minhash" -> (dedupIncrementalMinhash _),
    "dedup_incremental_minhash_persisted" -> (dedupIncrementalMinhashPersisted _),
    "corpus_diff" -> (corpusDiff _),
    "split_assign" -> (splitAssign _),
    "corpus_stats" -> (corpusStats _),
    "dedup_spans" -> (dedupSpans _),
    "suffix_array_ranks" -> (suffixArrayRanks _),
    "suffix_repeats" -> (suffixRepeats _),
    "suffix_dedup_spans" -> (suffixDedupSpans _),
    "dedup_incremental_spans" -> (dedupIncrementalSpans _),
    "dedup_incremental_spans_persisted" -> (dedupIncrementalSpansPersisted _),
    "domain_cap" -> (domainCap _),
    "text_scrub_pii" -> (textScrubPii _),
    "dedup_embedding" -> (dedupEmbedding _),
    "text_tokens" -> (textTokens _),
    "text_quality" -> (textQuality _),
    "text_perplexity" -> (textPerplexity _),
    "text_perplexity_inline" -> (textPerplexityInline _),
    "bm25_search" -> (bm25Search _),
    "corpus_drift_movers" -> (corpusDriftMovers _),
    "corpus_drift_kl" -> (corpusDriftKl _),
    "text_gopher_quality" -> (textGopherQuality _),
    "text_repetition" -> (textRepetition _),
    "vocab_coverage" -> (vocabCoverage _),
    "tfidf_top_terms" -> (tfidfTopTerms _),
    "mixture_plan" -> (mixturePlan _),
    "mixture_upsample" -> (mixtureUpsample _),
    "text_fingerprint" -> (textFingerprint _),
    "text_langid" -> (textLangid _),
    "topic_assign" -> (topicAssign _),
    "kmeans_train" -> (kmeansTrainQ _),
    "chunk_documents" -> (chunkDocuments _),
    "chunk_dedup" -> (chunkDedup _),
    "simsearch_cosine" -> (simsearchCosine _),
    "simsearch_quantized" -> (simsearchQuantized _),
    "ann_lsh_topk" -> (annLshTopk _),
    "ann_quantized_rerank" -> (annQuantizedRerank _),
    "ann_ivf_topk" -> (annIvfTopk _),
    "pq_encode" -> (pqEncode _),
    "pq_topk" -> (pqTopk _),
    "ann_ivf_fullprobe" -> (annIvfFullprobe _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_mp4_meta" -> (multimodalMp4Meta _),
    "multimodal_mkv_meta" -> (multimodalMkvMeta _),
    "compaction_plan" -> (compactionPlan _),
    "compaction_execute" -> (compactionExecute _),
    "lsh_tune" -> (lshTune _),
    "image_dedup" -> (imageDedup _),
    "video_dedup" -> (videoDedup _),
    "video_dedup_incremental" -> (videoDedupIncremental _),
    "image_dedup_incremental" -> (imageDedupIncremental _),
    "audio_dedup" -> (audioDedup _),
    "cluster_aware_split" -> (clusterAwareSplitQ _),
    "cdc_wire_decode" -> (cdcWireDecode _),
    "sample_sketch" -> (sampleSketch _),
    "pipeline_training_data" -> (pipelineTrainingData _),
    "semantic_dedup" -> (semanticDedup _),
    "semantic_dedup_persisted" -> (semanticDedupPersisted _),
    "winnow_overlap" -> (winnowOverlap _),
    "dsir_select" -> (dsirSelect _),
    "rrf_fusion" -> (rrfFusion _),
    "pq_encode_persisted" -> (pqEncodePersisted _),
    "countmin_tokens" -> (countminTokens _),
    "ann_ivfpq_topk" -> (annIvfpqTopk _),
    "ann_ivfpq_persisted" -> (annIvfpqPersisted _),
    "bpe_pair_stats" -> (bpePairStatsQ _),
    "bpe_train" -> (bpeTrainQ _),
    "bpe_segment" -> (bpeSegmentQ _),
    "ulm_train" -> (ulmTrainQ _),
    "ulm_absorb_train" -> (ulmAbsorbTrain _),
    "ulm_segment" -> (ulmSegmentQ _),
    "ulm_segment_persisted" -> (ulmSegmentPersisted _),
    "ulm_train_pruned" -> (ulmTrainPruned _),
    "wordpiece_segment" -> (wordpieceSegment _),
    "bm25_absorb_search" -> (bm25AbsorbSearch _),
    "bm25_retract_search" -> (bm25RetractSearch _),
    "chunk_search" -> (chunkSearch _),
    "countmin_heavyhitters" -> (countminHeavyHitters _),
    "ann_ivfpq_residual_topk" -> (annIvfpqResidualTopk _),
    "ann_hamming_topk" -> (annHammingTopk _),
    "hll_distinct" -> (hllDistinct _),
    "line_stats" -> (lineStats _),
    "line_dedup" -> (lineDedup _),
    "html_extract" -> (htmlExtractQ _),
    "html_boilerplate" -> (htmlBoilerplate _),
    "html_links" -> (htmlLinks _),
    "bloom_decontaminate" -> (bloomDecontaminate _),
    "page_rank" -> (pageRankQ _),
    "page_rank_personalized" -> (pageRankPersonalizedQ _),
    "hist_quantiles" -> (histQuantiles _),
    "sketch_absorb" -> (sketchAbsorb _),
    "sketch_quantiles" -> (sketchQuantiles _),
    "sketch_quantiles_persisted" -> (sketchQuantilesPersisted _),
    "dedup_sorted_neighborhood" -> (dedupSortedNeighborhood _),
    "text_normalize" -> (textNormalize _),
    "text_diversity" -> (textDiversity _),
    "length_buckets" -> (lengthBucketsQ _),
    "corpus_overlap" -> (corpusOverlap _),
    "text_blocklist" -> (textBlocklist _),
    "embed_project" -> (embedProject _),
    "text_entropy" -> (textEntropy _),
    "weighted_sample" -> (weightedSampleQ _),
    "dedup_minhash_bbit" -> (dedupMinhashBbit _),
    "pipeline_clean_sample" -> (pipelineCleanSample _),
    "scd2_history" -> (scd2History _),
    "scd2_asof" -> (scd2Asof _),
    "text_backoff_score" -> (textBackoffScore _),
    "agg_store_absorb" -> (aggStoreAbsorb _),
    "dedup_edit_distance" -> (dedupEditDistance _),
    "text_backoff_inline" -> (textBackoffInline _),
    "hard_negatives" -> (hardNegativesQ _),
    "bloom_semi_join" -> (bloomSemiJoin _),
    "q48_time_range_window" -> (timeRangeWindow _),
    "event_outliers" -> (eventOutliers _),
    "q50_pivot" -> (pivotEventCounts _),
    "q49_session_window" -> (sessionWindowNative _),
    "funnel_conversion" -> (funnelConversion _),
    "cohort_retention" -> (cohortRetention _),
    "value_winsorize" -> (valueWinsorize _),
    "label_centroid_similarity" -> (labelCentroidSimilarity _),
    "collocations_pmi" -> (collocationsPmi _),
    "zipf_slope" -> (zipfSlopeQ _),
    "dedup_containment" -> (dedupContainment _),
    "knn_graph" -> (knnGraphQ _),
    "bitext_mine" -> (bitextMineQ _),
    "bitext_mine_ann" -> (bitextMineAnnQ _),
    "knn_graph_ann" -> (knnGraphAnnQ _),
    "semantic_clusters_ann" -> (semanticClustersAnn _),
    "mmr_select" -> (mmrSelectQ _),
    "mmr_sharded" -> (mmrShardedQ _),
    "mmr_diversity_gate" -> (mmrGateQ _),
    "event_outliers_mad" -> (eventOutliersMad _),
    "phrase_search" -> (phraseSearchQ _),
    "snapshot_diff" -> (snapshotDiffQ _),
    "dedup_canonical" -> (dedupCanonical _),
    "profile_columns" -> (profileColumnsQ _),
    "fk_integrity" -> (fkIntegrity _),
    "label_scatter" -> (labelScatter _),
    "value_ks_drift" -> (valueKsDrift _),
    "epoch_shuffle" -> (epochShuffleQ _),
    "column_mi" -> (columnMi _),
    "basket_pairs" -> (basketPairs _),
    "ts_interpolate" -> (tsInterpolate _),
    "skew_report" -> (skewReportQ _),
    "user_trend" -> (userTrend _),
    "join_size_estimate" -> (joinSizeEstimate _),
    "entity_resolution" -> (entityResolution _),
    "blocking_quality" -> (blockingQualityQ _),
    "more_like_this" -> (moreLikeThisQ _),
    "semantic_clusters" -> (semanticClusters _),
    "graph_communities" -> (graphCommunities _),
    "graph_triangles" -> (graphTriangles _),
    "graph_kcore" -> (graphKcore _),
    "graph_bfs" -> (graphBfs _),
    "graph_anf" -> (graphAnf _),
    "graph_coreness" -> (graphCoreness _),
    "graph_coreness_distributed" -> (graphCorenessDistributed _),
    "knn_classify" -> (knnClassifyQ _),
    "knn_classify_ann" -> (knnClassifyAnnQ _),
    "embedding_outliers" -> (embeddingOutliers _),
    "event_paths" -> (eventPaths _),
    "text_readability" -> (textReadability _),
    "value_autocorr" -> (valueAutocorr _),
    "score_percentile" -> (scorePercentile _),
    "knn_eval" -> (knnEval _),
    "funnel_windowed" -> (funnelWindowed _),
    "bucket_join" -> (bucketJoinQ _),
    "zorder_layout" -> (zorderLayout _),
    "file_manifest_stats" -> (fileManifestStats _),
    "manifest_pruned_read" -> (manifestPrunedRead _),
    "manifest_pruned_read_string" -> (manifestPrunedReadString _),
    "manifest_incremental" -> (manifestIncremental _),
    "q51_grouping_sets" -> (groupingSetsQ _),
    "event_transitions" -> (eventTransitions _),
    "event_gaps" -> (eventGaps _))

  /** DuckDB-runnable oracle SQL per query (same tables, same aliases,
    * same ordering). See class doc for the parity conventions.
    * Persisted-store round-trip queries share their live twin's oracle
    * VERBATIM — persistence must be invisible to results; what the
    * round trip adds (directory-pruned probing of the on-disk layout)
    * is asserted in StorePersistenceSpec.
    */
  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "dedup_incremental_minhash_persisted" -> oracleSqlBase("dedup_incremental_minhash"),
    // absorb == rebuild: the absorbed vocabulary must equal the
    // full-corpus EM replay verbatim
    "ulm_absorb_train" -> oracleSqlBase("ulm_train"),
    "dedup_incremental_spans_persisted" -> oracleSqlBase("dedup_incremental_spans"),
    // the inline (task-closure model) twin is bit-identical to the
    // join form by construction; it shares the oracle verbatim
    "text_perplexity_inline" -> oracleSqlBase("text_perplexity"),
    // PQ ADC top-k emits the same exact-top-20 + recall-verdict rows
    // as the LSH gate; the oracle is shared (ann gate pattern)
    "pq_topk" -> oracleSqlBase("ann_lsh_topk"),
    // quantized-prefilter + exact-rerank emits the same rows; shared
    // oracle (ann gate pattern)
    "ann_quantized_rerank" -> oracleSqlBase("ann_lsh_topk"),
    // persistence must be invisible to results: the save/load twins
    // share their live query's oracle verbatim
    "pq_encode_persisted" -> oracleSqlBase("pq_encode"),
    "semantic_dedup_persisted" -> oracleSqlBase("semantic_dedup"),
    // IVF-PQ emits the same exact-top-20 + recall-verdict rows as the
    // other ANN gates; the oracle is shared (ann gate pattern)
    "ann_ivfpq_topk" -> oracleSqlBase("ann_lsh_topk"),
    "ann_ivfpq_persisted" -> oracleSqlBase("ann_lsh_topk"),
    "ann_ivfpq_residual_topk" -> oracleSqlBase("ann_lsh_topk"),
    "ulm_segment_persisted" -> oracleSqlBase("ulm_segment"),
    // the inline (task-closure counts) twin is bit-identical to the
    // join form by construction; it shares the oracle verbatim
    "text_backoff_inline" -> oracleSqlBase("text_backoff_score"),
    // absorb==rebuild is the invariant: the half-built + absorbed
    // index must score exactly like the oracle's full-corpus replay
    "bm25_absorb_search" -> oracleSqlBase("bm25_search"),
    // retract == rebuild: the tombstoned index must score exactly as
    // an index built on the surviving even half
    "bm25_retract_search" ->
      oracleSqlBase("bm25_search").replace(
        "FROM documents),",
        "FROM documents WHERE doc_id % 2 = 0),"),
    // persistence must be invisible to results: the loaded-store gate
    // shares the live quantile gate's oracle verbatim (absorb==rebuild
    // is its in-plan merge_ok verdict)
    "sketch_quantiles_persisted" -> oracleSqlBase("sketch_quantiles"))

  /** One unrolled Lloyd iteration for the `kmeans_train` oracle:
    * assignment CTE `a$i` (exact integer distances vs centroid table
    * `$centIn`, ties to lower cluster), floor-mean update `n$i`, and
    * the empty-cluster fallback `c$i` (clusters that captured nothing
    * keep their previous centroid) — the same step
    * [[graft.operators.KMeansTrain.lloydStep]] runs.
    */
  private def kmeansIterSql(i: Int, centIn: String): String =
    s"""a$i AS (
       |  SELECT vec_id, q, cl, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
       |  FROM (
       |    SELECT e.vec_id, e.q, c.cl,
       |      list_sum([(e.q[j] - c.c[j]) * (e.q[j] - c.c[j])
       |                for j in range(1, len(e.q) + 1)]) AS dist
       |    FROM e, $centIn c)),
       |n$i AS (
       |  SELECT cl, list(cv ORDER BY pos) AS c
       |  FROM (
       |    SELECT cl, pos,
       |      CAST(floor(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cv
       |    FROM (
       |      SELECT cl, unnest(range(1, len(q) + 1)) AS pos, unnest(q) AS val
       |      FROM a$i WHERE rn = 1)
       |    GROUP BY cl, pos)
       |  GROUP BY cl),
       |c$i AS (SELECT s.cl, coalesce(n.c, s.c) AS c
       |        FROM $centIn s LEFT JOIN n$i n ON n.cl = s.cl),""".stripMargin

  private lazy val kmeansTrainOracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cl,
       |         q AS c
       |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |${kmeansIterSql(1, "seeds")}
       |${kmeansIterSql(2, "c1")}
       |${kmeansIterSql(3, "c2")}
       |final AS (
       |  SELECT vec_id, cl, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
       |  FROM (
       |    SELECT e.vec_id, c.cl,
       |      list_sum([(e.q[j] - c.c[j]) * (e.q[j] - c.c[j])
       |                for j in range(1, len(e.q) + 1)]) AS dist
       |    FROM e, c3 c))
       |SELECT vec_id, CAST(cl AS INT) AS cluster, CAST(dist AS BIGINT) AS dist
       |FROM final WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  /** `semantic_dedup` oracle: the planted-perturbed corpus, two
    * unrolled Lloyd iterations ([[kmeansIterSql]] over the corpus CTE
    * `e`), exact integer assignment, the 10k cluster-size guard, the
    * in-cluster pair join, and the decimal-cosine >= 0.98 verify —
    * the `dedup_embedding` cosine formulation with a cheap
    * double-cosine prefilter (> 0.97 strictly contains the rounded
    * >= 0.98 set) so the decimal explode only runs on candidates.
    */
  /** The [[htmlDocs]] fixture as a DuckDB CTE body (same CASE, same
    * templates — doc_id concatenation casts identically).
    */
  private lazy val htmlDocsSql: String =
    """SELECT doc_id, CASE
      |  WHEN doc_id % 3 = 0 THEN
      |    '<html><head><title>Doc ' || doc_id ||
      |    '</title><style>body { color: #333; }</style>' ||
      |    '<script type="text/javascript">var n = ' || doc_id ||
      |    ' < 99;</script></head><body>' ||
      |    '<div id="nav">Home | About | <a href="/contact">Contact</a></div>' ||
      |    '<h1>Doc ' || doc_id || '</h1><p>' || text ||
      |    '</p><div class="footer">Copyright &amp; Co 2026</div></body></html>'
      |  WHEN doc_id % 3 = 1 THEN
      |    '<div><p>intro&nbsp;one</p><!-- template <p>never shown</p> --><p>' ||
      |    text ||
      |    '</p><ul><li><a href="https://example.com/a?x=1">alpha item</a></li>' ||
      |    '<li>beta &lt;tag&gt;</li></ul><img src="https://cdn.example.com/i.png">' ||
      |    '<p>Privacy Policy</p></div>'
      |  ELSE
      |    '<TABLE><TR><td>k' || doc_id || '</td><td>' || text ||
      |    '</td></TR></TABLE><br/>tail &#39;quoted&#39; end.'
      |  END AS html
      |FROM documents""".stripMargin

  private lazy val htmlExtractOracleSql: String = {
    val ext = graft.operators.HtmlExtract.duckdbExtractSql("html")
    s"""WITH html AS ($htmlDocsSql),
       |ext AS (SELECT doc_id, $ext AS text FROM html)
       |SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
       |FROM ext ORDER BY doc_id""".stripMargin
  }

  private lazy val htmlBoilerplateOracleSql: String = {
    val ext = graft.operators.HtmlExtract.duckdbExtractSql("html")
    val kw = graft.operators.HtmlExtract.BoilerKeywords
    s"""WITH html AS ($htmlDocsSql),
       |ext AS (SELECT doc_id, $ext AS text FROM html),
       |parts AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM ext),
       |lines AS (
       |  SELECT doc_id, unnest(ls) AS line,
       |         unnest(range(1, len(ls) + 1)) AS pos
       |  FROM parts),
       |freq AS (SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line),
       |flagged AS (
       |  SELECT l.doc_id, l.pos, l.line,
       |         (regexp_matches(lower(l.line), '$kw') OR
       |          ((CASE WHEN l.line = '' THEN 0
       |                 ELSE len(str_split(l.line, ' ')) END) <= 3
       |            AND NOT regexp_matches(l.line, '[.!?]${"$"}')) OR
       |          f.nd >= 5) AS boiler
       |  FROM lines l JOIN freq f USING (line))
       |SELECT doc_id,
       |       coalesce(string_agg(line, chr(10) ORDER BY pos)
       |                  FILTER (WHERE NOT boiler), '') AS text,
       |       CAST(count(*) AS BIGINT) AS n_lines,
       |       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
       |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private lazy val htmlLinksOracleSql: String =
    s"""WITH html AS ($htmlDocsSql),
       |l AS (
       |  SELECT doc_id,
       |         list_concat(regexp_extract_all(html, 'href="([^"]*)"', 1),
       |                     regexp_extract_all(html, 'src="([^"]*)"', 1)) AS ls
       |  FROM html),
       |flat AS (
       |  SELECT doc_id,
       |         unnest(range(0, len(ls))) AS link_no,
       |         unnest(ls) AS url
       |  FROM l WHERE len(ls) > 0)
       |SELECT doc_id, CAST(link_no AS BIGINT) AS link_no, url,
       |       regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS host
       |FROM flat ORDER BY doc_id, link_no""".stripMargin

  private lazy val semanticDedupOracleSql: String =
    s"""WITH allv AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |         list_transform(embedding, x -> x + CAST(0.0005 AS FLOAT))
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
       |  FROM allv),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cl,
       |         q AS c
       |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |${kmeansIterSql(1, "seeds")}
       |${kmeansIterSql(2, "c1")}
       |fin AS (
       |  SELECT vec_id, cl,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
       |  FROM (
       |    SELECT e.vec_id, c.cl,
       |      list_sum([(e.q[j] - c.c[j]) * (e.q[j] - c.c[j])
       |                for j in range(1, len(e.q) + 1)]) AS dist
       |    FROM e, c2 c)),
       |asg AS (SELECT vec_id, cl FROM fin WHERE rn = 1),
       |ok AS (SELECT cl FROM asg GROUP BY cl HAVING count(*) <= 10000),
       |bnd AS (SELECT a.vec_id, a.cl FROM asg a JOIN ok USING (cl)),
       |cand AS (
       |  SELECT x.cl AS cluster, x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bnd x JOIN bnd y ON x.cl = y.cl AND x.vec_id < y.vec_id),
       |pre AS (
       |  SELECT p.cluster, p.id_a, p.id_b, va.embedding AS va, vb.embedding AS vb
       |  FROM cand p
       |  JOIN allv va ON va.vec_id = p.id_a
       |  JOIN allv vb ON vb.vec_id = p.id_b
       |  WHERE list_cosine_similarity(CAST(va.embedding AS DOUBLE[]),
       |                               CAST(vb.embedding AS DOUBLE[])) > 0.97),
       |exploded AS (
       |  SELECT cluster, id_a, id_b,
       |         unnest(CAST(va AS DOUBLE[])) AS x,
       |         unnest(CAST(vb AS DOUBLE[])) AS y
       |  FROM pre),
       |sums AS (
       |  SELECT cluster, id_a, id_b,
       |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
       |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
       |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
       |  FROM exploded GROUP BY cluster, id_a, id_b),
       |hits AS (
       |  SELECT cluster, id_a, id_b,
       |         round(CAST(dotd AS DOUBLE) /
       |               (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) AS cos
       |  FROM sums
       |  WHERE round(CAST(dotd AS DOUBLE) /
       |              (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) >= 0.98)
       |SELECT id_b AS vec_id, CAST(min(cluster) AS INT) AS cluster, min(id_a) AS dup_of,
       |       CAST(count(*) AS BIGINT) AS n_dups, max(cos) AS cos_max
       |FROM hits GROUP BY id_b ORDER BY vec_id""".stripMargin

  /** One unrolled BPE iteration for the `bpe_train`/`bpe_segment`
    * oracles: pair counts `p$i` from the symbol split of `w${i-1}`,
    * top-pair selection `m$i` (count desc, x/y asc), and the literal
    * bracketed replace producing `w$i` — the same step
    * [[graft.operators.Lexicon.bpeTrain]] runs.
    */
  private def bpeIterSql(i: Int): String =
    s"""p$i AS (
       |  SELECT p.x AS x, p.y AS y, CAST(sum(wn) AS BIGINT) AS n
       |  FROM (
       |    SELECT wn, unnest([{'x': s[j], 'y': s[j+1]} for j in range(1, len(s))]) AS p
       |    FROM (SELECT wn,
       |            string_split(regexp_replace(symstr, '^⟨|⟩$$', '', 'g'), '⟩⟨') AS s
       |          FROM w${i - 1}))
       |  GROUP BY p.x, p.y),
       |m$i AS (SELECT x, y, n FROM p$i ORDER BY n DESC, x, y LIMIT 1),
       |w$i AS (
       |  SELECT replace(symstr, '⟨' || m.x || '⟩⟨' || m.y || '⟩',
       |                 '⟨' || m.x || m.y || '⟩') AS symstr, wn
       |  FROM w${i - 1}, m$i m)""".stripMargin

  /** Shared head of the BPE oracles: the vocabulary-collapsed word
    * table in bracketed-symbol form plus 6 unrolled iterations.
    */
  private lazy val bpeChainSql: String =
    s"""w0 AS (
       |  SELECT regexp_replace(tok, '(.)', '⟨\\1⟩', 'g') || '⟨</w>⟩' AS symstr,
       |         CAST(count(*) AS BIGINT) AS wn
       |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |        FROM documents)
       |  WHERE length(tok) >= 1 AND tok NOT LIKE '%⟨%' AND tok NOT LIKE '%⟩%'
       |  GROUP BY tok),
       |${(1 to 6).map(bpeIterSql).mkString(",\n")}""".stripMargin

  private lazy val bpeTrainOracleSql: String =
    s"""WITH $bpeChainSql
       |SELECT * FROM (
       |${(1 to 6).map(i =>
          s"  SELECT CAST($i AS INT) AS iter, x, y, n FROM m$i").mkString("\n  UNION ALL\n")}
       |) ORDER BY iter""".stripMargin

  private lazy val bpeSegmentOracleSql: String =
    s"""WITH $bpeChainSql,
       |pr AS (
       |  SELECT ${(1 to 6).map(i =>
            s"'⟨' || m$i.x || '⟩⟨' || m$i.y || '⟩' AS p$i, '⟨' || m$i.x || m$i.y || '⟩' AS r$i")
            .mkString(",\n  ")}
       |  FROM ${(1 to 6).map(i => s"m$i").mkString(", ")}),
       |seg AS (
       |  SELECT doc_id,
       |    [regexp_replace(tok, '(.)', '⟨\\1⟩', 'g') || '⟨</w>⟩'
       |     for tok in regexp_split_to_array(lower(trim(text)), '\\s+')] AS symstrs
       |  FROM documents WHERE doc_id < 10),
       |applied AS (
       |  SELECT doc_id,
       |    list_transform(symstrs, t ->
       |      replace(replace(replace(replace(replace(replace(t,
       |        p1, r1), p2, r2), p3, r3), p4, r4), p5, r5), p6, r6)) AS merged
       |  FROM seg, pr)
       |SELECT doc_id,
       |  array_to_string(
       |    flatten(list_transform(merged, t ->
       |      string_split(regexp_replace(t, '^⟨|⟩$$', '', 'g'), '⟩⟨'))),
       |    ' ') AS segmented
       |FROM applied ORDER BY doc_id""".stripMargin

  /** Viterbi DP block for the unigram-LM oracles, unrolled per word
    * position (the [[graft.operators.UnigramLm]] fold, replayed):
    * `b{it}_{i}` holds each word's best (cost, start) for a prefix of
    * length i under log-prob table `l{lpIdx}` — cost minimized, ties
    * to the lower start (the longest piece) via `ORDER BY cost, j` —
    * `bb{it}` stacks the backpointers, and the recursive `wk{it}`
    * walks them back into the piece list `sg{it}`.
    */
  private def ulmDpSql(it: Int, lpIdx: Int): String = {
    val bs = (1 to UlmMaxWordLen).map { i =>
      val branches = (math.max(0, i - UlmMaxPieceLen) until i).map { j =>
        s"""      SELECT t.w AS w, b.cost - l.lp AS cost, $j AS j
           |      FROM wt t
           |      JOIN b${it}_$j b ON b.w = t.w
           |      JOIN l$lpIdx l ON l.piece = substr(t.w, ${j + 1}, ${i - j})
           |      WHERE t.len >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""b${it}_$i AS MATERIALIZED (
         |  SELECT w, cost, j FROM (
         |    SELECT w, cost, j, row_number() OVER (PARTITION BY w ORDER BY cost, j) AS rn
         |    FROM (
         |$branches))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val bb = (1 to UlmMaxWordLen)
      .map(i => s"  SELECT w, $i AS i, j FROM b${it}_$i")
      .mkString("\n  UNION ALL\n")
    s"""b${it}_0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS cost, 0 AS j FROM wt),
       |$bs,
       |bb$it AS MATERIALIZED (
       |$bb),
       |wk$it AS (
       |  SELECT w, wn, len AS pos, []::VARCHAR[] AS ps FROM wt
       |  UNION ALL
       |  SELECT k.w, k.wn, bb.j AS pos,
       |         list_prepend(substr(k.w, bb.j + 1, k.pos - bb.j), k.ps) AS ps
       |  FROM wk$it k JOIN bb$it bb ON bb.w = k.w AND bb.i = k.pos
       |  WHERE k.pos > 0),
       |sg$it AS MATERIALIZED (SELECT w, wn, ps FROM wk$it WHERE pos = 0)""".stripMargin
  }

  /** One EM round for the `ulm_train` oracle: Viterbi-segment under
    * `l{it-1}` (the DP block above), count pieces weighted by word
    * frequency, rebuild the vocabulary (used multi pieces + all seed
    * chars floored at 1), and re-quantize log-probs.
    */
  private def ulmEmSql(it: Int, prune: Option[Int]): String = {
    val multiSel = prune match {
      case Some(k) =>
        s"""SELECT piece, n FROM (
           |    SELECT piece, n FROM c$it WHERE length(piece) >= 2
           |    ORDER BY n DESC, piece LIMIT $k)""".stripMargin
      case None => s"SELECT piece, n FROM c$it WHERE length(piece) >= 2"
    }
    s"""${ulmDpSql(it, it - 1)},
       |c$it AS MATERIALIZED (
       |  SELECT piece, CAST(sum(wn) AS BIGINT) AS n
       |  FROM (SELECT wn, unnest(ps) AS piece FROM sg$it)
       |  GROUP BY piece),
       |v$it AS MATERIALIZED (
       |  $multiSel
       |  UNION ALL
       |  SELECT ch.piece, greatest(coalesce(c.n, 0), CAST(1 AS BIGINT)) AS n
       |  FROM ch LEFT JOIN c$it c ON c.piece = ch.piece),
       |l$it AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(floor(1000000.0 * ln(CAST(n AS DOUBLE) /
       |      (SELECT CAST(sum(n) AS DOUBLE) FROM v$it))) AS BIGINT) AS lp
       |  FROM v$it)""".stripMargin
  }

  /** Shared head of the unigram-LM oracles: the bounded distinct-word
    * table, seed substring counts (top-25 multi pieces + all chars),
    * quantized seed log-probs, and both unrolled EM rounds.
    */
  private def ulmChainSql(prune: Option[Int]): String =
    s"""wt AS MATERIALIZED (
       |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS wn, length(tok) AS len
       |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |        FROM documents)
       |  WHERE length(tok) BETWEEN 1 AND $UlmMaxWordLen
       |  GROUP BY tok),
       |ss AS MATERIALIZED (
       |  SELECT wn, substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece
       |  FROM (SELECT wn, w, i, unnest(range(1, least($UlmMaxPieceLen, len - i + 1) + 1)) AS l
       |        FROM (SELECT wn, w, len, unnest(range(1, len + 1)) AS i FROM wt))),
       |sub AS MATERIALIZED (SELECT piece, CAST(sum(wn) AS BIGINT) AS n FROM ss GROUP BY piece),
       |ch AS MATERIALIZED (SELECT piece, n FROM sub WHERE length(piece) = 1),
       |mu AS MATERIALIZED (SELECT piece, n FROM sub WHERE length(piece) >= 2
       |       ORDER BY n DESC, piece LIMIT $UlmTopMulti),
       |v0 AS MATERIALIZED (SELECT piece, n FROM ch UNION ALL SELECT piece, n FROM mu),
       |l0 AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(floor(1000000.0 * ln(CAST(n AS DOUBLE) /
       |      (SELECT CAST(sum(n) AS DOUBLE) FROM v0))) AS BIGINT) AS lp
       |  FROM v0),
       |${(1 to UlmEmIters).map(ulmEmSql(_, prune)).mkString(",\n")}""".stripMargin

  private def ulmTrainOracle(prune: Option[Int]): String =
    s"""WITH RECURSIVE ${ulmChainSql(prune)}
       |SELECT v.piece AS piece, v.n AS n, l.lp AS lp
       |FROM v$UlmEmIters v JOIN l$UlmEmIters l USING (piece)
       |ORDER BY n DESC, piece""".stripMargin

  private lazy val ulmTrainOracleSql: String = ulmTrainOracle(None)

  private lazy val ulmTrainPrunedOracleSql: String = ulmTrainOracle(Some(UlmPruneTo))

  /** `ulm_segment` oracle: one more Viterbi DP over the word table at
    * the FINAL log-probs, then each of the first 10 documents re-emits
    * its tokens' piece lists in order (tokens join the segmented word
    * table; the length bound drops none on this corpus).
    */
  private lazy val ulmSegmentOracleSql: String = {
    val segIt = UlmEmIters + 1
    s"""WITH RECURSIVE ${ulmChainSql(None)},
       |${ulmDpSql(segIt, UlmEmIters)},
       |dt AS MATERIALIZED (
       |  SELECT doc_id, p.tok AS tok, p.ord AS ord
       |  FROM (
       |    SELECT doc_id,
       |      unnest([{'tok': ws[k], 'ord': k} for k in range(1, len(ws) + 1)]) AS p
       |    FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
       |          FROM documents WHERE doc_id < 10))),
       |st AS MATERIALIZED (
       |  SELECT d.doc_id, d.ord, array_to_string(s.ps, ' ') AS pstr
       |  FROM dt d JOIN sg$segIt s ON s.w = d.tok)
       |SELECT doc_id, string_agg(pstr, ' ' ORDER BY ord) AS segmented
       |FROM st GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** `wordpiece_segment` oracle: the pruned-vocab EM chain, a greedy
    * table `gm` (each word position's longest full-length vocab
    * match, single-char fallback), a recursive max-match walk, and
    * the per-document token re-emit.
    */
  private lazy val wordpieceSegmentOracleSql: String = {
    val vFinal = s"v$UlmEmIters"
    val candJoins = (UlmMaxPieceLen to 2 by -1).map { l =>
      s"""  LEFT JOIN $vFinal c$l ON s.len - s.i + 1 >= $l
         |    AND c$l.piece = substr(s.w, CAST(s.i AS INT), $l)""".stripMargin
    }.mkString("\n")
    val coalesceArgs =
      ((UlmMaxPieceLen to 2 by -1).map(l => s"c$l.piece") :+
        "substr(s.w, CAST(s.i AS INT), 1)").mkString(", ")
    s"""WITH RECURSIVE ${ulmChainSql(Some(UlmPruneTo))},
       |gm AS MATERIALIZED (
       |  SELECT s.w, s.i, coalesce($coalesceArgs) AS piece
       |  FROM (SELECT w, len, unnest(range(1, len + 1)) AS i FROM wt) s
       |$candJoins),
       |wm AS (
       |  SELECT w, len, CAST(1 AS BIGINT) AS pos, []::VARCHAR[] AS ps FROM wt
       |  UNION ALL
       |  SELECT k.w, k.len, k.pos + length(g.piece) AS pos,
       |         list_append(k.ps, g.piece) AS ps
       |  FROM wm k JOIN gm g ON g.w = k.w AND g.i = k.pos
       |  WHERE k.pos <= k.len),
       |sgm AS MATERIALIZED (SELECT w, ps FROM wm WHERE pos = len + 1),
       |dt AS MATERIALIZED (
       |  SELECT doc_id, p.tok AS tok, p.ord AS ord
       |  FROM (
       |    SELECT doc_id,
       |      unnest([{'tok': ws[k], 'ord': k} for k in range(1, len(ws) + 1)]) AS p
       |    FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
       |          FROM documents WHERE doc_id < 10))),
       |st AS MATERIALIZED (
       |  SELECT d.doc_id, d.ord, array_to_string(s.ps, ' ') AS pstr
       |  FROM dt d JOIN sgm s ON s.w = d.tok)
       |SELECT doc_id, string_agg(pstr, ' ' ORDER BY ord) AS segmented
       |FROM st GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** One unrolled Lloyd iteration of subspace `s` for the `pq_encode`
    * oracle — the [[kmeansIterSql]] pattern over the sliced table
    * `pe{s}`: assignment `pa{s}_{i}` (ties to lower code), floor-mean
    * update `pn{s}_{i}`, empty-code fallback `pc{s}_{i}`.
    */
  private def pqIterSql(s: Int, i: Int, centIn: String): String =
    s"""pa${s}_$i AS (
       |  SELECT vec_id, q, cl, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
       |  FROM (
       |    SELECT t.vec_id, t.q, c.cl,
       |      list_sum([(t.q[j] - c.c[j]) * (t.q[j] - c.c[j])
       |                for j in range(1, len(t.q) + 1)]) AS dist
       |    FROM pe$s t, $centIn c)),
       |pn${s}_$i AS (
       |  SELECT cl, list(cv ORDER BY pos) AS c
       |  FROM (
       |    SELECT cl, pos,
       |      CAST(floor(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cv
       |    FROM (
       |      SELECT cl, unnest(range(1, len(q) + 1)) AS pos, unnest(q) AS val
       |      FROM pa${s}_$i WHERE rn = 1)
       |    GROUP BY cl, pos)
       |  GROUP BY cl),
       |pc${s}_$i AS (SELECT s.cl, coalesce(n.c, s.c) AS c
       |        FROM $centIn s LEFT JOIN pn${s}_$i n ON n.cl = s.cl)""".stripMargin

  /** Full training + final-assignment CTE chain for one PQ subspace:
    * sliced corpus `pe{s}`, sliced seeds `ps{s}`, `iters` unrolled
    * Lloyd iterations, and the final per-row argmin `pf{s}` carrying
    * (code, exact integer distance).
    */
  private def pqSubspaceSql(s: Int, dsub: Int, iters: Int): String = {
    val lo = s * dsub + 1
    val hi = (s + 1) * dsub
    val head =
      s"""pe$s AS (SELECT vec_id, q[$lo:$hi] AS q FROM e),
         |ps$s AS (SELECT cl, c[$lo:$hi] AS c FROM sd)""".stripMargin
    val its = (1 to iters)
      .map(i => pqIterSql(s, i, if (i == 1) s"ps$s" else s"pc${s}_${i - 1}"))
      .mkString(",\n")
    val fin =
      s"""pf$s AS (
         |  SELECT vec_id, cl, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
         |  FROM (
         |    SELECT t.vec_id, c.cl,
         |      list_sum([(t.q[j] - c.c[j]) * (t.q[j] - c.c[j])
         |                for j in range(1, len(t.q) + 1)]) AS dist
         |    FROM pe$s t, pc${s}_$iters c))""".stripMargin
    Seq(head, its, fin).mkString(",\n")
  }

  /** `pq_encode` oracle: quantize, pick the 16 md5-order seed rows,
    * train each of the 4 subspace codebooks with 2 unrolled Lloyd
    * iterations, then emit each vector's 4 argmin codes and the exact
    * integer reconstruction distance — the bit-identical replay of
    * [[graft.operators.ProductQuantizer.train]]+`encode`.
    */
  private lazy val pqEncodeOracleSql: String = {
    val subs = (0 until 4).map(pqSubspaceSql(_, dsub = 16, iters = 2)).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |sd AS (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cl,
       |         q AS c
       |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |$subs
       |SELECT pf0.vec_id AS vec_id,
       |  CAST(pf0.cl AS INT) AS code0, CAST(pf1.cl AS INT) AS code1,
       |  CAST(pf2.cl AS INT) AS code2, CAST(pf3.cl AS INT) AS code3,
       |  CAST(pf0.dist + pf1.dist + pf2.dist + pf3.dist AS BIGINT) AS recon_dist
       |FROM pf0
       |JOIN pf1 ON pf1.vec_id = pf0.vec_id
       |JOIN pf2 ON pf2.vec_id = pf0.vec_id
       |JOIN pf3 ON pf3.vec_id = pf0.vec_id
       |WHERE pf0.rn = 1 AND pf1.rn = 1 AND pf2.rn = 1 AND pf3.rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  private lazy val oracleSqlBase: Map[String, String] = Map(
    // PQ training + encoding: 4 subspace k-means unrolled as CTEs,
    // all integer-grid exact (see pqSubspaceSql)
    "pq_encode" -> pqEncodeOracleSql,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_pushdown" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority LIKE '1%'
        |ORDER BY o_orderkey""".stripMargin,
    "q03_segment_top_orders" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q04_nation_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q05_window_dedup" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        | round(value, 2) AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q06_distinct_event_types" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    // CDC schema evolution: per-key argmax over the three generation
    // slices, phone attached to the middle (ADD COLUMN) one only
    "cdc_schema_evolution" ->
      """WITH u AS (
        |  SELECT user_id, event_id, event_type, value,
        |         CASE WHEN event_id % 3 = 1
        |              THEN 'p-' || CAST(user_id AS VARCHAR) END AS phone_number
        |  FROM events),
        |w AS (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM u)
        |SELECT user_id, event_id AS version, event_type,
        |       round(value, 2) AS value, phone_number,
        |       TRUE AS schema_keeps_dropped_col
        |FROM w WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q07_cdc_merge" ->
      """WITH target AS (
        |  SELECT user_id, event_id, event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
        |batch AS (
        |  SELECT user_id, event_id, event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM (SELECT * FROM events WHERE event_id % 2 = 1
        |          UNION ALL SELECT * FROM events WHERE event_id % 7 = 0)) WHERE rn = 1),
        |upserts AS (SELECT * FROM batch WHERE event_type <> 'error'),
        |deletes AS (SELECT user_id FROM batch WHERE event_type = 'error'),
        |merged AS (
        |  SELECT user_id, event_id, event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC, is_src ASC) AS rn2
        |    FROM (SELECT user_id, event_id, event_type, value, 0 AS is_src FROM target
        |          UNION ALL
        |          SELECT user_id, event_id, event_type, value, 1 AS is_src FROM upserts))
        |  WHERE rn2 = 1)
        |SELECT user_id, event_id AS version, event_type, round(value, 2) AS value
        |FROM merged
        |WHERE user_id NOT IN (SELECT user_id FROM deletes)
        |ORDER BY user_id""".stripMargin,
    "q08_year_month_partitions" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        | CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,
        | count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY o_year, o_month""".stripMargin,
    "q09_zoned_timestamp_cast" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso,
        | CAST(epoch(CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)) AS BIGINT) AS epoch_s
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q10_topk_orders" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q11_groupby_having" ->
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin,
    "q12_count_distinct" ->
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q13_conditional_agg" ->
      """SELECT user_id % 10 AS bucket,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS purchase_value
        |FROM events
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,
    "q14_intersect" ->
      """SELECT user_id AS id FROM events
        |INTERSECT
        |SELECT c_custkey AS id FROM customer
        |ORDER BY id""".stripMargin,
    "q15_except" ->
      """SELECT c_custkey AS id FROM customer
        |EXCEPT
        |SELECT user_id AS id FROM events
        |ORDER BY id""".stripMargin,
    "q16_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q17_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q18_above_avg_parts" ->
      """SELECT p_partkey, p_name, round(p_retailprice, 2) AS p_retailprice
        |FROM (SELECT *, avg(p_retailprice) OVER (PARTITION BY p_type) AS avg_price FROM part)
        |WHERE p_retailprice > avg_price * 1.05
        |ORDER BY p_partkey""".stripMargin,
    "q19_rank_per_nation" ->
      """SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS c_acctbal, rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
        |      FROM customer)
        |WHERE rk <= 3
        |ORDER BY c_nationkey, rk""".stripMargin,
    "q20_rollup" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, o_orderstatus,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY ROLLUP(1, 2)
        |ORDER BY o_year ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,
    "q21_union_counts" ->
      """SELECT kind, count(*) AS n, CAST(count(DISTINCT k) AS BIGINT) AS n_keys
        |FROM (SELECT 'order' AS kind, o_orderkey AS k FROM orders
        |      UNION ALL SELECT 'line' AS kind, l_orderkey AS k FROM lineitem)
        |GROUP BY kind
        |ORDER BY kind""".stripMargin,
    "q22_asof_join" ->
      """SELECT p.event_id AS event_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q45_asof_physical" ->
      """SELECT p.event_id AS event_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q46_range_join" ->
      """SELECT band_id, count(*) AS n,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total
        |FROM (SELECT range AS band_id, CAST(range*400 AS DOUBLE) AS lo,
        |             CAST(range*400+800 AS DOUBLE) AS hi FROM range(0, 1400)) b
        |JOIN orders ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "q47_interval_overlap" ->
      """WITH spans AS (SELECT o_custkey, min(o_totalprice) AS clo,
        |                      max(o_totalprice) AS chi
        |               FROM orders GROUP BY o_custkey),
        |b AS (SELECT range AS band_id, CAST(range*400 AS DOUBLE) AS lo,
        |             CAST(range*400+800 AS DOUBLE) AS hi FROM range(0, 1400))
        |SELECT band_id, count(*) AS n_customers
        |FROM b JOIN spans ON clo <= hi AND lo <= chi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "q23_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders
        |WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q24_lag_delta" ->
      """SELECT user_id, event_id,
        | round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), 2) AS delta
        |FROM events
        |WHERE user_id <= 20
        |ORDER BY user_id, event_id""".stripMargin,
    "q25_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q26_full_outer" ->
      """SELECT COALESCE(e.id, o.id) AS id,
        | COALESCE(n_events, 0) AS n_events, COALESCE(n_orders, 0) AS n_orders
        |FROM (SELECT user_id AS id, count(*) AS n_events FROM events GROUP BY 1) e
        |FULL OUTER JOIN (SELECT o_custkey AS id, count(*) AS n_orders FROM orders
        |                 WHERE o_custkey <= 300 GROUP BY 1) o
        |  ON e.id = o.id
        |ORDER BY id""".stripMargin,
    "q27_in_subquery" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        | count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |GROUP BY 1
        |ORDER BY o_year""".stripMargin,
    "q28_percentiles" ->
      """SELECT o_orderstatus,
        | round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        | count(*) AS n
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q29_string_funcs" ->
      """SELECT p_partkey,
        | upper(substring(p_name, 1, 8)) AS prefix,
        | p_brand || '#' || p_type AS brand_type,
        | CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part
        |WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin,
    "q30_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS total
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q31_window_dedup_agg" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        | round(value, 2) AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q32_sample_per_group" ->
      """SELECT source, doc_id
        |FROM (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 3
        |ORDER BY source, doc_id""".stripMargin,
    "q33_hash_rate_sample" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |WHERE md5(CAST(event_id AS VARCHAR)) < '2'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "mixture_sample" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
        |FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8'
        |              WHEN 'src2' THEN '4' WHEN 'src3' THEN '2' ELSE '1' END
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // token-balanced shard plan: md5 buckets, the canonical-order
    // running sum, the shard division, per-shard totals, and the
    // balance bound all replay as integer SQL
    "shard_plan" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 AS bk
        |  FROM toks),
        |cum AS (
        |  SELECT doc_id, toks,
        |    COALESCE(sum(toks) OVER (ORDER BY bk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM b),
        |pl AS (SELECT doc_id, toks, cb // 4000 AS shard FROM cum),
        |ps AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(toks) AS BIGINT) AS tokens
        |       FROM pl GROUP BY 1),
        |md AS (SELECT max(toks) AS m FROM toks),
        |ls AS (SELECT max(shard) AS l FROM pl)
        |SELECT CAST(ps.shard AS BIGINT) AS shard, ps.n_docs, ps.tokens,
        |  (SELECT bool_and(p2.shard = ls.l OR
        |     (p2.tokens >= 4000 - md.m + 1 AND p2.tokens <= 4000 + md.m - 1))
        |   FROM ps p2, md, ls) AS balance_ok
        |FROM ps ORDER BY ps.shard""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 4 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |p AS (
        |  SELECT shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS pack_offset
        |  FROM t)
        |SELECT shard, CAST(floor(CAST(pack_offset AS DOUBLE) / 2048.0) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  round(CAST(sum(n_tokens) AS BIGINT) / 2048.0, 4) AS fill
        |FROM p
        |GROUP BY shard, pack_id
        |ORDER BY shard, pack_id""".stripMargin,
    "q35_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 3) AS avg_k,
        | CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q36_explode_top_words" ->
      """SELECT lang, tok, n, rk
        |FROM (SELECT lang, tok, n,
        |        row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
        |      FROM (SELECT lang, tok, count(*) AS n
        |            FROM (SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |                  FROM documents)
        |            GROUP BY 1, 2))
        |WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,
    "q37_gap_fill_months" ->
      """WITH bounds AS (
        |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |         date_trunc('month', max(o_orderdate)) AS hi
        |  FROM orders),
        |months AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM bounds),
        |agg AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |         count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |  FROM orders
        |  WHERE o_custkey <= 5
        |  GROUP BY 1)
        |SELECT strftime(m.month, '%Y-%m') AS month,
        |       COALESCE(a.n_orders, 0) AS n_orders,
        |       COALESCE(a.total, 0.0) AS total
        |FROM months m LEFT JOIN agg a ON m.month = a.month
        |ORDER BY month""".stripMargin,
    "q39_sessionize_batch" ->
      """WITH flagged AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
        |              - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id <= 30),
        |numbered AS (
        |  SELECT user_id, ts_s,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(max(ts_s) - min(ts_s) AS BIGINT) AS duration_s,
        |  CAST(min(ts_s) AS BIGINT) AS start_s
        |FROM numbered
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q38_date_arithmetic" ->
      """SELECT o_orderkey,
        | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        | strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        | strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start
        |FROM orders
        |WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin,
    "q40_stats_agg" ->
      """SELECT l_returnflag,
        | round(stddev_samp(l_quantity), 4) AS sd_qty,
        | round(var_samp(l_discount), 6) AS var_disc,
        | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        | count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q41_region_revenue" ->
      """SELECT n_name,
        | round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE' AND EXTRACT(year FROM o_orderdate) = 1996
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q42_promo_share" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        | round(sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |   * 100.0 / sum(l_extendedprice * (1.0 - l_discount)), 3) AS promo_pct
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY 1
        |ORDER BY month""".stripMargin,
    "q43_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity < 10)
        |   OR (p_type = 'ECONOMY' AND l_discount > 0.07)""".stripMargin,
    "q44_ntile" ->
      """SELECT o_orderkey, o_orderstatus,
        | CAST(ntile(4) OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        |FROM orders
        |WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY h""".stripMargin,
    // exact all-pairs word-3-gram jaccard >= 0.5: equals the Spark
    // LSH-candidates-then-verify result because every true pair sits far
    // above the LSH recall band (min true jaccard 0.85 at sf0.01)
    "dedup_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' near duplicate tail' AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 3
        |           THEN [array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+2], ' ')
        |                 for i in range(1, len(regexp_split_to_array(lower(trim(text)), '\s+')) - 1)]
        |           ELSE [array_to_string(regexp_split_to_array(lower(trim(text)), '\s+'), ' ')]
        |      END) AS s
        |  FROM docs),
        |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 3) AS jaccard
        |  FROM common
        |  JOIN sz sa ON id_a = sa.doc_id
        |  JOIN sz sb ON id_b = sb.doc_id)
        |WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' near duplicate tail' AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 3
        |           THEN [array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+2], ' ')
        |                 for i in range(1, len(regexp_split_to_array(lower(trim(text)), '\s+')) - 1)]
        |           ELSE [array_to_string(regexp_split_to_array(lower(trim(text)), '\s+'), ' ')]
        |      END) AS s
        |  FROM docs),
        |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz sa ON id_a = sa.doc_id
        |  JOIN sz sb ON id_b = sb.doc_id
        |  WHERE round(c * 1.0 / (sa.n + sb.n - c), 3) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // blocking audit: exact closed-form pair counts, micro ratios
    "blocking_quality" ->
      """WITH cust AS (SELECT c_custkey, c_name FROM customer),
        |seeds AS (SELECT c_custkey, c_name FROM cust WHERE c_custkey % 25 = 0),
        |vars AS (
        |  SELECT c_custkey + 1000000 AS c_custkey,
        |    CASE WHEN c_custkey % 100 = 0
        |         THEN substr(c_name, 1, 15) || 'y' || substr(c_name, 17, 2)
        |         ELSE substr(c_name, 1, 11) || 'x' || substr(c_name, 13, 6)
        |    END AS c_name
        |  FROM seeds),
        |alle AS (SELECT c_custkey, c_name FROM cust
        |         UNION ALL SELECT c_custkey, c_name FROM vars),
        |b AS (SELECT c_custkey AS id, substr(c_name, 15, 4) AS bk FROM alle),
        |bs AS (SELECT count(*) AS nb, sum(n * (n - 1) // 2) AS cand
        |       FROM (SELECT bk, count(*) AS n FROM b GROUP BY bk)),
        |rs AS (SELECT count(*) AS nrec FROM b),
        |truth AS (SELECT c_custkey AS ta, c_custkey + 1000000 AS tb FROM seeds),
        |ts AS (SELECT count(*) AS ntruth,
        |         sum(CASE WHEN ba.bk = bb.bk THEN 1 ELSE 0 END) AS hits
        |       FROM truth t JOIN b ba ON t.ta = ba.id JOIN b bb ON t.tb = bb.id)
        |SELECT CAST(nrec AS BIGINT) AS n_records, CAST(nb AS BIGINT) AS n_blocks,
        |  CAST(cand AS BIGINT) AS cand_pairs, CAST(ntruth AS BIGINT) AS truth_pairs,
        |  CAST(hits AS BIGINT) AS truth_coblocked,
        |  CAST((nrec * (nrec - 1) // 2 - cand) * 1000000 // (nrec * (nrec - 1) // 2) AS BIGINT) AS rr_micro,
        |  CAST(hits * 1000000 // ntruth AS BIGINT) AS pc_micro
        |FROM rs, bs, ts""".stripMargin,
    // 2-core: three unrolled peeling rounds (the fixture converges in
    // exactly three), then surviving degrees
    // coreness: the fixture's components peel in closed form — a
    // clique of m present users (chains attached or not) has core
    // number m-1, pendant-chain nodes 1, singleton-group anchors 1
    "graph_coreness" ->
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 100),
        |gs AS (SELECT u // 10 AS g, count(*) AS sz FROM users GROUP BY 1),
        |cliq AS (SELECT u AS id, sz - 1 AS c FROM users
        |         JOIN gs ON u // 10 = g WHERE sz >= 2),
        |anch AS (SELECT u FROM users WHERE u % 10 = 0),
        |chain AS (
        |  SELECT u + 1000 AS id, 1 AS c FROM anch
        |  UNION ALL SELECT u + 2000, 1 FROM anch
        |  UNION ALL SELECT u + 3000, 1 FROM anch),
        |lone AS (SELECT u AS id, 1 AS c FROM anch
        |         JOIN gs ON u // 10 = g WHERE sz = 1)
        |SELECT id, CAST(c AS BIGINT) AS coreness FROM (
        |  SELECT * FROM cliq UNION ALL SELECT * FROM chain
        |  UNION ALL SELECT * FROM lone)
        |ORDER BY id""".stripMargin,
    // same fixture, same closed-form answer: the engine side runs the
    // DISTRIBUTED peel (driverMaxEdges=0), so the fallback's
    // correctness is driver-checked every round
    "graph_coreness_distributed" ->
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 100),
        |gs AS (SELECT u // 10 AS g, count(*) AS sz FROM users GROUP BY 1),
        |cliq AS (SELECT u AS id, sz - 1 AS c FROM users
        |         JOIN gs ON u // 10 = g WHERE sz >= 2),
        |anch AS (SELECT u FROM users WHERE u % 10 = 0),
        |chain AS (
        |  SELECT u + 1000 AS id, 1 AS c FROM anch
        |  UNION ALL SELECT u + 2000, 1 FROM anch
        |  UNION ALL SELECT u + 3000, 1 FROM anch),
        |lone AS (SELECT u AS id, 1 AS c FROM anch
        |         JOIN gs ON u // 10 = g WHERE sz = 1)
        |SELECT id, CAST(c AS BIGINT) AS coreness FROM (
        |  SELECT * FROM cliq UNION ALL SELECT * FROM chain
        |  UNION ALL SELECT * FROM lone)
        |ORDER BY id""".stripMargin,
    "graph_kcore" ->
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 100),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |ch AS (
        |  SELECT u AS s, u + 1000 AS t FROM users WHERE u % 10 = 0
        |  UNION ALL SELECT u + 1000, u + 2000 FROM users WHERE u % 10 = 0
        |  UNION ALL SELECT u + 2000, u + 3000 FROM users WHERE u % 10 = 0),
        |e0 AS (SELECT s, t FROM cl UNION SELECT s, t FROM ch),
        |d1 AS (SELECT id, count(*) AS d FROM (
        |         SELECT s AS id FROM e0 UNION ALL SELECT t FROM e0) GROUP BY id),
        |e1 AS (SELECT s, t FROM e0
        |       WHERE s IN (SELECT id FROM d1 WHERE d >= 2)
        |         AND t IN (SELECT id FROM d1 WHERE d >= 2)),
        |d2 AS (SELECT id, count(*) AS d FROM (
        |         SELECT s AS id FROM e1 UNION ALL SELECT t FROM e1) GROUP BY id),
        |e2 AS (SELECT s, t FROM e1
        |       WHERE s IN (SELECT id FROM d2 WHERE d >= 2)
        |         AND t IN (SELECT id FROM d2 WHERE d >= 2)),
        |d3 AS (SELECT id, count(*) AS d FROM (
        |         SELECT s AS id FROM e2 UNION ALL SELECT t FROM e2) GROUP BY id),
        |e3 AS (SELECT s, t FROM e2
        |       WHERE s IN (SELECT id FROM d3 WHERE d >= 2)
        |         AND t IN (SELECT id FROM d3 WHERE d >= 2))
        |SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
        |  SELECT s AS id FROM e3 UNION ALL SELECT t FROM e3)
        |GROUP BY id ORDER BY id""".stripMargin,
    // BFS: the oracle replays the frontier expansion itself — a
    // recursive distinct-UNION worklist of (node, depth) pairs over
    // the same symmetric adjacency, then min depth per node
    "graph_bfs" ->
      """WITH RECURSIVE users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 100),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |br AS (SELECT u AS s, u + 1 AS t FROM users WHERE u % 10 = 9 AND u < 90),
        |e AS (SELECT s, t FROM cl UNION SELECT s, t FROM br),
        |und AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
        |walk(node, d) AS (
        |  SELECT u, 0 FROM users WHERE u IN (0, 55)
        |  UNION
        |  SELECT und.t, walk.d + 1 FROM walk JOIN und ON und.s = walk.node
        |  WHERE walk.d < 64)
        |SELECT node AS id, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY id""".stripMargin,
    // ANF: exact neighborhood function replayed by a recursive
    // all-pairs BFS CTE on the clamped fixture; the HyperBall estimate
    // is gated by the ±25% verdict (SF-invariant fixture class)
    "graph_anf" ->
      """WITH RECURSIVE users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 40),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |br AS (SELECT u AS s, u + 1 AS t FROM users WHERE u % 10 = 9 AND u < 30),
        |e AS (SELECT s, t FROM cl UNION SELECT s, t FROM br),
        |und AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
        |walk(src, node, d) AS (
        |  SELECT u, u, 0 FROM users
        |  UNION
        |  SELECT walk.src, und.t, walk.d + 1 FROM walk
        |  JOIN und ON und.s = walk.node WHERE walk.d < 64),
        |md AS (SELECT src, node, min(d) AS d FROM walk GROUP BY 1, 2),
        |-- every depth 0..diameter is realized by some pair (shortest
        |-- paths have prefixes of every length), so DISTINCT d IS the
        |-- full depth axis
        |ts AS (SELECT DISTINCT d AS t FROM md)
        |SELECT ts.t,
        |       CAST((SELECT count(*) FROM md WHERE md.d <= ts.t) AS BIGINT)
        |         AS exact_pairs,
        |       true AS anf_ok
        |FROM ts
        |ORDER BY ts.t""".stripMargin,
    // triangles: wedge join + closing-edge check on the canonical
    // a<b edge set, per-node participation, integral lcc grid
    "graph_triangles" ->
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 150),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |br AS (SELECT u AS s, u + 1 AS t FROM users WHERE u % 10 = 9 AND u < 140),
        |e AS (SELECT s, t FROM cl UNION SELECT s, t FROM br),
        |deg AS (SELECT id, count(*) AS degree FROM (
        |          SELECT s AS id FROM e UNION ALL SELECT t FROM e)
        |        GROUP BY id),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |        FROM e e1 JOIN e e2 ON e1.s = e2.s AND e1.t < e2.t
        |                  JOIN e e3 ON e3.s = e1.t AND e3.t = e2.t),
        |pn AS (SELECT id, count(*) AS triangles FROM (
        |          SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |          UNION ALL SELECT c FROM tri)
        |        GROUP BY id)
        |SELECT d.id, CAST(d.degree AS BIGINT) AS degree,
        |  CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
        |  CAST(CASE WHEN d.degree >= 2
        |       THEN coalesce(pn.triangles, 0) * 2000000 // (d.degree * (d.degree - 1))
        |       ELSE 0 END AS BIGINT) AS lcc_micro
        |FROM deg d LEFT JOIN pn ON d.id = pn.id
        |ORDER BY d.id""".stripMargin,
    // synchronous LPA: two unrolled majority rounds, ties to the
    // smallest label; bridges stay outvoted so decades survive
    "graph_communities" ->
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 150),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |br AS (SELECT u AS s, u + 1 AS t FROM users WHERE u % 10 = 9 AND u < 140),
        |und AS (SELECT s, t FROM cl UNION SELECT s, t FROM br),
        |edges AS (SELECT s AS src, t AS dst FROM und
        |          UNION SELECT t, s FROM und),
        |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM edges),
        |v1 AS (SELECT e.src AS id, l.lab, count(*) AS n
        |       FROM edges e JOIN l0 l ON e.dst = l.id GROUP BY e.src, l.lab),
        |l1 AS (SELECT id, lab FROM (
        |         SELECT id, lab,
        |                row_number() OVER (PARTITION BY id ORDER BY n DESC, lab ASC) AS rk
        |         FROM v1) WHERE rk = 1),
        |v2 AS (SELECT e.src AS id, l.lab, count(*) AS n
        |       FROM edges e JOIN l1 l ON e.dst = l.id GROUP BY e.src, l.lab),
        |l2 AS (SELECT id, lab FROM (
        |         SELECT id, lab,
        |                row_number() OVER (PARTITION BY id ORDER BY n DESC, lab ASC) AS rk
        |         FROM v2) WHERE rk = 1)
        |SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
        |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
        |FROM l2 GROUP BY lab ORDER BY community""".stripMargin,
    // the DEFAULT curation chain replayed END-TO-END: gopher gate, md5
    // exact dedup, then the DEFAULT banded near-dup strategy itself —
    // portable-md5 minhash signatures, band buckets, the pair-budget
    // guard, candidate est-gate, exact-Jaccard verify on the staged
    // shingles — recursive closure, md5 split, totals + telemetry.
    // The oracle replays the LOSSY chain bit-for-bit, so there is no
    // recall verdict and no SF dependence (round-14 lesson: truth-set
    // oracles over lossy candidate schemes are SF coin tosses; a
    // same-chain replay is not).
    "corpus_curation_pipeline" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' near duplicate tail'
        |  FROM documents WHERE doc_id % 50 = 0),
        |alle AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM base
        |  WHERE doc_id % 40 = 0 AND doc_id < 1000000),
        |tok AS (SELECT doc_id, text,
        |               regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |        FROM alle),
        |gq AS (
        |  SELECT doc_id, text, ws FROM (
        |    SELECT doc_id, text, ws,
        |      CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS mwl,
        |      CAST(list_max(list_transform(list_distinct(ws),
        |             w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / len(ws) AS twf,
        |      CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dbf
        |    FROM (SELECT doc_id, text, ws,
        |            CASE WHEN len(ws) >= 2
        |                 THEN [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]
        |                 ELSE [array_to_string(ws, ' ')] END AS bg
        |          FROM tok))
        |  WHERE mwl BETWEEN 3.0 AND 10.0 AND twf <= 0.2 AND dbf <= 0.2),
        |ek AS (
        |  SELECT doc_id, text, ws FROM (
        |    SELECT doc_id, text, ws,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM gq)
        |  WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(ws) >= 3
        |           THEN [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]
        |           ELSE [array_to_string(ws, ' ')]
        |      END) AS s
        |  FROM ek),
        |shing AS (SELECT doc_id AS id, unnest(s) AS g FROM sh),
        |minh AS (
        |  SELECT id, sd.seed, min(md5(sd.seed::varchar || ':' || g)) AS mh
        |  FROM shing CROSS JOIN generate_series(0, 31) sd(seed)
        |  GROUP BY id, sd.seed),
        |sigs AS (SELECT id, list(mh ORDER BY seed) AS sig FROM minh GROUP BY id),
        |banded AS (
        |  SELECT id, b.band,
        |    md5(array_to_string(sig[b.band*4+1 : b.band*4+4], '|')) AS bh
        |  FROM sigs CROSS JOIN generate_series(0, 7) b(band)),
        |buck AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING count(*) <= 2000),
        |bounded AS (SELECT banded.id, banded.band, banded.bh FROM banded JOIN buck USING (band, bh)),
        |cand AS (
        |  SELECT DISTINCT a.id AS ia, b.id AS ib
        |  FROM bounded a JOIN bounded b USING (band, bh)
        |  WHERE a.id < b.id),
        |est AS (
        |  SELECT c.ia, c.ib FROM cand c
        |  JOIN sigs sa ON sa.id = c.ia
        |  JOIN sigs sb ON sb.id = c.ib
        |  WHERE len(list_filter(generate_series(1, 32), i -> sa.sig[i] = sb.sig[i])) / 32.0 >= 0.5),
        |p AS (
        |  SELECT e.ia, e.ib FROM est e
        |  JOIN sh a ON a.doc_id = e.ia
        |  JOIN sh b ON b.doc_id = e.ib
        |  WHERE len(list_intersect(a.s, b.s)) * 1000000
        |        // (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 500000),
        |edges AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
        |dropn AS (SELECT id FROM comp WHERE id <> c),
        |surv AS (SELECT ek.doc_id, ek.ws FROM ek
        |         LEFT JOIN dropn d ON ek.doc_id = d.id WHERE d.id IS NULL),
        |tele AS (SELECT
        |  (SELECT count(*) FROM alle) AS n_input,
        |  (SELECT count(*) FROM gq) AS n_quality,
        |  (SELECT count(*) FROM ek) AS n_exact_kept,
        |  (SELECT count(*) FROM surv) AS n_near_kept),
        |spl AS (SELECT doc_id, len(ws) AS nt,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
        |  FROM surv)
        |SELECT CASE WHEN bkt < 90 THEN 'train'
        |            WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(t.n_input AS BIGINT) AS n_input,
        |  CAST(t.n_quality AS BIGINT) AS n_quality,
        |  CAST(t.n_exact_kept AS BIGINT) AS n_exact_kept,
        |  CAST(t.n_near_kept AS BIGINT) AS n_near_kept
        |FROM spl, tele t
        |GROUP BY 1, t.n_input, t.n_quality, t.n_exact_kept, t.n_near_kept
        |ORDER BY split""".stripMargin,
    // the LOSSLESS curation chain replayed: gopher gate, md5 exact
    // dedup, inverted-index jaccard + recursive closure (lossless ⇒
    // equals the prefix-filtered path), md5 split, totals + telemetry
    "corpus_curation_pipeline_lossless" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' near duplicate tail'
        |  FROM documents WHERE doc_id % 50 = 0),
        |alle AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM base
        |  WHERE doc_id % 40 = 0 AND doc_id < 1000000),
        |tok AS (SELECT doc_id, text,
        |               regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |        FROM alle),
        |gq AS (
        |  SELECT doc_id, text, ws FROM (
        |    SELECT doc_id, text, ws,
        |      CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS mwl,
        |      CAST(list_max(list_transform(list_distinct(ws),
        |             w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / len(ws) AS twf,
        |      CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dbf
        |    FROM (SELECT doc_id, text, ws,
        |            CASE WHEN len(ws) >= 2
        |                 THEN [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]
        |                 ELSE [array_to_string(ws, ' ')] END AS bg
        |          FROM tok))
        |  WHERE mwl BETWEEN 3.0 AND 10.0 AND twf <= 0.2 AND dbf <= 0.2),
        |ek AS (
        |  SELECT doc_id, text, ws FROM (
        |    SELECT doc_id, text, ws,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM gq)
        |  WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(ws) >= 3
        |           THEN [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]
        |           ELSE [array_to_string(ws, ' ')]
        |      END) AS s
        |  FROM ek),
        |gr AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |szs AS (SELECT doc_id, len(s) AS n FROM sh),
        |cmn AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT ia, ib FROM cmn
        |  JOIN szs sa ON ia = sa.doc_id
        |  JOIN szs sb ON ib = sb.doc_id
        |  WHERE c * 1000000 // (sa.n + sb.n - c) >= 500000),
        |edges AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
        |dropn AS (SELECT id FROM comp WHERE id <> c),
        |surv AS (SELECT ek.doc_id, ek.ws FROM ek
        |         LEFT JOIN dropn d ON ek.doc_id = d.id WHERE d.id IS NULL),
        |tele AS (SELECT
        |  (SELECT count(*) FROM alle) AS n_input,
        |  (SELECT count(*) FROM gq) AS n_quality,
        |  (SELECT count(*) FROM ek) AS n_exact_kept,
        |  (SELECT count(*) FROM surv) AS n_near_kept),
        |spl AS (SELECT doc_id, len(ws) AS nt,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
        |  FROM surv)
        |SELECT CASE WHEN bkt < 90 THEN 'train'
        |            WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(t.n_input AS BIGINT) AS n_input,
        |  CAST(t.n_quality AS BIGINT) AS n_quality,
        |  CAST(t.n_exact_kept AS BIGINT) AS n_exact_kept,
        |  CAST(t.n_near_kept AS BIGINT) AS n_near_kept
        |FROM spl, tele t
        |GROUP BY 1, t.n_input, t.n_quality, t.n_exact_kept, t.n_near_kept
        |ORDER BY split""".stripMargin,    // minhash-banded curation variant: emitted rows are the EXACT
    // chain (same replay as corpus_curation_pipeline); minhash_ok is
    // asserted true — the banded recall check runs in-plan Spark-side
"corpus_curation_pipeline_minhash" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' near duplicate tail'
        |  FROM documents WHERE doc_id % 50 = 0),
        |alle AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM base
        |  WHERE doc_id % 40 = 0 AND doc_id < 1000000),
        |tok AS (SELECT doc_id, text,
        |               regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |        FROM alle),
        |gq AS (
        |  SELECT doc_id, text, ws FROM (
        |    SELECT doc_id, text, ws,
        |      CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS mwl,
        |      CAST(list_max(list_transform(list_distinct(ws),
        |             w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / len(ws) AS twf,
        |      CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dbf
        |    FROM (SELECT doc_id, text, ws,
        |            CASE WHEN len(ws) >= 2
        |                 THEN [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]
        |                 ELSE [array_to_string(ws, ' ')] END AS bg
        |          FROM tok))
        |  WHERE mwl BETWEEN 3.0 AND 10.0 AND twf <= 0.2 AND dbf <= 0.2),
        |ek AS (
        |  SELECT doc_id, text, ws FROM (
        |    SELECT doc_id, text, ws,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM gq)
        |  WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(ws) >= 3
        |           THEN [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]
        |           ELSE [array_to_string(ws, ' ')]
        |      END) AS s
        |  FROM ek),
        |gr AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |szs AS (SELECT doc_id, len(s) AS n FROM sh),
        |cmn AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT ia, ib FROM cmn
        |  JOIN szs sa ON ia = sa.doc_id
        |  JOIN szs sb ON ib = sb.doc_id
        |  WHERE c * 1000000 // (sa.n + sb.n - c) >= 500000),
        |edges AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
        |dropn AS (SELECT id FROM comp WHERE id <> c),
        |surv AS (SELECT ek.doc_id, ek.ws FROM ek
        |         LEFT JOIN dropn d ON ek.doc_id = d.id WHERE d.id IS NULL),
        |tele AS (SELECT
        |  (SELECT count(*) FROM alle) AS n_input,
        |  (SELECT count(*) FROM gq) AS n_quality,
        |  (SELECT count(*) FROM ek) AS n_exact_kept,
        |  (SELECT count(*) FROM surv) AS n_near_kept),
        |spl AS (SELECT doc_id, len(ws) AS nt,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
        |  FROM surv)
        |SELECT CASE WHEN bkt < 90 THEN 'train'
        |            WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(t.n_input AS BIGINT) AS n_input,
        |  CAST(t.n_quality AS BIGINT) AS n_quality,
        |  CAST(t.n_exact_kept AS BIGINT) AS n_exact_kept,
        |  CAST(t.n_near_kept AS BIGINT) AS n_near_kept,
        |  true AS minhash_ok
        |FROM spl, tele t
        |GROUP BY 1, t.n_input, t.n_quality, t.n_exact_kept, t.n_near_kept
        |ORDER BY split""".stripMargin,
    // prefix-filtered Jaccard is LOSSLESS, so the oracle is the plain
    // all-pairs truth set with the exact integer Jaccard
    "dedup_prefix_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' near duplicate tail' AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 3
        |           THEN [array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+2], ' ')
        |                 for i in range(1, len(regexp_split_to_array(lower(trim(text)), '\s+')) - 1)]
        |           ELSE [array_to_string(regexp_split_to_array(lower(trim(text)), '\s+'), ' ')]
        |      END) AS s
        |  FROM docs),
        |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS c
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, sa.n AS sz_a, sb.n AS sz_b, c AS inter,
        |       c * 1000000 // (sa.n + sb.n - c) AS jaccard_micro
        |FROM common
        |JOIN sz sa ON id_a = sa.doc_id
        |JOIN sz sb ON id_b = sb.doc_id
        |WHERE c * 1000000 // (sa.n + sb.n - c) >= 500000
        |ORDER BY id_a, id_b""".stripMargin,
    // absorb == rebuild: the oracle closes base ∪ increment edges
    // transitively from scratch; the Spark side reaches the same
    // labels through the persisted store's absorb path
    "dedup_clusters_incremental" ->
      """WITH RECURSIVE ids AS (
        |  SELECT vec_id AS i FROM embeddings WHERE vec_id < 200),
        |base AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 10 < 3),
        |inc AS (
        |  SELECT i AS a, i + 1 AS b FROM ids WHERE i % 10 = 3
        |  UNION ALL
        |  SELECT i AS a, i + 6 AS b FROM ids WHERE i % 20 = 4),
        |alle AS (SELECT a, b FROM base UNION ALL SELECT a, b FROM inc),
        |edges AS (SELECT a AS src, b AS dst FROM alle
        |          UNION SELECT b, a FROM alle),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id AS vec_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    "text_scrub_pii" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     text || ' contact user' || doc_id || '@mail.example or call +1-555-0100 today',
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,
    // full replay of the portable-md5 MinHash+LSH pipeline: same seeded
    // shingle hashes, 32 running minimums, 8 band hashes, bucket-size
    // guard, and k/32 signature-agreement estimate as the Spark plan
    "dedup_minhash_lsh" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' near duplicate tail'
        |  FROM documents WHERE doc_id % 50 = 0),
        |toks AS (
        |  SELECT doc_id AS id, string_split_regex(lower(trim(text)), '\s+') AS t FROM base),
        |grams AS (
        |  SELECT id,
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' '))
        |      ELSE [array_to_string(t, ' ')] END AS g
        |  FROM toks),
        |shing AS (SELECT DISTINCT id, unnest(g) AS sh FROM grams),
        |minh AS (
        |  SELECT id, s.seed, min(md5(s.seed::varchar || ':' || sh)) AS mh
        |  FROM shing CROSS JOIN generate_series(0, 31) s(seed)
        |  GROUP BY id, s.seed),
        |sigs AS (SELECT id, list(mh ORDER BY seed) AS sig FROM minh GROUP BY id),
        |banded AS (
        |  SELECT id, b.band,
        |    md5(array_to_string(sig[b.band*4+1 : b.band*4+4], '|')) AS bh
        |  FROM sigs CROSS JOIN generate_series(0, 7) b(band)),
        |buck AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING count(*) <= 2000),
        |bounded AS (SELECT banded.id, banded.band, banded.bh FROM banded JOIN buck USING (band, bh)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bounded a JOIN bounded b USING (band, bh)
        |  WHERE a.id < b.id),
        |est AS (
        |  SELECT c.id_a, c.id_b,
        |    len(list_filter(generate_series(1, 32), i -> sa.sig[i] = sb.sig[i])) / 32.0 AS est_jaccard
        |  FROM cand c
        |  JOIN sigs sa ON sa.id = c.id_a
        |  JOIN sigs sb ON sb.id = c.id_b)
        |SELECT id_a, id_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // b-bit minhash: last-hex-char sketches + the integer-grid
    // unbiased estimate over the same replayed candidate pairs
    "dedup_minhash_bbit" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' near duplicate tail'
        |  FROM documents WHERE doc_id % 50 = 0),
        |toks AS (
        |  SELECT doc_id AS id, string_split_regex(lower(trim(text)), '\s+') AS t FROM base),
        |grams AS (
        |  SELECT id,
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' '))
        |      ELSE [array_to_string(t, ' ')] END AS g
        |  FROM toks),
        |shing AS (SELECT DISTINCT id, unnest(g) AS sh FROM grams),
        |minh AS (
        |  SELECT id, s.seed, min(md5(s.seed::varchar || ':' || sh)) AS mh
        |  FROM shing CROSS JOIN generate_series(0, 31) s(seed)
        |  GROUP BY id, s.seed),
        |sigs AS (SELECT id, list(mh ORDER BY seed) AS sig FROM minh GROUP BY id),
        |banded AS (
        |  SELECT id, b.band,
        |    md5(array_to_string(sig[b.band*4+1 : b.band*4+4], '|')) AS bh
        |  FROM sigs CROSS JOIN generate_series(0, 7) b(band)),
        |buck AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING count(*) <= 2000),
        |bounded AS (SELECT banded.id, banded.band, banded.bh FROM banded JOIN buck USING (band, bh)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bounded a JOIN bounded b USING (band, bh)
        |  WHERE a.id < b.id),
        |est AS (
        |  SELECT c.id_a, c.id_b,
        |    len(list_filter(generate_series(1, 32), i -> sa.sig[i] = sb.sig[i])) / 32.0 AS est_jaccard
        |  FROM cand c
        |  JOIN sigs sa ON sa.id = c.id_a
        |  JOIN sigs sb ON sb.id = c.id_b
        |  WHERE len(list_filter(generate_series(1, 32), i -> sa.sig[i] = sb.sig[i])) / 32.0 >= 0.5),
        |bb AS (SELECT id, list_transform(sig, h -> substr(h, 32, 1)) AS bb FROM sigs),
        |bbp AS (
        |  SELECT e.id_a, e.id_b, e.est_jaccard,
        |         len(list_filter(generate_series(1, 32), i -> ba.bb[i] = bz.bb[i])) AS k
        |  FROM est e JOIN bb ba ON ba.id = e.id_a JOIN bb bz ON bz.id = e.id_b)
        |SELECT id_a, id_b, est_jaccard,
        |       CAST(k AS BIGINT) AS agree_bbit,
        |       CAST(greatest(0, floor((k * 16 - 32) * 1000000.0 / 480)) AS BIGINT)
        |         AS est_bbit_micro
        |FROM bbp ORDER BY id_a, id_b""".stripMargin,
    "dedup_global_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(ws) >= 3
        |           THEN [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]
        |           ELSE [array_to_string(ws, ' ')]
        |      END) AS gs
        |  FROM t),
        |e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |d AS (SELECT gram FROM e GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, count(*) AS dup_grams FROM e JOIN d USING (gram) GROUP BY doc_id)
        |SELECT g.doc_id,
        |  CAST(len(g.gs) AS BIGINT) AS n_grams,
        |  CAST(coalesce(dp.dup_grams, 0) AS BIGINT) AS dup_grams,
        |  round(CAST(coalesce(dp.dup_grams, 0) AS DOUBLE) / len(g.gs), 4) AS dup_frac
        |FROM g LEFT JOIN dp ON g.doc_id = dp.doc_id
        |WHERE g.doc_id < 30
        |ORDER BY g.doc_id""".stripMargin,
    // full replay of the decontamination flag: distinct word 4-grams
    // per doc, eval-gram set from the planted doc_id % 50 == 7 subset,
    // per-doc overlap count, contaminated = any overlap
    "decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(ws) >= 4
        |           THEN [array_to_string(ws[i:i+3], ' ') for i in range(1, len(ws) - 2)]
        |           ELSE [array_to_string(ws, ' ')]
        |      END) AS gs
        |  FROM t),
        |e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |ev AS (SELECT DISTINCT gram FROM e WHERE doc_id % 50 = 7),
        |hits AS (
        |  SELECT e.doc_id, count(*) AS eval_hits
        |  FROM e JOIN ev USING (gram) GROUP BY e.doc_id)
        |SELECT g.doc_id,
        |  CAST(len(g.gs) AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.eval_hits, 0) AS BIGINT) AS eval_hits,
        |  coalesce(h.eval_hits, 0) > 0 AS contaminated
        |FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // clean->gate->floor->sample composition: every stage's replay
    // chained in one oracle
    "pipeline_clean_sample" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |         '=== ' || source || ' header ===' || chr(10) ||
        |         text || chr(10) ||
        |         CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
        |              ELSE 'contact us at ' || source || '.example' END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |         unnest(str_split(text, chr(10))) AS line,
        |         unnest(range(1, len(str_split(text, chr(10))) + 1)) AS pos
        |  FROM docs2),
        |freq AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line)
        |  WHERE nd >= 10),
        |flagged AS (
        |  SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS hit
        |  FROM lines l LEFT JOIN freq f USING (line)),
        |rebuilt AS (
        |  SELECT doc_id,
        |         coalesce(string_agg(line, chr(10) ORDER BY pos)
        |                    FILTER (WHERE NOT hit), '') AS text,
        |         CAST(sum(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines
        |  FROM flagged GROUP BY doc_id),
        |blkc AS (
        |  SELECT doc_id, text, kept_lines,
        |    len([i for i in range(1, length(lower(text)) - 8)
        |         if substr(lower(text), i, 10) = 'fast table']) +
        |    len([i for i in range(1, length(lower(text)) - 9)
        |         if substr(lower(text), i, 11) = 'merge batch']) AS hits
        |  FROM rebuilt),
        |keep1 AS (SELECT doc_id, text, kept_lines FROM blkc WHERE hits = 0),
        |toksp AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM keep1),
        |counts AS (
        |  SELECT doc_id, w, count(*) AS k FROM toksp GROUP BY doc_id, w),
        |withn AS (
        |  SELECT doc_id, k, sum(k) OVER (PARTITION BY doc_id) AS n FROM counts),
        |ent AS (
        |  SELECT doc_id,
        |         CAST(max(n) AS BIGINT) AS n_tokens,
        |         CAST(-sum(k * CAST(floor(ln(CAST(k AS DOUBLE) / n) * 1e6) AS BIGINT))
        |              AS BIGINT) AS entropy_micro
        |  FROM withn GROUP BY doc_id),
        |gated AS (
        |  SELECT k.doc_id, k.kept_lines, e.n_tokens, e.entropy_micro
        |  FROM keep1 k JOIN ent e USING (doc_id)
        |  WHERE e.entropy_micro >= 2000000),
        |keyed AS (
        |  SELECT doc_id, kept_lines, n_tokens, entropy_micro,
        |    CAST(floor(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |                     % 1000000 + 1) / 1000000.0) / n_tokens * 1e6) AS BIGINT)
        |      AS key_micro
        |  FROM gated)
        |SELECT doc_id, kept_lines, n_tokens, entropy_micro, key_micro
        |FROM keyed ORDER BY key_micro DESC, doc_id LIMIT 20""".stripMargin,
    // weighted sample: md5 uniforms + exponential keys replay exactly
    "weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |            % 1000000 + 1) / 1000000.0 AS u
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |       CAST(floor(ln(u) / n_chars * 1e6) AS BIGINT) AS key_micro
        |FROM t ORDER BY key_micro DESC, doc_id LIMIT 25""".stripMargin,
    // token entropy: µ-nat grid sums replay exactly
    "text_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |counts AS (
        |  SELECT doc_id, w, count(*) AS k FROM toks GROUP BY doc_id, w),
        |withn AS (
        |  SELECT doc_id, k, sum(k) OVER (PARTITION BY doc_id) AS n FROM counts)
        |SELECT doc_id,
        |       CAST(max(n) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS distinct_tokens,
        |       CAST(-sum(k * CAST(floor(ln(CAST(k AS DOUBLE) / n) * 1e6) AS BIGINT))
        |            AS BIGINT) AS entropy_micro
        |FROM withn GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // JL projection: md5 integer matrix + decimal sums replay every
    // coordinate
    "embed_project" ->
      """WITH r AS (
        |  SELECT i.i, j.j,
        |         CAST('0x' || substr(md5(i.i || '_' || j.j), 1, 15) AS BIGINT)
        |           % 2001 - 1000 AS r
        |  FROM generate_series(0, 7) AS i(i), generate_series(0, 63) AS j(j)),
        |x AS (
        |  SELECT vec_id,
        |         unnest(CAST(embedding AS DOUBLE[])) AS xj,
        |         unnest(range(0, 64)) AS j
        |  FROM embeddings),
        |p AS (
        |  SELECT vec_id, r.i, sum(CAST(x.xj * r.r AS DECIMAL(28,14))) AS y
        |  FROM x JOIN r ON x.j = r.j GROUP BY vec_id, r.i)
        |SELECT vec_id,
        |       round(CAST(max(CASE WHEN i = 0 THEN y END) AS DOUBLE), 6) AS p0,
        |       round(CAST(max(CASE WHEN i = 1 THEN y END) AS DOUBLE), 6) AS p1,
        |       round(CAST(max(CASE WHEN i = 2 THEN y END) AS DOUBLE), 6) AS p2,
        |       round(CAST(max(CASE WHEN i = 3 THEN y END) AS DOUBLE), 6) AS p3,
        |       round(CAST(max(CASE WHEN i = 4 THEN y END) AS DOUBLE), 6) AS p4,
        |       round(CAST(max(CASE WHEN i = 5 THEN y END) AS DOUBLE), 6) AS p5,
        |       round(CAST(max(CASE WHEN i = 6 THEN y END) AS DOUBLE), 6) AS p6,
        |       round(CAST(max(CASE WHEN i = 7 THEN y END) AS DOUBLE), 6) AS p7
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // blocklist: overlapping-occurrence counts replayed by position
    // enumeration per (doc, pattern)
    "text_blocklist" ->
      """WITH pats AS (
        |  SELECT unnest(['fast table','slow','value table','a row']) AS p),
        |t AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         CAST(len([i for i in range(1, length(t) - length(p) + 2)
        |                   if substr(t, i, length(p)) = p]) AS BIGINT) AS c
        |  FROM t, pats),
        |a AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS hits,
        |         CAST(count(*) FILTER (WHERE c > 0) AS BIGINT) AS patterns_hit
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id, hits, patterns_hit, hits > 0 AS blocked
        |FROM a ORDER BY doc_id""".stripMargin,
    // distinct-n diversity: bigram totals/distincts/ratio replay
    "text_diversity" ->
      """WITH t AS (
        |  SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |gr AS (
        |  SELECT lang,
        |         unnest(CASE WHEN len(ws) >= 2
        |                     THEN [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]
        |                     ELSE [array_to_string(ws, ' ')] END) AS g
        |  FROM t)
        |SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
        |       round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 4) AS distinct_ratio
        |FROM gr GROUP BY lang ORDER BY lang""".stripMargin,
    // length buckets: explicit power-of-two boundary ladder + exact
    // padding ledger replay
    "length_buckets" ->
      """WITH t AS (
        |  SELECT len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n
        |  FROM documents),
        |b AS (
        |  SELECT n,
        |         CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
        |              WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
        |              WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |              ELSE 1024 END AS bucket_size
        |  FROM t)
        |SELECT CAST(bucket_size AS BIGINT) AS bucket_size,
        |       CAST(count(*) AS BIGINT) AS n_seqs,
        |       CAST(sum(LEAST(n, bucket_size)) AS BIGINT) AS total_tokens,
        |       CAST(count(*) * bucket_size AS BIGINT) AS padded_tokens,
        |       round(CAST(count(*) * bucket_size - sum(LEAST(n, bucket_size)) AS DOUBLE) /
        |             (count(*) * bucket_size), 4) AS waste_pct
        |FROM b GROUP BY bucket_size ORDER BY bucket_size""".stripMargin,
    // corpus overlap: exact halves + intersection replay; the HLL
    // inclusion-exclusion estimate gates via the 25% verdict
    "corpus_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(ws) >= 2
        |                     THEN [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]
        |                     ELSE [array_to_string(ws, ' ')] END) AS g
        |  FROM t),
        |a AS (SELECT DISTINCT g FROM gr WHERE doc_id % 2 = 0),
        |b AS (SELECT DISTINCT g FROM gr WHERE doc_id % 2 = 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
        |       (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
        |       (SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (g)) AS exact_overlap,
        |       true AS overlap_ok""".stripMargin,
    // NFC normalization: decomposed decorations composed identically
    // by both engines; md5 of the normalized bytes gates every row
    "text_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber no' ||
        |           chr(776) || 'el' AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t, nfc_normalize(t) AS nt FROM d)
        |SELECT doc_id,
        |       CAST(strlen(t) AS BIGINT) AS raw_bytes,
        |       CAST(strlen(nt) AS BIGINT) AS norm_bytes,
        |       md5(nt) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin,
    // sorted-neighborhood: bucketed window lags + exact integer
    // Jaccard replay candidate-for-candidate
    "dedup_sorted_neighborhood" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' near duplicate tail'
        |  FROM documents WHERE doc_id % 50 = 0),
        |t AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM corpus),
        |k AS (
        |  SELECT doc_id, list_distinct(ws) AS toks, ws[1] AS bucket,
        |         array_to_string(ws[1:6], ' ') AS key
        |  FROM t),
        |lagged AS (
        |  SELECT doc_id, toks,
        |         lag(doc_id, 1) OVER w AS id1, lag(toks, 1) OVER w AS tk1,
        |         lag(doc_id, 2) OVER w AS id2, lag(toks, 2) OVER w AS tk2
        |  FROM k WINDOW w AS (PARTITION BY bucket ORDER BY key, doc_id)),
        |cand AS (
        |  SELECT doc_id AS b_id, id1 AS a_id, toks, tk1 AS atoks
        |  FROM lagged WHERE id1 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, id2, toks, tk2 FROM lagged WHERE id2 IS NOT NULL),
        |sims AS (
        |  SELECT LEAST(a_id, b_id) AS id_a, GREATEST(a_id, b_id) AS id_b,
        |         len(list_intersect(toks, atoks)) AS inter,
        |         len(list_distinct(list_concat(toks, atoks))) AS uni
        |  FROM cand)
        |SELECT DISTINCT id_a, id_b,
        |       CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
        |FROM sims WHERE inter * 5 >= uni * 4
        |ORDER BY id_a, id_b""".stripMargin,
    // sketch-store absorb: exact corpus metrics replay; the four
    // element-equality verdicts gate the parquet round trip + in-plan
    // merge (exact by construction — see sketchAbsorb's scaladoc)
    // log-bucket quantile sketch: bucket = value truncated to its top
    // 8 significant bits — pure integer bit math, so estimates, exact
    // order statistics, AND the containment-bound verdict all replay;
    // merge==rebuild is proven Spark-side (asserted true here)
    "sketch_quantiles" ->
      """WITH vals AS (
        |  SELECT o_orderpriority AS prio,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |bk AS (
        |  SELECT prio,
        |    CASE WHEN length(bin(cents)) - 1 <= 7 THEN cents
        |         ELSE (cents >> (length(bin(cents)) - 8))
        |              << (length(bin(cents)) - 8) END AS qb
        |  FROM vals),
        |sk AS (SELECT prio, qb, count(*) AS n FROM bk GROUP BY 1, 2),
        |cum AS (SELECT prio, qb,
        |          sum(n) OVER (PARTITION BY prio ORDER BY qb) AS c,
        |          sum(n) OVER (PARTITION BY prio) AS t
        |        FROM sk),
        |est AS (SELECT prio,
        |    min(CASE WHEN c * 2 >= t THEN qb END) AS p50_est,
        |    min(CASE WHEN c * 20 >= t * 19 THEN qb END) AS p95_est,
        |    min(CASE WHEN c * 100 >= t * 99 THEN qb END) AS p99_est
        |  FROM cum GROUP BY 1),
        |rk AS (SELECT prio, cents,
        |         row_number() OVER (PARTITION BY prio ORDER BY cents) AS r,
        |         count(*) OVER (PARTITION BY prio) AS n
        |       FROM vals),
        |ex AS (SELECT prio,
        |    min(CASE WHEN r * 2 >= n THEN cents END) AS p50_ex,
        |    min(CASE WHEN r * 20 >= n * 19 THEN cents END) AS p95_ex,
        |    min(CASE WHEN r * 100 >= n * 99 THEN cents END) AS p99_ex
        |  FROM rk GROUP BY 1)
        |SELECT e.prio,
        |  CAST(p50_est AS BIGINT) AS p50_est,
        |  CAST(p95_est AS BIGINT) AS p95_est,
        |  CAST(p99_est AS BIGINT) AS p99_est,
        |  CAST(p50_ex AS BIGINT) AS p50_ex,
        |  CAST(p95_ex AS BIGINT) AS p95_ex,
        |  CAST(p99_ex AS BIGINT) AS p99_ex,
        |  (p50_est <= p50_ex AND p50_ex - p50_est <= (p50_est >> 7)
        |   AND p95_est <= p95_ex AND p95_ex - p95_est <= (p95_est >> 7)
        |   AND p99_est <= p99_ex AND p99_ex - p99_est <= (p99_est >> 7))
        |    AS bounds_ok,
        |  TRUE AS merge_ok
        |FROM est e JOIN ex x ON e.prio = x.prio
        |ORDER BY e.prio""".stripMargin,
    "sketch_absorb" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |m AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS nd,
        |             CAST(count(*) AS BIGINT) AS nt FROM toks)
        |SELECT kind, exact_metric, true AS absorb_ok FROM (
        |  SELECT 'bloom' AS kind, nd AS exact_metric FROM m
        |  UNION ALL SELECT 'cms', nt FROM m
        |  UNION ALL SELECT 'hist', nt FROM m
        |  UNION ALL SELECT 'hll', nd FROM m)
        |ORDER BY kind""".stripMargin,
    // histogram quantiles: exact interpolated percentiles replay; the
    // sketch reads gate via the two-bucket-width verdicts
    "hist_quantiles" ->
      """SELECT round(quantile_cont(n_chars, 0.25), 2) AS p25,
        |       round(quantile_cont(n_chars, 0.5), 2) AS p50,
        |       round(quantile_cont(n_chars, 0.75), 2) AS p75,
        |       round(quantile_cont(n_chars, 0.95), 2) AS p95,
        |       true AS ok25, true AS ok50, true AS ok75, true AS ok95
        |FROM documents""".stripMargin,
    // PageRank: 3 power iterations unrolled as CTEs on the integer
    // micro-grid — floor divisions replay exactly, no float anywhere
    "page_rank" ->
      """WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |edges AS (
        |  SELECT doc_id AS src, (doc_id * 7 + j.i) % nn.n AS dst
        |  FROM documents, nn, generate_series(1, 3) AS j(i)
        |  WHERE (doc_id * 7 + j.i) % nn.n <> doc_id),
        |outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        |nodes AS (SELECT doc_id AS node FROM documents),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS node, sum(r0.r // o.d) AS c
        |  FROM edges e JOIN r0 ON e.src = r0.node JOIN outdeg o ON e.src = o.src
        |  GROUP BY e.dst),
        |r1 AS (
        |  SELECT n.node, CAST(150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
        |c2 AS (
        |  SELECT e.dst AS node, sum(r1.r // o.d) AS c
        |  FROM edges e JOIN r1 ON e.src = r1.node JOIN outdeg o ON e.src = o.src
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT n.node, CAST(150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
        |c3 AS (
        |  SELECT e.dst AS node, sum(r2.r // o.d) AS c
        |  FROM edges e JOIN r2 ON e.src = r2.node JOIN outdeg o ON e.src = o.src
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT n.node, CAST(150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
        |SELECT node AS doc_id, r AS rank_micro
        |FROM r3 ORDER BY rank_micro DESC, doc_id LIMIT 50""".stripMargin,
    // personalized PageRank: seed-conditional teleport + start vector,
    // same unrolled integer iterations
    "page_rank_personalized" ->
      """WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |edges AS (
        |  SELECT doc_id AS src, (doc_id * 7 + j.i) % nn.n AS dst
        |  FROM documents, nn, generate_series(1, 3) AS j(i)
        |  WHERE (doc_id * 7 + j.i) % nn.n <> doc_id),
        |outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        |nodes AS (SELECT doc_id AS node,
        |                 CASE WHEN doc_id % 100 = 0 THEN 1 ELSE 0 END AS s
        |          FROM documents),
        |r0 AS (SELECT node, CAST(s * 1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS node, sum(r0.r // o.d) AS c
        |  FROM edges e JOIN r0 ON e.src = r0.node JOIN outdeg o ON e.src = o.src
        |  GROUP BY e.dst),
        |r1 AS (
        |  SELECT n.node, CAST(n.s * 150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
        |c2 AS (
        |  SELECT e.dst AS node, sum(r1.r // o.d) AS c
        |  FROM edges e JOIN r1 ON e.src = r1.node JOIN outdeg o ON e.src = o.src
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT n.node, CAST(n.s * 150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
        |c3 AS (
        |  SELECT e.dst AS node, sum(r2.r // o.d) AS c
        |  FROM edges e JOIN r2 ON e.src = r2.node JOIN outdeg o ON e.src = o.src
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT n.node, CAST(n.s * 150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
        |SELECT node AS doc_id, r AS rank_micro
        |FROM r3 ORDER BY rank_micro DESC, doc_id LIMIT 50""".stripMargin,
    // bloom decontamination: exact columns replay the decontaminate
    // oracle; the sketch gates via the in-plan no-false-negative and
    // false-positive-bound verdicts
    "bloom_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(ws) >= 4
        |           THEN [array_to_string(ws[i:i+3], ' ') for i in range(1, len(ws) - 2)]
        |           ELSE [array_to_string(ws, ' ')]
        |      END) AS gs
        |  FROM t),
        |e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |ev AS (SELECT DISTINCT gram FROM e WHERE doc_id % 50 = 7),
        |hits AS (
        |  SELECT e.doc_id, count(*) AS eval_hits
        |  FROM e JOIN ev USING (gram) GROUP BY e.doc_id)
        |SELECT g.doc_id,
        |  CAST(len(g.gs) AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.eval_hits, 0) AS BIGINT) AS eval_hits,
        |  coalesce(h.eval_hits, 0) > 0 AS contaminated,
        |  true AS bloom_no_fn,
        |  true AS fp_ok
        |FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // incremental exact dedup replay: md5 fingerprints, keep-first
    // within the increment, anti-join against the store set
    "dedup_incremental_exact" ->
      """WITH store AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id < 400),
        |incoming AS (
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' fresh tail' FROM documents WHERE doc_id % 40 = 1
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 100 = 3),
        |first_per_fp AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |         min(doc_id) AS doc_id
        |  FROM incoming GROUP BY 1)
        |SELECT doc_id, fp FROM first_per_fp
        |WHERE fp NOT IN (SELECT fp FROM store)
        |ORDER BY doc_id""".stripMargin,
    // incremental near-dup replay: portable-md5 minhash signatures for
    // store and increment, store-side bucket guard, band probe,
    // signature-agreement Jaccard estimate
    "dedup_incremental_minhash" ->
      """WITH store_docs AS (SELECT doc_id AS id, text FROM documents),
        |inc_docs AS (
        |  SELECT doc_id + 1000000 AS id, text || ' near duplicate tail' AS text
        |  FROM documents WHERE doc_id % 100 = 0),
        |base AS (SELECT * FROM store_docs UNION ALL SELECT * FROM inc_docs),
        |toks AS (
        |  SELECT id, string_split_regex(lower(trim(text)), '\s+') AS t FROM base),
        |grams AS (
        |  SELECT id,
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' '))
        |      ELSE [array_to_string(t, ' ')] END AS g
        |  FROM toks),
        |shing AS (SELECT DISTINCT id, unnest(g) AS sh FROM grams),
        |minh AS (
        |  SELECT id, s.seed, min(md5(s.seed::varchar || ':' || sh)) AS mh
        |  FROM shing CROSS JOIN generate_series(0, 31) s(seed)
        |  GROUP BY id, s.seed),
        |sigs AS (SELECT id, list(mh ORDER BY seed) AS sig FROM minh GROUP BY id),
        |banded AS (
        |  SELECT id, b.band,
        |    md5(array_to_string(sig[b.band*4+1 : b.band*4+4], '|')) AS bh
        |  FROM sigs CROSS JOIN generate_series(0, 7) b(band)),
        |store_bands AS (SELECT * FROM banded WHERE id < 1000000),
        |inc_bands AS (SELECT * FROM banded WHERE id >= 1000000),
        |buck AS (
        |  SELECT band, bh FROM store_bands GROUP BY band, bh HAVING count(*) <= 2000),
        |bounded AS (
        |  SELECT store_bands.id, store_bands.band, store_bands.bh
        |  FROM store_bands JOIN buck USING (band, bh)),
        |cand AS (
        |  SELECT DISTINCT i.id AS doc_id, s.id AS store_id
        |  FROM inc_bands i JOIN bounded s USING (band, bh)
        |  WHERE i.id != s.id),
        |est AS (
        |  SELECT c.doc_id, c.store_id,
        |    len(list_filter(generate_series(1, 32), i -> sa.sig[i] = sb.sig[i])) / 32.0 AS est_jaccard
        |  FROM cand c
        |  JOIN sigs sa ON sa.id = c.doc_id
        |  JOIN sigs sb ON sb.id = c.store_id)
        |SELECT doc_id, store_id, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5
        |ORDER BY doc_id, store_id""".stripMargin,
    // split assignment replay: md5 bucket -> cumulative range bounds
    "split_assign" ->
      """WITH b AS (
        |  SELECT source,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
        |  FROM documents),
        |s AS (
        |  SELECT source,
        |    CASE WHEN bkt < 90 THEN 'train' WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split
        |  FROM b)
        |SELECT source, split, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY source, split
        |ORDER BY source, split""".stripMargin,
    // leakage-guarded split: copies inherit their chain's base id as
    // the representative (the component minimum), originals are their
    // own; the md5 bucket is split_assign's
    "cluster_aware_split" ->
      """WITH seeds AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
        |alle AS (
        |  SELECT doc_id, doc_id AS rep FROM documents
        |  UNION ALL SELECT doc_id + 2000000, doc_id FROM seeds
        |  UNION ALL SELECT doc_id + 4000000, doc_id FROM seeds),
        |b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
        |  FROM alle),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN bkt < 90 THEN 'train' WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, CAST(count(*) AS BIGINT) AS n, true AS leak_free
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    // suffix array: the oracle sorts the ACTUAL suffix lists (DuckDB
    // list ordering is token-lexicographic, shorter-prefix-first) —
    // the prefix-doubling construction must reproduce every rank
    "suffix_array_ranks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')[1:25] AS ws
        |  FROM documents WHERE doc_id < 40),
        |px AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM t),
        |sfx AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i:] AS suf FROM px)
        |SELECT doc_id, pos,
        |  CAST(row_number() OVER (ORDER BY suf, doc_id, pos) AS BIGINT) AS sa_rank
        |FROM sfx
        |ORDER BY doc_id, pos""".stripMargin,
    // adjacent-LCP repeats: rank the real suffixes, pair consecutive
    // ranks, count agreeing prefixes (prefix equality is monotone, so
    // the filter-count IS the LCP), keep >= 5
    // suffix-driven keep-one span removal: same-8-prefix suffix runs
    // are exactly the 8-gram occurrence groups, so the keep-canonical
    // rewrite replays in gram space — rank occurrences per gram by
    // (doc_id, start), cover everything past rank 1
    "suffix_dedup_spans" ->
      """WITH d0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 1
        |         THEN 'subscribe to our newsletter for updates terms of service apply ' || text
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id < 120),
        |t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM d0),
        |g0 AS (
        |  SELECT doc_id,
        |    unnest([{'s': i, 'g': array_to_string(ws[i:i+7], ' ')}
        |            for i in range(1, greatest(len(ws) - 6, 1))]) AS e
        |  FROM t),
        |g AS (SELECT doc_id, e.s AS start, e.g AS gram FROM g0),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |ranked AS (
        |  SELECT doc_id, start, gram,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rk
        |  FROM g JOIN dup USING (gram)),
        |cov0 AS (
        |  SELECT doc_id, unnest([p for p in range(start, start + 8)]) AS pos
        |  FROM ranked WHERE rk > 1),
        |cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
        |p0 AS (
        |  SELECT doc_id, unnest([{'p': i, 'tok': ws[i]} for i in range(1, len(ws) + 1)]) AS e
        |  FROM t),
        |p AS (SELECT doc_id, e.p AS pos, e.tok AS tok FROM p0),
        |kept AS (
        |  SELECT p.doc_id, count(*) AS kept_tokens,
        |    string_agg(p.tok, ' ' ORDER BY p.pos) AS clean_text
        |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos
        |  WHERE cov.pos IS NULL
        |  GROUP BY p.doc_id)
        |SELECT t.doc_id,
        |  CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(t.ws) - coalesce(k.kept_tokens, 0) AS BIGINT) AS removed_tokens,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "suffix_repeats" ->
      """WITH seeded AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 1
        |         THEN 'subscribe to our newsletter for updates terms of service apply ' || text
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id < 200),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')[1:30] AS ws
        |  FROM seeded),
        |px AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM t),
        |sfx AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i:] AS suf FROM px),
        |r AS (
        |  SELECT doc_id, pos, suf,
        |    row_number() OVER (ORDER BY suf, doc_id, pos) AS rk
        |  FROM sfx),
        |adj AS (
        |  SELECT a.doc_id AS doc_a, a.pos AS pos_a,
        |         b.doc_id AS doc_b, b.pos AS pos_b,
        |         CAST(len(list_filter(range(1, least(len(a.suf), len(b.suf)) + 1),
        |                              j -> a.suf[1:j] = b.suf[1:j])) AS BIGINT) AS lcp
        |  FROM r a JOIN r b ON b.rk = a.rk + 1)
        |SELECT doc_a, pos_a, doc_b, pos_b, lcp FROM adj
        |WHERE lcp >= 5
        |ORDER BY doc_a, pos_a, doc_b, pos_b""".stripMargin,
    // span dedup replay: k=8 windows, corpus-wide gram count, covered
    // positions, anti-join, ordered string_agg reassembly
    "dedup_spans" ->
      """WITH d0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 1
        |         THEN 'subscribe to our newsletter for updates terms of service apply ' || text
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM d0),
        |g0 AS (
        |  SELECT doc_id,
        |    unnest([{'s': i, 'g': array_to_string(ws[i:i+7], ' ')}
        |            for i in range(1, greatest(len(ws) - 6, 1))]) AS e
        |  FROM t),
        |g AS (SELECT doc_id, e.s AS start, e.g AS gram FROM g0),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |cov0 AS (
        |  SELECT doc_id, unnest([p for p in range(start, start + 8)]) AS pos
        |  FROM g JOIN dup USING (gram)),
        |cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
        |p0 AS (
        |  SELECT doc_id, unnest([{'p': i, 'tok': ws[i]} for i in range(1, len(ws) + 1)]) AS e
        |  FROM t),
        |p AS (SELECT doc_id, e.p AS pos, e.tok AS tok FROM p0),
        |kept AS (
        |  SELECT p.doc_id, count(*) AS kept_tokens,
        |    string_agg(p.tok, ' ' ORDER BY p.pos) AS clean_text
        |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos
        |  WHERE cov.pos IS NULL
        |  GROUP BY p.doc_id)
        |SELECT t.doc_id,
        |  CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(t.ws) - coalesce(k.kept_tokens, 0) AS BIGINT) AS removed_tokens,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // incremental span dedup replay: the FULL union computation (same
    // CTEs as dedup_spans) restricted to the increment's ids — the
    // equivalence the store probe implements
    "dedup_incremental_spans" ->
      """WITH d0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 1
        |         THEN 'subscribe to our newsletter for updates terms of service apply ' || text
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM d0),
        |g0 AS (
        |  SELECT doc_id,
        |    unnest([{'s': i, 'g': array_to_string(ws[i:i+7], ' ')}
        |            for i in range(1, greatest(len(ws) - 6, 1))]) AS e
        |  FROM t),
        |g AS (SELECT doc_id, e.s AS start, e.g AS gram FROM g0),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |cov0 AS (
        |  SELECT doc_id, unnest([p for p in range(start, start + 8)]) AS pos
        |  FROM g JOIN dup USING (gram)
        |  WHERE doc_id % 50 = 7),
        |cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
        |p0 AS (
        |  SELECT doc_id, unnest([{'p': i, 'tok': ws[i]} for i in range(1, len(ws) + 1)]) AS e
        |  FROM t WHERE doc_id % 50 = 7),
        |p AS (SELECT doc_id, e.p AS pos, e.tok AS tok FROM p0),
        |kept AS (
        |  SELECT p.doc_id, count(*) AS kept_tokens,
        |    string_agg(p.tok, ' ' ORDER BY p.pos) AS clean_text
        |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos
        |  WHERE cov.pos IS NULL
        |  GROUP BY p.doc_id)
        |SELECT t.doc_id,
        |  CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(t.ws) - coalesce(k.kept_tokens, 0) AS BIGINT) AS removed_tokens,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
        |WHERE t.doc_id % 50 = 7
        |ORDER BY t.doc_id""".stripMargin,
    // per-domain cap replay: URL synthesis, host regex, and the md5
    // rank are all engine-portable
    "domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.com/docs/'
        |      || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^https?://([^/:]+)', 1)) AS domain
        |  FROM u),
        |r AS (
        |  SELECT domain, doc_id,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM d)
        |SELECT domain, doc_id, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 10
        |ORDER BY domain, rk""".stripMargin,
    // corpus report replay: quantile_cont shares percentile's linear
    // interpolation; each avg is one deterministic IEEE division
    "corpus_stats" ->
      """WITH t AS (
        |  SELECT lang,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks,
        |    n_chars
        |  FROM documents)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  round(quantile_cont(toks, 0.5), 4) AS med_tokens,
        |  round(quantile_cont(toks, 0.95), 4) AS p95_tokens,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
        |FROM t GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // snapshot diff replay: FULL OUTER JOIN over fingerprint projections
    "corpus_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_old
        |  FROM documents WHERE doc_id < 400),
        |n AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(
        |      CASE WHEN doc_id % 40 = 0 THEN text || ' rev2' ELSE text END)), '\s+', ' ', 'g')) AS fp_new
        |  FROM documents WHERE doc_id >= 100)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.fp_old IS NULL THEN 'added'
        |       WHEN n.fp_new IS NULL THEN 'removed'
        |       WHEN o.fp_old = n.fp_new THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // full replay of the hashed-linear quality score: 60-bit md5 token
    // hash -> bucket -> LCG integer weight, exact integer sum per doc,
    // one float conversion at the end, integer-compare keep gate
    "text_quality_classifier" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS tk FROM t),
        |f AS (
        |  SELECT doc_id,
        |    ((CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % 4096)
        |      * 1103515245 + 12345) % 1000003 AS v
        |  FROM tok),
        |a AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
        |  FROM f GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_tokens,
        |  s AS feat_sum,
        |  round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 500001.5) - 1.0, 4) + 0.0 AS score,
        |  2 * s > n * 1000003 AS keep
        |FROM a
        |ORDER BY doc_id""".stripMargin,
    // trained-weight serving replay: the oracle recomputes the weight
    // table from its closed form w(b) = (b - 2048)/2048 — exact dyadic
    // rationals, so the double sums match Spark's element_at path
    // bit-for-bit regardless of summation order
    "text_quality_trained" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS tk FROM t),
        |f AS (
        |  SELECT doc_id,
        |    (CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % 4096) AS b
        |  FROM tok),
        |a AS (
        |  SELECT doc_id,
        |    sum((CAST(b AS DOUBLE) - 2048.0) / 2048.0) AS s,
        |    count(*) AS n
        |  FROM f GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_tokens,
        |  s + 0.0 AS w_sum,
        |  round(s / CAST(n AS DOUBLE), 4) + 0.0 AS score,
        |  s > 0.0 AS keep
        |FROM a
        |ORDER BY doc_id""".stripMargin,
    // classifier replay + ONE window running sum over the total order
    // (score desc, doc_id asc); the Spark side reproduces the same
    // order via per-score prefix + within-score window
    "token_budget_select" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS tk FROM t),
        |f AS (
        |  SELECT doc_id,
        |    ((CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % 4096)
        |      * 1103515245 + 12345) % 1000003 AS v
        |  FROM tok),
        |a AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
        |  FROM f GROUP BY doc_id),
        |sc AS (
        |  SELECT doc_id,
        |    round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 500001.5) - 1.0, 4) + 0.0 AS score,
        |    CAST(n AS BIGINT) AS n_tokens
        |  FROM a),
        |r AS (
        |  SELECT doc_id, score, n_tokens,
        |    CAST(sum(n_tokens) OVER (
        |      ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM sc)
        |SELECT doc_id, score, n_tokens, cum_tokens
        |FROM r WHERE cum_tokens <= 5000
        |ORDER BY doc_id""".stripMargin,
    // full replay of the portable-md5 SimHash pipeline: 60-bit token
    // hashes (15 md5 hex chars fit a signed BIGINT), majority-bit
    // signature, 5 pigeonhole 12-bit bands, bucket-size guard, exact
    // Hamming verify
    "dedup_simhash" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' near duplicate tail'
        |  FROM documents WHERE doc_id % 50 = 0),
        |tok AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tk FROM base),
        |th AS (
        |  SELECT id, CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS h FROM tok),
        |bitc AS (
        |  SELECT id, b.bit, sum((h >> b.bit) & 1) AS c, count(*) AS n
        |  FROM th CROSS JOIN generate_series(0, 59) b(bit)
        |  GROUP BY id, b.bit),
        |sigs AS (
        |  SELECT id, CAST(sum(CASE WHEN 2*c >= n THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sig
        |  FROM bitc GROUP BY id),
        |banded AS (
        |  SELECT id, b.band, (sig >> (b.band*12)) & 4095 AS bval
        |  FROM sigs CROSS JOIN generate_series(0, 4) b(band)),
        |buck AS (SELECT band, bval FROM banded GROUP BY band, bval HAVING count(*) <= 2000),
        |bounded AS (SELECT banded.id, banded.band, banded.bval FROM banded JOIN buck USING (band, bval)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bounded a JOIN bounded b USING (band, bval)
        |  WHERE a.id < b.id)
        |SELECT c.id_a, c.id_b, CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
        |FROM cand c
        |JOIN sigs sa ON sa.id = c.id_a
        |JOIN sigs sb ON sb.id = c.id_b
        |WHERE bit_count(xor(sa.sig, sb.sig)) <= 4
        |ORDER BY id_a, id_b""".stripMargin,
    // the DeterministicSample aggregate with the portable md5 rank must
    // pick exactly the window-sampler's bottom-5 per language
    "sample_sketch" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST('0x' || substr(md5(doc_id::varchar), 1, 15) AS BIGINT)) AS rn
        |  FROM documents)
        |WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,
    // exact all-pairs cosine >= 0.98 truth set (recall argument: every
    // true pair is a planted perturbed copy whose full-signature LSH
    // recall is complete; random pairs sit far below the threshold).
    // Double prefilter at 0.97 keeps the all-pairs pass linear-ish;
    // decimal-exact recompute decides the emitted value and threshold.
    "dedup_embedding" ->
      """WITH allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |         list_transform(embedding, x -> x + CAST(0.0005 AS FLOAT))
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |pre AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         a.embedding AS va, b.embedding AS vb
        |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0.97),
        |exploded AS (
        |  SELECT id_a, id_b,
        |         unnest(CAST(va AS DOUBLE[])) AS x,
        |         unnest(CAST(vb AS DOUBLE[])) AS y
        |  FROM pre),
        |sums AS (
        |  SELECT id_a, id_b,
        |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |  FROM exploded GROUP BY id_a, id_b)
        |SELECT id_a, id_b,
        |       round(CAST(dotd AS DOUBLE) / (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) AS cos,
        |       TRUE AS lsh_ok
        |FROM sums
        |WHERE round(CAST(dotd AS DOUBLE) / (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) >= 0.98
        |ORDER BY id_a, id_b""".stripMargin,
    "text_tokens" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        | round(avg(len(regexp_split_to_array(trim(text), '\s+'))), 3) AS avg_tokens
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "text_quality" ->
      """SELECT source,
        | round(avg((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) * 1.0) / length(text)), 4) AS punct_ratio,
        | round(avg(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> list_contains(['the','a','of','and','to','in','is','for','on','with'], t))) * 1.0
        |   / len(regexp_split_to_array(lower(trim(text)), '\s+'))), 4) AS stop_ratio,
        | round(avg(n_chars), 2) AS avg_chars,
        | count(*) AS n_docs
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // bigram-LM perplexity: train counts on the %50!=7 slice, score
    // the held-out slice; per-position log-probs are floor-quantized
    // to 1e-6-scaled BIGINTs so the per-doc sum is order-exact
    "text_perplexity" ->
      """WITH train_toks AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 50 <> 7),
        |pairs_t0 AS (
        |  SELECT unnest([{'c': t[i], 'w': t[i+1]} for i in range(1, len(t))]) AS e
        |  FROM train_toks WHERE len(t) >= 2),
        |pairs_t AS (SELECT e.c AS ctx, e.w AS w FROM pairs_t0),
        |cnt AS (SELECT ctx, w, count(*) AS c FROM pairs_t GROUP BY ctx, w),
        |ctxc AS (SELECT ctx, count(*) AS c_ctx FROM pairs_t GROUP BY ctx),
        |vocab AS (
        |  SELECT count(DISTINCT tok) AS v
        |  FROM (SELECT unnest(t) AS tok FROM train_toks)),
        |score_toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 50 = 7),
        |pairs_s0 AS (
        |  SELECT doc_id, unnest([{'c': t[i], 'w': t[i+1]} for i in range(1, len(t))]) AS e
        |  FROM score_toks WHERE len(t) >= 2),
        |pairs_s AS (SELECT doc_id, e.c AS ctx, e.w AS w FROM pairs_s0),
        |lp AS (
        |  SELECT p.doc_id,
        |    CAST(floor(ln(
        |      CAST(coalesce(cnt.c, 0) + 1 AS DOUBLE) /
        |      CAST(coalesce(ctxc.c_ctx, 0) + v AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp
        |  FROM pairs_s p
        |  LEFT JOIN cnt ON p.ctx = cnt.ctx AND p.w = cnt.w
        |  LEFT JOIN ctxc ON p.ctx = ctxc.ctx
        |  CROSS JOIN vocab),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS lp_sum
        |  FROM lp GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  round(CAST(a.lp_sum AS DOUBLE) / 1000000.0 / CAST(a.n_bigrams AS DOUBLE), 4) AS avg_logp,
        |  round(exp(-(CAST(a.lp_sum AS DOUBLE) / 1000000.0 / CAST(a.n_bigrams AS DOUBLE))), 4) AS perplexity
        |FROM score_toks s LEFT JOIN agg a USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,
    // BM25 top-20: per-(doc,term) contributions floor-quantized to
    // 1e-6-scaled BIGINTs; selection and tie-breaks on the exact sum
    "bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |docs AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |meta AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS total FROM docs),
        |post AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        |  WHERE term IN ('vector', 'merge', 'stream')
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |contrib AS (
        |  SELECT p.doc_id,
        |    CAST(floor(
        |      ln((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) *
        |      ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
        |       (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
        |         (CAST(dl AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))))) *
        |      1000000.0) AS BIGINT) AS lp
        |  FROM post p JOIN dfreq USING (term) JOIN docs USING (doc_id) CROSS JOIN meta),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, sum(lp) AS s
        |  FROM contrib GROUP BY doc_id)
        |SELECT doc_id, n_terms, round(CAST(s AS DOUBLE) / 1000000.0, 4) AS score
        |FROM agg ORDER BY s DESC, doc_id LIMIT 20""".stripMargin,
    // KL drift between corpus halves: per-token contributions
    // floor-quantized to 1e-12-scaled BIGINTs; movers selected on the
    // exact quantized value with a token tie-break
    "corpus_drift_movers" ->
      """WITH ta AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 2 = 0),
        |tb AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 2 = 1),
        |va AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS c_a
        |       FROM (SELECT unnest(t) AS tok FROM ta) GROUP BY tok),
        |vb AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS c_b
        |       FROM (SELECT unnest(t) AS tok FROM tb) GROUP BY tok),
        |u AS (SELECT coalesce(va.token, vb.token) AS token,
        |        coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
        |      FROM va FULL OUTER JOIN vb ON va.token = vb.token),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS v,
        |        CAST(sum(c_a) AS BIGINT) AS n_a,
        |        CAST(sum(c_b) AS BIGINT) AS n_b FROM u),
        |d AS (SELECT token, c_a, c_b,
        |  CAST(floor(
        |    (CAST(c_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE)) *
        |    ln((CAST(c_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE)) /
        |       (CAST(c_b + 1 AS DOUBLE) / CAST(n_b + v AS DOUBLE))) *
        |    1000000000000.0) AS BIGINT) AS lp_ab
        |  FROM u CROSS JOIN m)
        |SELECT token, c_a, c_b,
        |  round(CAST(lp_ab AS DOUBLE) / 1000000000000.0, 6) AS kl_contrib
        |FROM d ORDER BY abs(lp_ab) DESC, token LIMIT 20""".stripMargin,
    "corpus_drift_kl" ->
      """WITH ta AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 2 = 0),
        |tb AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 2 = 1),
        |va AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS c_a
        |       FROM (SELECT unnest(t) AS tok FROM ta) GROUP BY tok),
        |vb AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS c_b
        |       FROM (SELECT unnest(t) AS tok FROM tb) GROUP BY tok),
        |u AS (SELECT coalesce(va.token, vb.token) AS token,
        |        coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
        |      FROM va FULL OUTER JOIN vb ON va.token = vb.token),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS v,
        |        CAST(sum(c_a) AS BIGINT) AS n_a,
        |        CAST(sum(c_b) AS BIGINT) AS n_b FROM u),
        |d AS (SELECT token, c_a, c_b,
        |  CAST(floor(
        |    (CAST(c_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE)) *
        |    ln((CAST(c_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE)) /
        |       (CAST(c_b + 1 AS DOUBLE) / CAST(n_b + v AS DOUBLE))) *
        |    1000000000000.0) AS BIGINT) AS lp_ab,
        |  CAST(floor(
        |    (CAST(c_b + 1 AS DOUBLE) / CAST(n_b + v AS DOUBLE)) *
        |    ln((CAST(c_b + 1 AS DOUBLE) / CAST(n_b + v AS DOUBLE)) /
        |       (CAST(c_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE))) *
        |    1000000000000.0) AS BIGINT) AS lp_ba
        |  FROM u CROSS JOIN m)
        |SELECT CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(c_a) AS BIGINT) AS total_a,
        |  CAST(sum(c_b) AS BIGINT) AS total_b,
        |  round(CAST(sum(lp_ab) AS DOUBLE) / 1000000000000.0, 6) AS kl_ab,
        |  round(CAST(sum(lp_ba) AS DOUBLE) / 1000000000000.0, 6) AS kl_ba
        |FROM d""".stripMargin,
    "text_gopher_quality" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id < 20),
        |g AS (
        |  SELECT doc_id, ws,
        |    CASE WHEN len(ws) >= 2
        |         THEN [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]
        |         ELSE [array_to_string(ws, ' ')]
        |    END AS bg
        |  FROM t),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS mwl,
        |    CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dwf,
        |    CAST(list_max(list_transform(list_distinct(ws),
        |           w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / len(ws) AS twf,
        |    CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dbf
        |  FROM g)
        |SELECT doc_id, n_words,
        |  round(mwl, 4) AS mean_word_len,
        |  round(dwf, 4) AS dup_word_frac,
        |  round(twf, 4) AS top_word_frac,
        |  round(dbf, 4) AS dup_bigram_frac,
        |  (mwl BETWEEN 3.0 AND 10.0) AND twf <= 0.2 AND dbf <= 0.2 AS keep
        |FROM sig
        |ORDER BY doc_id""".stripMargin,
    // repetition metrics: runs via the row_number-gap trick, trigram
    // multiplicities via list comprehension + group-by; the Spark side
    // computes both as per-row folds (sorted-array max-run)
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, ws,
        |    CASE WHEN len(ws) >= 3
        |         THEN [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]
        |         ELSE [array_to_string(ws, ' ')]
        |    END AS tg
        |  FROM t),
        |pos AS (
        |  SELECT doc_id, unnest(ws) AS tok, unnest(range(1, len(ws) + 1)) AS p FROM t),
        |grp AS (
        |  SELECT doc_id, tok,
        |    p - row_number() OVER (PARTITION BY doc_id, tok ORDER BY p) AS rg
        |  FROM pos),
        |runs AS (SELECT doc_id, count(*) AS rl FROM grp GROUP BY doc_id, tok, rg),
        |mr AS (SELECT doc_id, CAST(max(rl) AS BIGINT) AS max_run FROM runs GROUP BY doc_id),
        |gc AS (SELECT doc_id, gram, count(*) AS c
        |       FROM (SELECT doc_id, unnest(tg) AS gram FROM g) GROUP BY doc_id, gram),
        |tp AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_trigram_n FROM gc GROUP BY doc_id)
        |SELECT g.doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  mr.max_run,
        |  tp.top_trigram_n,
        |  round(CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / CAST(len(tg) AS DOUBLE), 4)
        |    AS dup_trigram_frac
        |FROM g JOIN mr ON g.doc_id = mr.doc_id JOIN tp ON g.doc_id = tp.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // OOV vs the corpus top-25 vocab: rebuild the vocab (count desc,
    // token asc), replay the per-occurrence membership filter
    "vocab_coverage" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |cnt AS (
        |  SELECT tok, count(*) AS n
        |  FROM (SELECT unnest(ws) AS tok FROM t) GROUP BY tok),
        |v AS (SELECT tok FROM cnt ORDER BY n DESC, tok LIMIT 25),
        |vl AS (SELECT list(tok) AS vs FROM v)
        |SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(ws) - len(list_filter(ws, w -> list_contains(vs, w))) AS BIGINT)
        |    AS oov_tokens,
        |  round(CAST(len(ws) - len(list_filter(ws, w -> list_contains(vs, w))) AS DOUBLE)
        |    / len(ws), 4) AS oov_frac
        |FROM t, vl
        |ORDER BY doc_id""".stripMargin,
    // smoothed tf-idf on the integer mu-nat grid (same quantization as
    // the KL drift / bigram LM oracles), top-3 per doc by row_number
    "tfidf_top_terms" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS tok FROM t) GROUP BY doc_id, tok),
        |nd AS (SELECT count(*) AS n FROM documents),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * (CAST(floor(ln((nd.n + 1.0) / (df.df + 1.0)) * 1000000) AS BIGINT)
        |             + 1000000) AS sq
        |  FROM tf JOIN df USING (term), nd),
        |top AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY sq DESC, term) AS rn
        |  FROM sc)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  round(CAST(sq AS DOUBLE) / 1000000, 4) AS score
        |FROM top WHERE rn <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin,
    // sqrt-temperature mixture plan: integer-quantized sqrt weights so
    // the normalizer is an exact integer sum; budget 1M tokens
    "mixture_plan" ->
      """WITH t AS (
        |  SELECT source,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS tokens
        |  FROM t GROUP BY source),
        |q AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000) AS BIGINT) AS sq
        |      FROM s),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS all_tokens,
        |               CAST(sum(sq) AS BIGINT) AS all_sq FROM q)
        |SELECT source, n_docs, tokens,
        |  round(CAST(tokens AS DOUBLE) / all_tokens, 4) AS share,
        |  round(CAST(sq AS DOUBLE) / all_sq, 4) AS weight,
        |  CAST(floor(CAST(sq AS DOUBLE) / all_sq * 1000000) AS BIGINT) AS target_tokens,
        |  round(CAST(floor(CAST(sq AS DOUBLE) / all_sq * 1000000) AS DOUBLE) / tokens, 4)
        |    AS epochs
        |FROM q, tot
        |ORDER BY source""".stripMargin,
    // plan -> rows: replay the 50k-budget epochs, quantize to
    // sixteenths, emit floor copies + the md5-fraction extra copy
    "mixture_upsample" ->
      """WITH t AS (
        |  SELECT source,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT source, CAST(sum(toks) AS BIGINT) AS tokens
        |  FROM t GROUP BY source),
        |q AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000) AS BIGINT) AS sq
        |      FROM s),
        |tot AS (SELECT CAST(sum(sq) AS BIGINT) AS all_sq FROM q),
        |ep AS (
        |  SELECT source,
        |    CAST(floor(round(CAST(floor(CAST(sq AS DOUBLE) / all_sq * 50000) AS DOUBLE)
        |                     / tokens, 4) * 16 + 0.5) AS BIGINT) AS s16
        |  FROM q, tot),
        |c AS (
        |  SELECT d.doc_id, d.source,
        |    ep.s16 // 16
        |      + CASE WHEN md5(CAST(d.doc_id AS VARCHAR))
        |                  < substr('0123456789abcdef', CAST(ep.s16 % 16 AS INT) + 1, 1)
        |             THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN ep USING (source))
        |SELECT doc_id, source, CAST(u.i AS INT) AS copy_idx
        |FROM c, unnest(range(0, CAST(copies AS BIGINT))) AS u(i)
        |ORDER BY doc_id, copy_idx""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','für','auf','zu','den'], t))) AS s_de,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['the','a','of','and','to','in','is','for','on','with','that','it'], t))) AS s_en,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['el','la','los','las','y','es','un','una','para','en','que','de'], t))) AS s_es,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['le','la','les','et','est','un','une','pour','dans','que','des','du'], t))) AS s_fr,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['il','la','gli','e','è','un','una','per','che','di','non','con'], t))) AS s_it
        |  FROM documents),
        |pred AS (
        |  SELECT lang,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_it) <= 0 THEN 'und'
        |         WHEN s_it = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'it'
        |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'fr'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'es'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'en'
        |         ELSE 'de' END AS predicted
        |  FROM scored)
        |SELECT lang, predicted, count(*) AS n
        |FROM pred
        |GROUP BY lang, predicted
        |ORDER BY lang, predicted""".stripMargin,
    "cdc_wire_decode" ->
      """SELECT user_id, event_id, event_type, round(value, 2) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 AND (event_type IS NULL OR event_type <> 'error')
        |ORDER BY user_id""".stripMargin,
    "pipeline_training_data" ->
      """WITH scored AS (
        |  SELECT doc_id, source, text,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    round((
        |      least(length(text) / 500.0, 1.0)
        |      + (1.0 - least(((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0
        |          / length(text)) * 10.0, 1.0))
        |      + least((len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |          t -> list_contains(['the','a','of','and','to','in','is','for','on','with'], t))) * 1.0
        |          / len(regexp_split_to_array(lower(trim(text)), '\s+'))) * 5.0, 1.0)
        |    ) / 3.0, 4) AS q,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','für','auf','zu','den'], t))) AS s_de,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['the','a','of','and','to','in','is','for','on','with','that','it'], t))) AS s_en,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['el','la','los','las','y','es','un','una','para','en','que','de'], t))) AS s_es,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['le','la','les','et','est','un','une','pour','dans','que','des','du'], t))) AS s_fr,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> list_contains(['il','la','gli','e','è','un','una','per','che','di','non','con'], t))) AS s_it
        |  FROM documents),
        |gated AS (
        |  SELECT doc_id, source, n_tokens, q,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM scored
        |  WHERE q >= 0.3 AND n_tokens >= 10
        |    AND s_en > 0 AND s_en >= s_de AND s_en > s_es AND s_en > s_fr AND s_en > s_it),
        |deduped AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |                 FROM gated)
        |  WHERE rn = 1),
        |sampled AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY source
        |                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |                 FROM deduped)
        |  WHERE rk <= 10)
        |SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_quality
        |FROM sampled
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "q34_approx_distinct" ->
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        | true AS within_5pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Exact decimal-cosine top-20 over the planted-neighbor corpus; the
    // approximate path's recall verdict is asserted `true` (the q34
    // tolerance-verdict pattern). The planted copies are float-exact
    // replays of the Spark side: float(i) * float(0.0005) added in
    // single precision.
    "ann_lsh_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |planted AS (
        |  SELECT 1000000 + t.i AS vec_id,
        |         list_transform(q.qv,
        |           x -> x + CAST(t.i AS FLOAT) * CAST(0.0005 AS FLOAT)) AS embedding
        |  FROM q, generate_series(1, 24) AS t(i)),
        |corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM planted),
        |exploded AS (
        |  SELECT e.vec_id,
        |         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
        |         unnest(CAST(q.qv AS DOUBLE[])) AS y
        |  FROM corpus e, q),
        |sums AS (
        |  SELECT vec_id,
        |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |  FROM exploded GROUP BY vec_id)
        |SELECT vec_id,
        |       round(CAST(dotd AS DOUBLE) / (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) + 0.0 AS cos,
        |       true AS recall_ok
        |FROM sums ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,
    // line-level dedup family: the boilerplate fixture (header + body
    // + footer joined by chr(10)) is synthesized identically in both
    // engines; frequency, removal, and in-order reconstruction replay
    "line_stats" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |         '=== ' || source || ' header ===' || chr(10) ||
        |         text || chr(10) ||
        |         CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
        |              ELSE 'contact us at ' || source || '.example' END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, unnest(str_split(text, chr(10))) AS line FROM docs2)
        |SELECT line,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ
        |FROM lines GROUP BY line
        |ORDER BY n_docs DESC, line LIMIT 20""".stripMargin,
    "line_dedup" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |         '=== ' || source || ' header ===' || chr(10) ||
        |         text || chr(10) ||
        |         CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
        |              ELSE 'contact us at ' || source || '.example' END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |         unnest(str_split(text, chr(10))) AS line,
        |         unnest(range(1, len(str_split(text, chr(10))) + 1)) AS pos
        |  FROM docs2),
        |freq AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line)
        |  WHERE nd >= 10),
        |flagged AS (
        |  SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS hit
        |  FROM lines l LEFT JOIN freq f USING (line)),
        |rebuilt AS (
        |  SELECT doc_id,
        |         coalesce(string_agg(line, chr(10) ORDER BY pos)
        |                    FILTER (WHERE NOT hit), '') AS text,
        |         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS removed_lines,
        |         CAST(sum(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines
        |  FROM flagged GROUP BY doc_id)
        |SELECT doc_id, text, removed_lines, kept_lines
        |FROM rebuilt ORDER BY doc_id""".stripMargin,
    // HTML extraction: the fixture CASE rebuilds the same three
    // templates, and the extraction expression is GENERATED from
    // HtmlExtract's step list — oracle and engine share one source of
    // truth, so the hash gate covers every pattern
    "html_extract" -> htmlExtractOracleSql,
    "html_boilerplate" -> htmlBoilerplateOracleSql,
    "html_links" -> htmlLinksOracleSql,
    // HLL distinct: exact per-lang count(distinct doc:token) replayed;
    // the register-based estimate gates via the in-plan 15% verdict
    "hll_distinct" ->
      """WITH toks AS (
        |  SELECT lang,
        |         doc_id || ':' ||
        |           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS pair
        |  FROM documents)
        |SELECT lang, CAST(count(DISTINCT pair) AS BIGINT) AS exact_distinct,
        |       true AS hll_ok
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,
    // binary sign-bit ANN: Hamming replayed as the count of differing
    // strict-positive signs (== popcount of XOR over packed words);
    // pool (ham, vec_id LIMIT 64) -> decimal-cosine rerank -> top-20,
    // with the recall@20 verdict vs the exact top-20 also recomputed
    "ann_hamming_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |planted AS (
        |  SELECT 1000000 + t.i AS vec_id,
        |         list_transform(q.qv,
        |           x -> x + CAST(t.i AS FLOAT) * CAST(0.0005 AS FLOAT)) AS embedding
        |  FROM q, generate_series(1, 24) AS t(i)),
        |corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM planted),
        |ham AS (
        |  SELECT e.vec_id, e.embedding, q.qv,
        |         CAST(list_sum([CASE WHEN (e.embedding[i] > 0) <> (q.qv[i] > 0)
        |                             THEN 1 ELSE 0 END
        |                        for i in range(1, len(e.embedding) + 1)]) AS BIGINT) AS ham
        |  FROM corpus e, q),
        |pool AS (
        |  SELECT vec_id, embedding, qv, ham FROM ham
        |  ORDER BY ham, vec_id LIMIT 64),
        |exploded AS (
        |  SELECT vec_id, ham,
        |         unnest(CAST(embedding AS DOUBLE[])) AS x,
        |         unnest(CAST(qv AS DOUBLE[])) AS y
        |  FROM pool),
        |sums AS (
        |  SELECT vec_id, any_value(ham) AS ham,
        |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |  FROM exploded GROUP BY vec_id),
        |topk AS (
        |  SELECT vec_id, ham,
        |         round(CAST(dotd AS DOUBLE) / (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) + 0.0 AS cos
        |  FROM sums ORDER BY cos DESC, vec_id LIMIT 20),
        |exact_exploded AS (
        |  SELECT e.vec_id,
        |         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
        |         unnest(CAST(q.qv AS DOUBLE[])) AS y
        |  FROM corpus e, q),
        |exact_sums AS (
        |  SELECT vec_id,
        |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |  FROM exact_exploded GROUP BY vec_id),
        |exact_top AS (
        |  SELECT vec_id,
        |         round(CAST(dotd AS DOUBLE) / (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) + 0.0 AS cos
        |  FROM exact_sums ORDER BY cos DESC, vec_id LIMIT 20),
        |verdict AS (
        |  SELECT count(*) >= 18 AS recall_ok
        |  FROM exact_top WHERE vec_id IN (SELECT vec_id FROM topk))
        |SELECT t.vec_id, t.ham, t.cos, v.recall_ok
        |FROM topk t, verdict v
        |ORDER BY t.cos DESC, t.vec_id""".stripMargin,
    "ann_ivf_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |planted AS (
        |  SELECT 1000000 + t.i AS vec_id,
        |         list_transform(q.qv,
        |           x -> x + CAST(t.i AS FLOAT) * CAST(0.0005 AS FLOAT)) AS embedding
        |  FROM q, generate_series(1, 24) AS t(i)),
        |corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM planted),
        |exploded AS (
        |  SELECT e.vec_id,
        |         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
        |         unnest(CAST(q.qv AS DOUBLE[])) AS y
        |  FROM corpus e, q),
        |sums AS (
        |  SELECT vec_id,
        |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |  FROM exploded GROUP BY vec_id)
        |SELECT vec_id,
        |       round(CAST(dotd AS DOUBLE) / (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) + 0.0 AS cos,
        |       true AS recall_ok
        |FROM sums ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,
    "ann_ivf_fullprobe" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |exploded AS (
        |  SELECT e.vec_id,
        |         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
        |         unnest(CAST(q.qv AS DOUBLE[])) AS y
        |  FROM embeddings e, q),
        |sums AS (
        |  SELECT vec_id,
        |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |  FROM exploded GROUP BY vec_id)
        |SELECT vec_id,
        |       round(CAST(dotd AS DOUBLE) / (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) + 0.0 AS cos
        |FROM sums ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,
    // Closed-form replay of the synthetic media table: BMP size =
    // 54-byte header + 4-byte-padded BGR rows, WAV size = 44-byte
    // header + 2 bytes/sample (samples = min(4*text_bytes, 2048)),
    // video = raw UTF-8 bytes with stride-2 sampling over 256-byte
    // frames. strlen() is DuckDB's byte length, matching Spark's
    // UTF-8 encode. The decode/feature verdicts are asserted true
    // (q34 tolerance-verdict pattern).
    "multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CASE CAST(doc_id % 3 AS INT)
        |           WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |         strlen(text) AS len
        |  FROM documents),
        |b AS (
        |  SELECT media_type,
        |    CASE media_type
        |      WHEN 'image' THEN 54 + ((least(doc_id % 640 + 16, 32) * 3 + 3) // 4 * 4)
        |                             * least(doc_id % 480 + 16, 32)
        |      WHEN 'audio' THEN 44 + least(len * 4, 2048) * 2
        |      ELSE len END AS n_bytes,
        |    CASE media_type
        |      WHEN 'video' THEN (greatest(len // 256, 1) + 1) // 2
        |      ELSE 1 END AS frames
        |  FROM m)
        |SELECT media_type, count(*) AS n,
        |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |       CAST(sum(frames) AS BIGINT) AS total_frames,
        |       true AS decode_ok, true AS features_ok
        |FROM b GROUP BY media_type ORDER BY media_type""".stripMargin,
    // MP4 container metadata: every emitted field comes from the real
    // box-tree parse; the oracle recomputes the deterministic
    // generator parameters in closed form, INCLUDING the byte-exact
    // container size (ftyp 20 + moov header 8 + mvhd 108 + 241/trak +
    // mdat 8 + min(64, text bytes))
    "multimodal_mp4_meta" ->
      """SELECT doc_id,
        |  CAST(144 + 241 * (1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |       + least(octet_length(encode(text)), 64) AS BIGINT) AS n_bytes,
        |  'isom' AS major_brand,
        |  CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_tracks,
        |  ['avc1', 'hvc1', 'vp09', 'av01'][CAST(doc_id % 4 AS INT) + 1] AS video_codec,
        |  CAST(16 * (1 + doc_id % 8) AS BIGINT) AS width,
        |  CAST(16 * (1 + doc_id % 5) AS BIGINT) AS height,
        |  CAST(1 + doc_id % 7 AS BIGINT) AS duration_s,
        |  CAST((10 + doc_id % 20) *
        |       (1 + CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 0 END) AS BIGINT)
        |    AS total_samples
        |FROM documents WHERE doc_id < 500
        |ORDER BY doc_id""".stripMargin,
    // Matroska container metadata: every emitted field comes from the
    // real EBML parse; the oracle recomputes the deterministic
    // generator parameters closed-form, INCLUDING the byte-exact
    // container size (92 fixed + len(DocType) + 30/video entry +
    // 36/audio entry + min(48, text bytes) — formula pinned by MkvSpec)
    "multimodal_mkv_meta" ->
      """SELECT doc_id,
        |  CAST(122 + CASE WHEN doc_id % 4 = 1 THEN 8 ELSE 4 END
        |       + CASE WHEN doc_id % 2 = 1 THEN 36 ELSE 0 END
        |       + least(octet_length(encode(text)), 48) AS BIGINT) AS n_bytes,
        |  CASE WHEN doc_id % 4 = 1 THEN 'matroska' ELSE 'webm' END AS doc_type,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS n_tracks,
        |  ['V_AV1', 'V_VP9', 'V_VP8'][CAST(doc_id % 3 AS INT) + 1] AS video_codec,
        |  CAST(32 * (1 + doc_id % 6) AS BIGINT) AS width,
        |  CAST(16 * (1 + doc_id % 9) AS BIGINT) AS height,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS duration_s,
        |  CASE WHEN doc_id % 2 = 0 THEN ''
        |       WHEN doc_id % 4 = 1 THEN 'A_FLAC' ELSE 'A_OPUS' END AS audio_codec,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0
        |            WHEN doc_id % 4 = 1 THEN 44100 ELSE 48000 END AS BIGINT) AS sampling_hz,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0
        |            WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END AS BIGINT) AS channels
        |FROM documents WHERE doc_id < 500
        |ORDER BY doc_id""".stripMargin,
    // compaction planner: the oracle replays the whole chain — the
    // deterministic inventory, the running-sum cut (integer //), the
    // keep-big-files rule, and the per-group roll-up
    "compaction_plan" ->
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
        |ORDER BY part, grp""".stripMargin,
    // compaction EXECUTION: identity-class manifest recount — the
    // oracle replays the planted inventory (2 years x 8 orderkey
    // slots, fixed byte weights) and the same ROWS running-sum cut,
    // keeps the multi-member groups, and asserts the operator's
    // one-file-per-group promise as the literal n_files = 1; the
    // engine side reads n_files, row counts, and the orderkey
    // checksum back from the LIVE rewritten layout
    "compaction_execute" ->
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
        |ORDER BY part, grp""".stripMargin,
    // LSH banding calibration: bit-for-bit double replay — powers as
    // the same left-fold multiply chains (recursive CTEs), then the
    // same argmin + fewer-bands tie-break
    "lsh_tune" ->
      """WITH RECURSIVE cfg AS (
        |  SELECT h, r, h // r AS b, CAST(t AS DOUBLE) AS t
        |  FROM (VALUES (64), (128), (256)) AS bu(h),
        |       generate_series(1, 256) AS gs(r),
        |       (VALUES (0.5), (0.7), (0.8), (0.9)) AS th(t)
        |  WHERE r <= h AND h % r = 0),
        |probes AS (
        |  SELECT h, r, b, t, t - CAST(0.2 AS DOUBLE) AS j FROM cfg
        |  UNION ALL SELECT h, r, b, t, t FROM cfg
        |  UNION ALL SELECT h, r, b, t, t + CAST(0.05 AS DOUBLE) AS j FROM cfg),
        |jr(h, r, b, t, j, i, q) AS (
        |  SELECT h, r, b, t, j, 0, CAST(1 AS DOUBLE) FROM probes
        |  UNION ALL
        |  SELECT h, r, b, t, j, i + 1, q * j FROM jr WHERE i < r),
        |pb(h, r, b, t, j, i, acc, q) AS (
        |  SELECT h, r, b, t, j, 0, CAST(1 AS DOUBLE), q FROM jr WHERE i = r
        |  UNION ALL
        |  SELECT h, r, b, t, j, i + 1, acc * (CAST(1 AS DOUBLE) - q), q
        |  FROM pb WHERE i < b),
        |pcat AS (
        |  SELECT h, r, b, t, j, CAST(1 AS DOUBLE) - acc AS p FROM pb WHERE i = b),
        |wide AS (
        |  SELECT h, r, b, t,
        |         max(CASE WHEN j = t THEN p END) AS p_at_t,
        |         max(CASE WHEN j = t - CAST(0.2 AS DOUBLE) THEN p END) AS p_low,
        |         max(CASE WHEN j = t + CAST(0.05 AS DOUBLE) THEN p END) AS p_high
        |  FROM pcat GROUP BY 1, 2, 3, 4),
        |sel AS (
        |  SELECT *, row_number() OVER (PARTITION BY h, t
        |            ORDER BY abs(p_at_t - 0.5), b) AS rn
        |  FROM wide)
        |SELECT h AS total_hashes, t AS threshold, b AS bands,
        |       r AS rows_per_band, p_at_t, p_low, p_high
        |FROM sel WHERE rn = 1
        |ORDER BY total_hashes, threshold""".stripMargin,
    // image dHash dedup, closed-form: every 9x8 grid cell's integer
    // Rec.601 luma recomputed from the document bytes (ASCII, so
    // unicode() == byte), gradient-sign bits, all-pairs popcount at
    // ham <= 3. The resized variants reuse the base sampling formula
    // because the 72x72 nearest-neighbor hop collapses exactly:
    // floor(floor(72c/9)*w/72) = floor(c*w/9), same for rows.
    // video near-dup: stored Y = luma1000(b-derived RGB) // 1000 per
    // sampled frame; grid bits, per-frame hamming and the all-frames
    // filter replay closed-form from the text
    "video_dedup" ->
      """WITH vids AS (
        |  SELECT doc_id AS id, text
        |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 120),
        |variants AS (
        |  SELECT id, text, 0 AS noise FROM vids
        |  UNION ALL SELECT id + 5000000, text, 0 FROM vids WHERE id % 30 = 0
        |  UNION ALL SELECT id + 6000000, text, 1 FROM vids WHERE id % 45 = 0),
        |gcells AS (
        |  SELECT v.id, v.noise, v.text, fr.f, gr.r, gc.c,
        |         ((gr.r * 24) // 8) * 32 + ((gc.c * 32) // 9) AS p
        |  FROM variants v, (VALUES (0), (2), (4)) AS fr(f),
        |       generate_series(0, 7) AS gr(r), generate_series(0, 8) AS gc(c)),
        |lums AS (
        |  SELECT id, f, r, c,
        |    (299 * (b % 256) + 587 * ((b * 31) % 256)
        |      + 114 * (CASE WHEN noise = 1 AND p % 13 = 0
        |                    THEN xor((b * 7) % 256, 255)
        |                    ELSE (b * 7) % 256 END)) // 1000 AS lum
        |  FROM (SELECT id, noise, f, r, c, p,
        |          CASE WHEN strlen(text) = 0 THEN 0
        |               ELSE unicode(substr(text,
        |                 CAST((p + 13 * f) % strlen(text) AS INT) + 1, 1))
        |          END AS b
        |        FROM gcells)),
        |bits AS (
        |  SELECT a.id, a.f, a.r * 8 + a.c AS i,
        |         CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM lums a JOIN lums b ON a.id = b.id AND a.f = b.f
        |                         AND a.r = b.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |fpairs AS (
        |  SELECT x.id AS id_a, y.id AS id_b, x.f,
        |         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS ham
        |  FROM bits x JOIN bits y ON x.i = y.i AND x.f = y.f AND x.id < y.id
        |  GROUP BY x.id, y.id, x.f),
        |agg AS (
        |  SELECT id_a, id_b, count(*) AS matched_frames, sum(ham) AS ham_sum
        |  FROM fpairs WHERE ham <= 3 GROUP BY id_a, id_b)
        |SELECT id_a, id_b, CAST(matched_frames AS BIGINT) AS matched_frames,
        |  CAST(3 AS BIGINT) AS total_frames, CAST(ham_sum AS BIGINT) AS ham_sum
        |FROM agg WHERE matched_frames = 3 ORDER BY id_a, id_b""".stripMargin,
    // incremental video near-dup: same closed-form replay restricted
    // to increment (variant ids) vs store (base ids)
    "video_dedup_incremental" ->
      """WITH vids AS (
        |  SELECT doc_id AS id, text
        |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 120),
        |variants AS (
        |  SELECT id, text, 0 AS noise FROM vids
        |  UNION ALL SELECT id + 5000000, text, 0 FROM vids WHERE id % 30 = 0
        |  UNION ALL SELECT id + 6000000, text, 1 FROM vids WHERE id % 45 = 0),
        |gcells AS (
        |  SELECT v.id, v.noise, v.text, fr.f, gr.r, gc.c,
        |         ((gr.r * 24) // 8) * 32 + ((gc.c * 32) // 9) AS p
        |  FROM variants v, (VALUES (0), (2), (4)) AS fr(f),
        |       generate_series(0, 7) AS gr(r), generate_series(0, 8) AS gc(c)),
        |lums AS (
        |  SELECT id, f, r, c,
        |    (299 * (b % 256) + 587 * ((b * 31) % 256)
        |      + 114 * (CASE WHEN noise = 1 AND p % 13 = 0
        |                    THEN xor((b * 7) % 256, 255)
        |                    ELSE (b * 7) % 256 END)) // 1000 AS lum
        |  FROM (SELECT id, noise, f, r, c, p,
        |          CASE WHEN strlen(text) = 0 THEN 0
        |               ELSE unicode(substr(text,
        |                 CAST((p + 13 * f) % strlen(text) AS INT) + 1, 1))
        |          END AS b
        |        FROM gcells)),
        |bits AS (
        |  SELECT a.id, a.f, a.r * 8 + a.c AS i,
        |         CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM lums a JOIN lums b ON a.id = b.id AND a.f = b.f
        |                         AND a.r = b.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |fpairs AS (
        |  SELECT y.id AS media_id, x.id AS store_id, x.f,
        |         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS ham
        |  FROM bits x JOIN bits y ON x.i = y.i AND x.f = y.f
        |  WHERE x.id < 5000000 AND y.id >= 5000000
        |  GROUP BY y.id, x.id, x.f),
        |agg AS (
        |  SELECT media_id, store_id, count(*) AS matched_frames,
        |         sum(ham) AS ham_sum
        |  FROM fpairs WHERE ham <= 3 GROUP BY media_id, store_id)
        |SELECT media_id, store_id, CAST(matched_frames AS BIGINT) AS matched_frames,
        |  CAST(3 AS BIGINT) AS total_frames, CAST(ham_sum AS BIGINT) AS ham_sum
        |FROM agg WHERE matched_frames = 3 ORDER BY media_id, store_id""".stripMargin,
    "image_dedup" ->
      """WITH imgs AS (
        |  SELECT doc_id AS id, text,
        |         least(doc_id % 640 + 16, 32) AS w,
        |         least(doc_id % 480 + 16, 32) AS h
        |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 120),
        |variants AS (
        |  SELECT id, text, w, h, 0 AS noise FROM imgs
        |  UNION ALL SELECT id + 5000000, text, w, h, 0 FROM imgs WHERE id % 30 = 0
        |  UNION ALL SELECT id + 6000000, text, w, h, 1 FROM imgs WHERE id % 45 = 0),
        |gcells AS (
        |  SELECT v.id, v.noise, v.text, gr.r, gc.c,
        |         ((gr.r * v.h) // 8) * v.w + ((gc.c * v.w) // 9) AS p
        |  FROM variants v, generate_series(0, 7) AS gr(r), generate_series(0, 8) AS gc(c)),
        |lums AS (
        |  SELECT id, r, c,
        |    299 * b + 587 * ((b * 31) % 256)
        |      + 114 * (CASE WHEN noise = 1 AND p % 7 = 0
        |                    THEN xor((b * 7) % 256, 255)
        |                    ELSE (b * 7) % 256 END) AS lum
        |  FROM (SELECT id, noise, r, c, p,
        |          CASE WHEN strlen(text) = 0 THEN 0
        |               ELSE unicode(substr(text, CAST(p % strlen(text) AS INT) + 1, 1))
        |          END AS b
        |        FROM gcells)),
        |bits AS (
        |  SELECT a.id, a.r * 8 + a.c AS i,
        |         CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM lums a JOIN lums b ON a.id = b.id AND a.r = b.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |pairs AS (
        |  SELECT x.id AS id_a, y.id AS id_b,
        |         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS ham
        |  FROM bits x JOIN bits y ON x.i = y.i AND x.id < y.id
        |  GROUP BY x.id, y.id)
        |SELECT id_a, id_b, CAST(ham AS BIGINT) AS ham
        |FROM pairs WHERE ham <= 3 ORDER BY id_a, id_b""".stripMargin,
    // incremental image dedup: same closed-form hashes, but pairs are
    // the increment (variant ids) against the stored base corpus
    "image_dedup_incremental" ->
      """WITH imgs AS (
        |  SELECT doc_id AS id, text,
        |         least(doc_id % 640 + 16, 32) AS w,
        |         least(doc_id % 480 + 16, 32) AS h
        |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 120),
        |variants AS (
        |  SELECT id, text, w, h, 0 AS noise FROM imgs
        |  UNION ALL SELECT id + 5000000, text, w, h, 0 FROM imgs WHERE id % 30 = 0
        |  UNION ALL SELECT id + 6000000, text, w, h, 1 FROM imgs WHERE id % 45 = 0),
        |gcells AS (
        |  SELECT v.id, v.noise, v.text, gr.r, gc.c,
        |         ((gr.r * v.h) // 8) * v.w + ((gc.c * v.w) // 9) AS p
        |  FROM variants v, generate_series(0, 7) AS gr(r), generate_series(0, 8) AS gc(c)),
        |lums AS (
        |  SELECT id, r, c,
        |    299 * b + 587 * ((b * 31) % 256)
        |      + 114 * (CASE WHEN noise = 1 AND p % 7 = 0
        |                    THEN xor((b * 7) % 256, 255)
        |                    ELSE (b * 7) % 256 END) AS lum
        |  FROM (SELECT id, noise, r, c, p,
        |          CASE WHEN strlen(text) = 0 THEN 0
        |               ELSE unicode(substr(text, CAST(p % strlen(text) AS INT) + 1, 1))
        |          END AS b
        |        FROM gcells)),
        |bits AS (
        |  SELECT a.id, a.r * 8 + a.c AS i,
        |         CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM lums a JOIN lums b ON a.id = b.id AND a.r = b.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |pairs AS (
        |  SELECT x.id AS id, y.id AS store_id,
        |         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS ham
        |  FROM bits x JOIN bits y ON x.i = y.i
        |  WHERE x.id >= 5000000 AND y.id < 5000000
        |  GROUP BY x.id, y.id)
        |SELECT id, store_id, CAST(ham AS BIGINT) AS ham
        |FROM pairs WHERE ham <= 3 ORDER BY id, store_id""".stripMargin,
    // audio envelope-hash dedup, closed-form: PCM-16 samples
    // resynthesized from the document bytes (with the toShort
    // wraparound), 65 window energies, cross-multiplied gradient
    // bits, all-pairs popcount at ham <= 3. Synthetic samples are all
    // EVEN, so the halved variant's s // 2 is exact (floor == trunc)
    "audio_dedup" ->
      """WITH auds AS (
        |  SELECT doc_id AS id, text, strlen(text) AS len
        |  FROM documents
        |  WHERE doc_id % 3 = 1 AND doc_id < 120 AND strlen(text) >= 17),
        |variants AS (
        |  SELECT id, text, len, 0 AS scaled, 0 AS noise FROM auds
        |  UNION ALL SELECT id + 5000000, text, len, 1, 0 FROM auds WHERE id % 30 = 1
        |  UNION ALL SELECT id + 6000000, text, len, 0, 1 FROM auds WHERE id % 45 = 1),
        |v AS (SELECT *, least(len * 4, 2048) AS ns FROM variants),
        |samples AS (
        |  SELECT q.id, q.ns, q.i,
        |    CASE WHEN q.noise = 1 AND q.i % 11 = 0
        |         THEN ((q.s1 + 500 + 32768) % 65536) - 32768
        |         ELSE q.s1 END AS s
        |  FROM (
        |    SELECT v.id, v.ns, v.noise, g.i,
        |      CASE WHEN v.scaled = 1 THEN l.s0 // 2 ELSE l.s0 END AS s1
        |    FROM v, generate_series(0, 2047) AS g(i),
        |      LATERAL (SELECT ((unicode(substr(v.text, CAST(g.i % v.len AS INT) + 1, 1))
        |                        - 128) * 256 + (g.i % 7) * 100 + 32768) % 65536 - 32768 AS s0) l
        |    WHERE g.i < v.ns) q),
        |winb AS (
        |  SELECT DISTINCT w.id, w.ns, j.j,
        |         (j.j * w.ns) // 65 AS lo, ((j.j + 1) * w.ns) // 65 AS hi
        |  FROM (SELECT DISTINCT id, ns FROM v) w, generate_series(0, 64) AS j(j)),
        |we AS (
        |  SELECT b.id, b.j, b.hi - b.lo AS wn, sum(s.s * s.s) AS e
        |  FROM winb b JOIN samples s ON s.id = b.id AND s.i >= b.lo AND s.i < b.hi
        |  GROUP BY b.id, b.j, b.hi, b.lo),
        |bits AS (
        |  SELECT a.id, a.j AS i,
        |         CASE WHEN b.e * a.wn > a.e * b.wn THEN 1 ELSE 0 END AS bit
        |  FROM we a JOIN we b ON a.id = b.id AND b.j = a.j + 1
        |  WHERE a.j < 64),
        |pairs AS (
        |  SELECT x.id AS id_a, y.id AS id_b,
        |         sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS ham
        |  FROM bits x JOIN bits y ON x.i = y.i AND x.id < y.id
        |  GROUP BY x.id, y.id)
        |SELECT id_a, id_b, CAST(ham AS BIGINT) AS ham
        |FROM pairs WHERE ham <= 3 ORDER BY id_a, id_b""".stripMargin,
    // supervised bucketing on the integer mu-grid: centroid sums and
    // squared distances are exact integers, so the argmin replays;
    // parallel unnest zips component with 1-based position
    "topic_assign" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |comp AS (
        |  SELECT label,
        |    unnest(range(1, len(q) + 1)) AS pos,
        |    unnest(q) AS val
        |  FROM e),
        |cell AS (
        |  SELECT label AS clabel, pos,
        |    CAST(floor(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cv
        |  FROM comp GROUP BY label, pos),
        |cent AS (SELECT clabel, list(cv ORDER BY pos) AS c FROM cell GROUP BY clabel),
        |d AS (
        |  SELECT e.vec_id, e.label, cent.clabel,
        |    list_sum([(e.q[i] - cent.c[i]) * (e.q[i] - cent.c[i])
        |              for i in range(1, len(e.q) + 1)]) AS dist
        |  FROM e, cent),
        |a AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
        |  FROM d)
        |SELECT vec_id, CAST(label AS INT) AS label, CAST(clabel AS INT) AS assigned,
        |  (clabel = label) AS correct
        |FROM a WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    // unsupervised k-means: md5 seeds + 3 unrolled Lloyd CTE
    // iterations, all integer-grid exact (see kmeansIterSql)
    "kmeans_train" -> kmeansTrainOracleSql,
    // sliding-window chunking: same starts (0,48,96,… until a window
    // reaches the end), inclusive list slices clamp like Spark slice()
    "chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0,
        |      greatest(CAST(ceil((len(ws) - 64) / 48.0) AS BIGINT), 0) + 1))
        |      AS cid
        |  FROM t)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |  CAST(cid * 48 AS BIGINT) AS chunk_start,
        |  CAST(len(ws[cid*48 + 1 : cid*48 + 64]) AS BIGINT) AS n_tokens,
        |  array_to_string(ws[cid*48 + 1 : cid*48 + 64], ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0,
        |      greatest(CAST(ceil((len(ws) - 64) / 48.0) AS BIGINT), 0) + 1))
        |      AS cid
        |  FROM t),
        |ch AS (
        |  SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |    array_to_string(ws[cid*48 + 1 : cid*48 + 64], ' ') AS chunk_text
        |  FROM c),
        |d AS (
        |  SELECT doc_id, chunk_id,
        |    count(*) OVER (PARTITION BY md5(chunk_text)) AS occurrences,
        |    row_number() OVER (PARTITION BY md5(chunk_text)
        |                       ORDER BY doc_id, chunk_id) AS rn
        |  FROM ch)
        |SELECT doc_id, chunk_id, CAST(occurrences AS BIGINT) AS occurrences
        |FROM d WHERE rn = 1
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "simsearch_cosine" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |exploded AS (
        |  SELECT e.vec_id,
        |         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
        |         unnest(CAST(q.qv AS DOUBLE[])) AS y
        |  FROM embeddings e, q),
        |sums AS (
        |  SELECT vec_id,
        |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |  FROM exploded GROUP BY vec_id)
        |SELECT vec_id,
        |       round(CAST(dotd AS DOUBLE) / (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) + 0.0 AS cos
        |FROM sums ORDER BY vec_id""".stripMargin,
    "simsearch_quantized" ->
      """WITH s AS (
        |  SELECT vec_id,
        |    CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
        |         THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding,
        |           x -> floor(CAST(x AS DOUBLE)
        |                / (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))/127.0)
        |                + 0.5))
        |    END AS q
        |  FROM embeddings),
        |qv AS (SELECT q AS qb FROM s WHERE vec_id = 0)
        |SELECT z.vec_id,
        |  round(list_dot_product(z.q, qv.qb)
        |        / (sqrt(list_dot_product(z.q, z.q)) * sqrt(list_dot_product(qv.qb, qv.qb))), 3)
        |    + 0.0 AS cos_q
        |FROM s z, qv ORDER BY z.vec_id""".stripMargin,
    "semantic_dedup" -> semanticDedupOracleSql,
    // winnowing: char-8-gram md5 hashes, window-8 minima (DuckDB
    // slices are INCLUSIVE: h[i:i+7] is 8 elements), distinct per
    // doc, 50-doc bucket guard, pairs sharing >= 10 fingerprints
    "winnow_overlap" ->
      """WITH alld AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' near duplicate tail'
        |  FROM documents WHERE doc_id % 50 = 0),
        |canon AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS c
        |  FROM alld),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN length(c) < 8 THEN [c]
        |         ELSE [substr(c, i, 8) for i in range(1, length(c) - 6)] END AS g
        |  FROM canon),
        |hashes AS (
        |  SELECT doc_id,
        |    list_transform(g, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS h
        |  FROM grams),
        |fps AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(h) < 8 THEN [list_min(h)]
        |         ELSE [list_min(h[i:i+7]) for i in range(1, len(h) - 6)] END) AS f
        |  FROM hashes),
        |inv AS (SELECT doc_id, unnest(f) AS fp FROM fps),
        |ok AS (SELECT fp FROM inv GROUP BY fp HAVING count(*) <= 50),
        |bnd AS (SELECT i.doc_id, i.fp FROM inv i JOIN ok USING (fp)),
        |agg AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM bnd x JOIN bnd y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT id_a, id_b, n_shared FROM agg
        |WHERE n_shared >= 10 ORDER BY id_a, id_b""".stripMargin,
    // DSIR: 128 hashed unigram+bigram buckets, add-1 smoothed
    // target (lang='en') vs raw log-ratios floor-quantized at 1e-6,
    // exact integer per-doc sums, top 50 by weight
    "dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS t,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, t,
        |    list_concat(tk, [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS g
        |  FROM toks),
        |eg AS (SELECT doc_id, t, unnest(g) AS gram FROM grams),
        |bu AS (SELECT doc_id, t,
        |         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % 128 AS b
        |       FROM eg),
        |cells AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS c_r,
        |         CAST(count(*) FILTER (WHERE t) AS BIGINT) AS c_t
        |  FROM bu GROUP BY b),
        |tot AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
        |               CAST(sum(c_t) AS BIGINT) AS n_t FROM cells),
        |allb AS (SELECT CAST(range AS BIGINT) AS b FROM range(128)),
        |lr AS (
        |  SELECT allb.b,
        |    CAST(floor(ln(
        |      (CAST(coalesce(c_t, 0) + 1 AS DOUBLE) / CAST(n_t + 128 AS DOUBLE)) /
        |      (CAST(coalesce(c_r, 0) + 1 AS DOUBLE) / CAST(n_r + 128 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS lr
        |  FROM allb LEFT JOIN cells USING (b) CROSS JOIN tot),
        |score AS (
        |  SELECT bu.doc_id, CAST(count(*) AS BIGINT) AS n_grams, sum(lr.lr) AS w
        |  FROM bu JOIN lr USING (b) GROUP BY bu.doc_id)
        |SELECT doc_id, n_grams, round(CAST(w AS DOUBLE) / 1000000.0, 4) AS weight
        |FROM score ORDER BY w DESC, doc_id LIMIT 50""".stripMargin,
    // RRF: BM25 top-100 (exact-sum cut, rank over the rounded score)
    // + dense decimal-cosine top-100, quantized reciprocal ranks
    "rrf_fusion" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |docs AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |meta AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS total FROM docs),
        |post AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        |  WHERE term IN ('vector', 'merge', 'stream')
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |contrib AS (
        |  SELECT p.doc_id,
        |    CAST(floor(
        |      ln((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) *
        |      ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
        |       (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
        |         (CAST(dl AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))))) *
        |      1000000.0) AS BIGINT) AS lp
        |  FROM post p JOIN dfreq USING (term) JOIN docs USING (doc_id) CROSS JOIN meta),
        |bagg AS (
        |  SELECT doc_id, sum(lp) AS s
        |  FROM contrib GROUP BY doc_id),
        |sparse AS (
        |  SELECT doc_id AS id,
        |    row_number() OVER (ORDER BY round(CAST(s AS DOUBLE) / 1000000.0, 4) DESC, doc_id) AS rank
        |  FROM (SELECT doc_id, s FROM bagg ORDER BY s DESC, doc_id LIMIT 100)),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |exploded AS (
        |  SELECT e.vec_id,
        |         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
        |         unnest(CAST(q.qv AS DOUBLE[])) AS y
        |  FROM embeddings e, q),
        |sums AS (
        |  SELECT vec_id,
        |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |  FROM exploded GROUP BY vec_id),
        |cosd AS (
        |  SELECT vec_id,
        |         round(CAST(dotd AS DOUBLE) /
        |               (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))), 3) AS cos
        |  FROM sums),
        |dense AS (
        |  SELECT vec_id AS id,
        |    row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
        |  FROM (SELECT vec_id, cos FROM cosd ORDER BY cos DESC, vec_id LIMIT 100)),
        |fused AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS n_lists,
        |         sum(CAST(floor(1000000.0 / (60.0 + CAST(rank AS DOUBLE))) AS BIGINT)) AS sq
        |  FROM (SELECT id, rank FROM sparse UNION ALL SELECT id, rank FROM dense)
        |  GROUP BY id)
        |SELECT id AS doc_id, n_lists, round(CAST(sq AS DOUBLE) / 1000000.0, 4) AS score
        |FROM fused ORDER BY sq DESC, id LIMIT 20""".stripMargin,
    // count-min verdict gate: exact counts replayed, cm_ok asserted
    // true (the sketch's own estimates are engine-specific)
    "countmin_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |probes AS (SELECT unnest(['vector','merge','stream','the','data']) AS term),
        |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY term)
        |SELECT p.term, coalesce(ex.exact_n, 0) AS exact_n, true AS cm_ok
        |FROM probes p LEFT JOIN ex USING (term)
        |ORDER BY p.term""".stripMargin,
    // BPE iteration-1 pair counts: vocabulary-collapsed words, char
    // bigrams + (last char, </w>) boundary pair, frequency-weighted
    "bpe_pair_stats" ->
      """WITH words AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS wn
        |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY tok
        |  HAVING length(tok) >= 1),
        |pairs AS (
        |  SELECT wn, unnest(list_concat(
        |    CASE WHEN length(w) >= 2
        |         THEN [substr(w, i, 2) for i in range(1, length(w))]
        |         ELSE []::VARCHAR[] END,
        |    [substr(w, length(w), 1) || '</w>'])) AS pair
        |  FROM words)
        |SELECT pair, CAST(sum(wn) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 30""".stripMargin,
    "bpe_train" -> bpeTrainOracleSql,
    "bpe_segment" -> bpeSegmentOracleSql,
    // unigram-LM: substring seed + 2 unrolled hard-EM rounds, Viterbi
    // DP per position as CTEs, backpointer walk as a recursive CTE
    "ulm_train" -> ulmTrainOracleSql,
    "ulm_train_pruned" -> ulmTrainPrunedOracleSql,
    "ulm_segment" -> ulmSegmentOracleSql,
    "wordpiece_segment" -> wordpieceSegmentOracleSql,
    // chunk-level BM25: the chunk_documents replay feeding the
    // bm25_search integer-grid formula over composite chunk ids
    "chunk_search" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0,
        |      greatest(CAST(ceil((len(ws) - 64) / 48.0) AS BIGINT), 0) + 1))
        |      AS cid
        |  FROM t),
        |ch AS (
        |  SELECT doc_id * 100000 + cid AS cid,
        |    array_to_string(ws[cid*48 + 1 : cid*48 + 64], ' ') AS chunk_text
        |  FROM c),
        |toks AS (
        |  SELECT cid, regexp_split_to_array(lower(trim(chunk_text)), '\s+') AS t
        |  FROM ch),
        |lens AS (SELECT cid, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |meta AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS total FROM lens),
        |post AS (
        |  SELECT cid, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT cid, unnest(t) AS term FROM toks)
        |  WHERE term IN ('vector', 'merge', 'stream')
        |  GROUP BY cid, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |contrib AS (
        |  SELECT p.cid,
        |    CAST(floor(
        |      ln((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) *
        |      ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
        |       (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
        |         (CAST(dl AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))))) *
        |      1000000.0) AS BIGINT) AS lp
        |  FROM post p JOIN dfreq USING (term) JOIN lens USING (cid) CROSS JOIN meta),
        |agg2 AS (
        |  SELECT cid, CAST(count(*) AS BIGINT) AS n_terms, sum(lp) AS s
        |  FROM contrib GROUP BY cid)
        |SELECT CAST(cid // 100000 AS BIGINT) AS doc_id, CAST(cid % 100000 AS INT) AS chunk_id,
        |       n_terms, round(CAST(s AS DOUBLE) / 1000000.0, 4) AS score
        |FROM agg2 ORDER BY s DESC, cid LIMIT 20""".stripMargin,
    // heavy hitters: exact counts above floor(N/64) replayed, hh_ok
    // verdict asserted (superset + collision-bound guarantees)
    "countmin_heavyhitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY term),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
        |SELECT term, exact_n, true AS hh_ok
        |FROM ex, tot
        |WHERE exact_n >= CAST(floor(n / 64.0) AS BIGINT)
        |ORDER BY exact_n DESC, term""".stripMargin,
    // SCD2: lead over ALL changes (tombstones close predecessors),
    // tombstone rows themselves filtered after the window
    "scd2_history" ->
      """WITH h AS (
        |  SELECT user_id, event_id, event_type, value,
        |         event_id AS valid_from,
        |         lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |           AS valid_to
        |  FROM events)
        |SELECT user_id, event_id, event_type, round(value, 2) AS value,
        |       valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM h WHERE event_type <> 'error'
        |ORDER BY user_id, valid_from""".stripMargin,
    // point-in-time read at version max(event_id)//2: interval
    // containment over the same history CTE
    "scd2_asof" ->
      """WITH v AS (SELECT max(event_id) // 2 AS ver FROM events),
        |h AS (
        |  SELECT user_id, event_id, event_type, value,
        |         event_id AS valid_from,
        |         lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |           AS valid_to
        |  FROM events)
        |SELECT user_id, event_id, event_type, round(value, 2) AS value
        |FROM h, v
        |WHERE event_type <> 'error'
        |  AND valid_from <= v.ver AND (valid_to IS NULL OR valid_to > v.ver)
        |ORDER BY user_id""".stripMargin,
    // stupid backoff: three count CTEs from the train split, held-out
    // positions left-joined on their gram keys, CASE cascade with one
    // 0.4 penalty per skipped order, micro-nat floor per position
    "text_backoff_score" ->
      """WITH tr AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id % 50 <> 7),
        |trt AS (
        |  SELECT unnest(ws) AS w,
        |         unnest(list_transform(range(1, len(ws)+1),
        |           i -> CASE WHEN i >= 2 THEN ws[i-1] END)) AS w1,
        |         unnest(list_transform(range(1, len(ws)+1),
        |           i -> CASE WHEN i >= 3 THEN ws[i-2] END)) AS w2
        |  FROM tr),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM trt),
        |uni AS (SELECT w, count(*) AS c1 FROM trt GROUP BY w),
        |big AS (SELECT w1, w, count(*) AS c2 FROM trt
        |        WHERE w1 IS NOT NULL GROUP BY w1, w),
        |tri AS (SELECT w2, w1, w, count(*) AS c3 FROM trt
        |        WHERE w2 IS NOT NULL GROUP BY w2, w1, w),
        |sc AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id % 50 = 7),
        |sct AS (
        |  SELECT doc_id, unnest(ws) AS w,
        |         unnest(list_transform(range(1, len(ws)+1),
        |           i -> CASE WHEN i >= 2 THEN ws[i-1] END)) AS w1,
        |         unnest(list_transform(range(1, len(ws)+1),
        |           i -> CASE WHEN i >= 3 THEN ws[i-2] END)) AS w2
        |  FROM sc),
        |j AS (
        |  SELECT s.doc_id, s.w, s.w1, s.w2, t.c3, b.c2, bc.c2 AS c2ctx,
        |         u.c1, uc.c1 AS c1ctx
        |  FROM sct s
        |  LEFT JOIN tri t ON s.w2 = t.w2 AND s.w1 = t.w1 AND s.w = t.w
        |  LEFT JOIN big b ON s.w1 = b.w1 AND s.w = b.w
        |  LEFT JOIN big bc ON s.w2 = bc.w1 AND s.w1 = bc.w
        |  LEFT JOIN uni u ON s.w = u.w
        |  LEFT JOIN uni uc ON s.w1 = uc.w),
        |pos AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN w2 IS NOT NULL AND c3 IS NOT NULL
        |        THEN CAST(c3 AS DOUBLE) / CAST(c2ctx AS DOUBLE)
        |      WHEN w1 IS NOT NULL AND c2 IS NOT NULL THEN
        |        CASE WHEN w2 IS NOT NULL
        |          THEN 0.4 * (CAST(c2 AS DOUBLE) / CAST(c1ctx AS DOUBLE))
        |          ELSE CAST(c2 AS DOUBLE) / CAST(c1ctx AS DOUBLE) END
        |      WHEN w2 IS NOT NULL
        |        THEN 0.4 * 0.4 *
        |             (CAST(greatest(coalesce(c1, 0), 1) AS DOUBLE) / nn)
        |      WHEN w1 IS NOT NULL
        |        THEN 0.4 * (CAST(greatest(coalesce(c1, 0), 1) AS DOUBLE) / nn)
        |      ELSE CAST(greatest(coalesce(c1, 0), 1) AS DOUBLE) / nn
        |    END AS sval,
        |    CASE WHEN w2 IS NOT NULL AND c3 IS NOT NULL THEN 3
        |         WHEN w1 IS NOT NULL AND c2 IS NOT NULL THEN 2
        |         ELSE 1 END AS ord
        |  FROM j, n),
        |q AS (SELECT doc_id,
        |             CAST(floor(ln(sval) * 1000000.0) AS BIGINT) AS ls, ord
        |      FROM pos)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN ord = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
        |  CAST(sum(CASE WHEN ord = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  CAST(sum(CASE WHEN ord = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
        |  round(CAST(sum(ls) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE), 4)
        |    AS avg_logs
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // agg store absorb: the exact metrics replay as one full-corpus
    // groupBy on the micro-grid; absorb==rebuild gates via the verdict
    "agg_store_absorb" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  round(CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0, 4) AS sum_value,
        |  round(CAST(min(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0, 4) AS min_value,
        |  round(CAST(max(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0, 4) AS max_value,
        |  true AS absorb_ok
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    // edit-distance dedup: same window blocking as the sorted-
    // neighborhood oracle, verify replayed with full levenshtein
    // (the thresholded Spark form returns the SAME distance for every
    // pair it keeps)
    "dedup_edit_distance" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' near duplicate tail'
        |  FROM documents WHERE doc_id % 50 = 0),
        |k AS (
        |  SELECT doc_id, lower(trim(text)) AS txt,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM corpus),
        |k2 AS (
        |  SELECT doc_id, txt, ws[1] AS bucket,
        |         array_to_string(ws[1:6], ' ') AS key
        |  FROM k),
        |lagged AS (
        |  SELECT doc_id, txt,
        |         lag(doc_id, 1) OVER w AS id1, lag(txt, 1) OVER w AS tx1,
        |         lag(doc_id, 2) OVER w AS id2, lag(txt, 2) OVER w AS tx2
        |  FROM k2 WINDOW w AS (PARTITION BY bucket ORDER BY key, doc_id)),
        |cand AS (
        |  SELECT doc_id AS b_id, id1 AS a_id, txt, tx1 AS atxt
        |  FROM lagged WHERE id1 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, id2, txt, tx2 FROM lagged WHERE id2 IS NOT NULL),
        |sims AS (
        |  SELECT LEAST(a_id, b_id) AS id_a, GREATEST(a_id, b_id) AS id_b,
        |         levenshtein(txt, atxt) AS dist
        |  FROM cand WHERE abs(len(txt) - len(atxt)) <= 24)
        |SELECT DISTINCT id_a, id_b, CAST(dist AS BIGINT) AS dist
        |FROM sims WHERE dist <= 24
        |ORDER BY id_a, id_b""".stripMargin,
    // hard negatives: decimal-cosine replay (the simsearch_cosine
    // formula) + label exclusion + per-query row_number ranking
    "hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
        |  FROM embeddings WHERE vec_id < 3),
        |exploded AS (
        |  SELECT e.vec_id AS neg_id, e.label AS neg_label, q.query_id,
        |         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
        |         unnest(CAST(q.qv AS DOUBLE[])) AS y
        |  FROM embeddings e, q
        |  WHERE e.label <> q.qlabel AND e.vec_id <> q.query_id),
        |sums AS (
        |  SELECT query_id, neg_id, neg_label,
        |         sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |         sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |         sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |  FROM exploded GROUP BY query_id, neg_id, neg_label),
        |scored AS (
        |  SELECT query_id, neg_id, neg_label,
        |         CAST(dotd AS DOUBLE) /
        |           (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE))) AS cosd
        |  FROM sums),
        |ranked AS (
        |  SELECT query_id, neg_id, neg_label, cosd,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosd DESC, neg_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neg_id, neg_label, round(cosd, 3) + 0.0 AS cos
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // bloom semi-join: result identical to the plain semi-join by
    // construction (fp removed by the real join); plain replay + true
    "bloom_semi_join" ->
      """WITH sel AS (
        |  SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice > 480000),
        |j AS (
        |  SELECT l.* FROM lineitem l
        |  WHERE l.l_orderkey IN (SELECT o_orderkey FROM sel))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
        |       round(sum(l_quantity), 2) AS sum_qty, true AS join_ok
        |FROM j GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // time-range frame: RANGE over epoch seconds, micro-grid sums
    "q48_time_range_window" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |         CAST(floor(value * 1000000.0) AS BIGINT) AS vmicro
        |  FROM events WHERE user_id <= 20)
        |SELECT user_id, event_id, ts_s,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  round(CAST(sum(vmicro) OVER w AS DOUBLE) / 1000000.0, 4) AS sum_1h
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    // z-score outliers: the cross-multiplied inequality in HUGEINT
    // (den^2 * (n*v-S)^2 > num^2 * (n*Q-S^2), num/den = 5/2)
    "event_outliers" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(floor(value * 1000.0) AS BIGINT) AS vmilli
        |  FROM events),
        |st AS (
        |  SELECT event_type,
        |         CAST(count(*) AS HUGEINT) AS n,
        |         CAST(sum(vmilli) AS HUGEINT) AS s,
        |         CAST(sum(CAST(vmilli AS HUGEINT) * CAST(vmilli AS HUGEINT))
        |           AS HUGEINT) AS q
        |  FROM ev GROUP BY event_type)
        |SELECT event_id, user_id, e.event_type, round(value, 2) AS value, vmilli
        |FROM ev e JOIN st USING (event_type)
        |WHERE 4 * (n * CAST(vmilli AS HUGEINT) - s)
        |        * (n * CAST(vmilli AS HUGEINT) - s)
        |      > 25 * (n * q - s * s)
        |ORDER BY event_id""".stripMargin,
    // pivot: five conditional counts
    "q50_pivot" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // native session windows: gap-split replay with the session_window
    // boundary contract (split at gap >= 1800, merge below)
    "q49_session_window" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events WHERE user_id <= 30),
        |flagged AS (
        |  SELECT user_id, ts_s,
        |    CASE WHEN ts_s - lag(ts_s, 1) OVER w >= 1800 THEN 1 ELSE 0 END
        |      AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)),
        |numbered AS (
        |  SELECT user_id, ts_s,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, CAST(min(ts_s) AS BIGINT) AS start_s,
        |       CAST(max(ts_s) - min(ts_s) AS BIGINT) AS span_s,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, start_s""".stripMargin,
    // ordered funnel: stage CTE chain with strict-after semantics
    "funnel_conversion" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |v AS (SELECT user_id, min(ts_s) AS t1 FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(ts_s) AS t2 FROM ev e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ts_s > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(ts_s) AS t3 FROM ev e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ts_s > t2 GROUP BY e.user_id)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |  UNION ALL
        |  SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p)
        |ORDER BY stage""".stripMargin,
    // cohort retention: distinct user-days, first-day cohorts, the
    // (cohort, offset) matrix
    "cohort_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM ev JOIN f USING (user_id)
        |GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // winsorize: discrete rank-ceil(q*n) bounds, milli-grid clipping
    "value_winsorize" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |         CAST(floor(value * 1000.0) AS BIGINT) AS vmilli
        |  FROM events),
        |ranked AS (
        |  SELECT event_type, vmilli,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY vmilli, event_id) AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM ev),
        |bounds AS (
        |  SELECT event_type, n,
        |         max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.05) AS BIGINT))
        |               THEN vmilli END) AS lo_milli,
        |         max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
        |               THEN vmilli END) AS hi_milli
        |  FROM ranked GROUP BY event_type, n)
        |SELECT e.event_type, n, lo_milli, hi_milli,
        |  CAST(sum(CASE WHEN vmilli < lo_milli THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low,
        |  CAST(sum(CASE WHEN vmilli > hi_milli THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high,
        |  round(CAST(sum(least(greatest(vmilli, lo_milli), hi_milli)) AS DOUBLE)
        |    / 1000.0, 3) AS sum_clipped
        |FROM ev e JOIN bounds b ON e.event_type = b.event_type
        |GROUP BY e.event_type, n, lo_milli, hi_milli
        |ORDER BY e.event_type""".stripMargin,
    // centroid similarity: decimal coordinate sums, sum-vector cosine
    "label_centroid_similarity" ->
      """WITH e AS (
        |  SELECT label AS g, unnest(range(1, len(embedding)+1)) AS p,
        |         unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |s AS (SELECT g, p, CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE) AS sx
        |      FROM e GROUP BY g, p),
        |pairs AS (
        |  SELECT a.g AS group_a, b.g AS group_b,
        |         sum(CAST(a.sx * b.sx AS DECIMAL(30,14))) AS dot,
        |         sum(CAST(a.sx * a.sx AS DECIMAL(30,14))) AS na,
        |         sum(CAST(b.sx * b.sx AS DECIMAL(30,14))) AS nb
        |  FROM s a JOIN s b ON a.p = b.p AND a.g < b.g
        |  GROUP BY a.g, b.g)
        |SELECT group_a, group_b,
        |       round(CAST(dot AS DOUBLE) /
        |         (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 4) + 0.0
        |         AS cos
        |FROM pairs ORDER BY group_a, group_b""".stripMargin,
    // PMI collocations: µ-nat quantized ln terms over exact counts
    "collocations_pmi" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |uni AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS tok FROM t) GROUP BY tok),
        |bi AS (
        |  SELECT bg AS bigram, CAST(count(*) AS BIGINT) AS c_pair
        |  FROM (SELECT unnest([array_to_string(t[i:i+1], ' ')
        |                      for i in range(1, len(t))]) AS bg
        |        FROM t WHERE len(t) >= 2)
        |  GROUP BY bg),
        |m AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni,
        |             (SELECT CAST(sum(c_pair) AS BIGINT) FROM bi) AS n_bi),
        |j AS (
        |  SELECT b.bigram, b.c_pair, u1.c AS c_left, u2.c AS c_right,
        |         m.n_uni, m.n_bi
        |  FROM bi b
        |  JOIN uni u1 ON u1.w = string_split(b.bigram, ' ')[1]
        |  JOIN uni u2 ON u2.w = string_split(b.bigram, ' ')[2]
        |  CROSS JOIN m
        |  WHERE b.c_pair >= 5)
        |SELECT bigram, c_pair, c_left, c_right,
        |  CAST(floor((ln(CAST(c_pair AS DOUBLE) / CAST(n_bi AS DOUBLE))
        |    - ln(CAST(c_left AS DOUBLE) / CAST(n_uni AS DOUBLE))
        |    - ln(CAST(c_right AS DOUBLE) / CAST(n_uni AS DOUBLE)))
        |    * 1000000.0) AS BIGINT) AS pmi_micro
        |FROM j
        |ORDER BY pmi_micro DESC, bigram ASC
        |LIMIT 20""".stripMargin,
    // Zipf slope: integer OLS sums on µ-nat logs of (rank, count)
    "zipf_slope" ->
      """WITH c AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY tok),
        |top AS (SELECT w, c FROM c ORDER BY c DESC, w ASC LIMIT 100),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS rk FROM top),
        |q AS (SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
        |             CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
        |      FROM r)
        |SELECT CAST(count(*) AS BIGINT) AS n_ranks,
        |  round(CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS DOUBLE) /
        |        CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS DOUBLE), 6) AS zipf_slope
        |FROM q""".stripMargin,
    // containment dedup: df-filtered distinct trigram sets, integer ratio
    "dedup_containment" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |         array_to_string(t[1:greatest(len(t)//2, 3)], ' ')
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |        FROM documents WHERE doc_id % 50 = 0)),
        |g0 AS (
        |  SELECT doc_id AS id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM base),
        |g1 AS (
        |  SELECT id, CASE WHEN len(t) >= 3
        |    THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
        |    ELSE [array_to_string(t, ' ')] END AS gs
        |  FROM g0),
        |grams AS (SELECT DISTINCT id, g
        |          FROM (SELECT id, unnest(gs) AS g FROM g1)),
        |rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM grams GROUP BY g)
        |         WHERE df BETWEEN 2 AND 20),
        |kept AS (SELECT grams.id, grams.g FROM grams JOIN rare ON grams.g = rare.g),
        |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM kept GROUP BY id),
        |pairs AS (SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS common
        |          FROM kept a JOIN kept b ON a.g = b.g AND a.id < b.id
        |          GROUP BY a.id, b.id),
        |j AS (SELECT p.id_a, p.id_b, p.common, sa.sz AS sz_a, sb.sz AS sz_b
        |      FROM pairs p JOIN sizes sa ON p.id_a = sa.id
        |                   JOIN sizes sb ON p.id_b = sb.id)
        |SELECT id_a, id_b, common, sz_a, sz_b,
        |       common * 1000000 // least(sz_a, sz_b) AS containment_micro
        |FROM j
        |WHERE common * 1000000 // least(sz_a, sz_b) >= 800000
        |ORDER BY id_a, id_b""".stripMargin,
    // bitext mining: decimal-cosine sims over the two planted sides,
    // integral ratio margins, mutual argmax, 1.5 threshold
    "bitext_mine" ->
      """WITH s AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 30),
        |tt AS (
        |  SELECT vec_id + 2000 AS id,
        |    CAST(list_transform(embedding, x -> x + CAST(0.0004 AS FLOAT))
        |      AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 24
        |  UNION ALL
        |  SELECT vec_id + 3000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 40 AND vec_id < 50),
        |p AS (SELECT s.id AS src_id, tt.id AS tgt_id, s.v AS va, tt.v AS vb
        |      FROM s, tt),
        |e AS (SELECT src_id, tgt_id, unnest(va) AS x, unnest(vb) AS y FROM p),
        |sums AS (SELECT src_id, tgt_id,
        |        sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |        sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |        sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |      FROM e GROUP BY src_id, tgt_id),
        |sim AS (SELECT src_id, tgt_id,
        |        CAST(floor(CAST(dotd AS DOUBLE) /
        |          (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE)))
        |          * 1000000.0) AS BIGINT) AS sim
        |        FROM sums),
        |f AS (SELECT src_id, sum(sim) AS fsum, count(*) AS fcnt FROM (
        |        SELECT src_id, sim,
        |          row_number() OVER (PARTITION BY src_id
        |                             ORDER BY sim DESC, tgt_id) AS rk
        |        FROM sim) WHERE rk <= 4 GROUP BY src_id),
        |b AS (SELECT tgt_id, sum(sim) AS bsum, count(*) AS bcnt FROM (
        |        SELECT tgt_id, sim,
        |          row_number() OVER (PARTITION BY tgt_id
        |                             ORDER BY sim DESC, src_id) AS rk
        |        FROM sim) WHERE rk <= 4 GROUP BY tgt_id),
        |m AS (SELECT sim.src_id, sim.tgt_id, sim.sim,
        |        sim.sim * 2000000 * fcnt * bcnt
        |          // (fsum * bcnt + bsum * fcnt) AS margin
        |      FROM sim JOIN f ON sim.src_id = f.src_id
        |                JOIN b ON sim.tgt_id = b.tgt_id),
        |best AS (SELECT src_id, tgt_id, sim, margin,
        |        row_number() OVER (PARTITION BY src_id
        |                           ORDER BY margin DESC, tgt_id) AS bf,
        |        row_number() OVER (PARTITION BY tgt_id
        |                           ORDER BY margin DESC, src_id) AS bb
        |      FROM m)
        |SELECT src_id, tgt_id, CAST(sim AS BIGINT) AS sim_micro,
        |  CAST(margin AS BIGINT) AS margin_micro
        |FROM best WHERE bf = 1 AND bb = 1 AND margin >= 1500000
        |ORDER BY src_id, tgt_id""".stripMargin,
    // ANN-composed bitext mining: rows are the exact broadcast mine
    // (same replay as bitext_mine); recall_ok asserted true — the
    // >=90% ANN-recall check runs in-plan Spark-side
    "bitext_mine_ann" ->
      """WITH s AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 30),
        |tt AS (
        |  SELECT vec_id + 2000 AS id,
        |    CAST(list_transform(embedding, x -> x + CAST(0.0004 AS FLOAT))
        |      AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 24
        |  UNION ALL
        |  SELECT vec_id + 3000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 40 AND vec_id < 50),
        |p AS (SELECT s.id AS src_id, tt.id AS tgt_id, s.v AS va, tt.v AS vb
        |      FROM s, tt),
        |e AS (SELECT src_id, tgt_id, unnest(va) AS x, unnest(vb) AS y FROM p),
        |sums AS (SELECT src_id, tgt_id,
        |        sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |        sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |        sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |      FROM e GROUP BY src_id, tgt_id),
        |sim AS (SELECT src_id, tgt_id,
        |        CAST(floor(CAST(dotd AS DOUBLE) /
        |          (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE)))
        |          * 1000000.0) AS BIGINT) AS sim
        |        FROM sums),
        |f AS (SELECT src_id, sum(sim) AS fsum, count(*) AS fcnt FROM (
        |        SELECT src_id, sim,
        |          row_number() OVER (PARTITION BY src_id
        |                             ORDER BY sim DESC, tgt_id) AS rk
        |        FROM sim) WHERE rk <= 4 GROUP BY src_id),
        |b AS (SELECT tgt_id, sum(sim) AS bsum, count(*) AS bcnt FROM (
        |        SELECT tgt_id, sim,
        |          row_number() OVER (PARTITION BY tgt_id
        |                             ORDER BY sim DESC, src_id) AS rk
        |        FROM sim) WHERE rk <= 4 GROUP BY tgt_id),
        |m AS (SELECT sim.src_id, sim.tgt_id, sim.sim,
        |        sim.sim * 2000000 * fcnt * bcnt
        |          // (fsum * bcnt + bsum * fcnt) AS margin
        |      FROM sim JOIN f ON sim.src_id = f.src_id
        |                JOIN b ON sim.tgt_id = b.tgt_id),
        |best AS (SELECT src_id, tgt_id, sim, margin,
        |        row_number() OVER (PARTITION BY src_id
        |                           ORDER BY margin DESC, tgt_id) AS bf,
        |        row_number() OVER (PARTITION BY tgt_id
        |                           ORDER BY margin DESC, src_id) AS bb
        |      FROM m)
        |SELECT src_id, tgt_id, CAST(sim AS BIGINT) AS sim_micro,
        |  CAST(margin AS BIGINT) AS margin_micro, true AS recall_ok
        |FROM best WHERE bf = 1 AND bb = 1 AND margin >= 1500000
        |ORDER BY src_id, tgt_id""".stripMargin,
    // mutual kNN graph: decimal cosine, per-source top-5, mutuality
    "knn_graph" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 100),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst, a.v AS va, b.v AS vb
        |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        |e AS (SELECT src, dst, unnest(va) AS x, unnest(vb) AS y FROM p),
        |sums AS (SELECT src, dst,
        |        sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |        sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |        sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |      FROM e GROUP BY src, dst),
        |sim AS (SELECT src, dst,
        |        CAST(floor(CAST(dotd AS DOUBLE) /
        |          (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE)))
        |          * 1000000.0) AS BIGINT) AS sim_micro
        |        FROM sums),
        |r AS (SELECT src, dst, sim_micro,
        |        row_number() OVER (PARTITION BY src
        |                           ORDER BY sim_micro DESC, dst) AS rk
        |      FROM sim),
        |d AS (SELECT src, dst, sim_micro FROM r WHERE rk <= 5)
        |SELECT d.src AS id_a, d.dst AS id_b, d.sim_micro
        |FROM d JOIN d d2 ON d.src = d2.dst AND d.dst = d2.src
        |WHERE d.src < d.dst
        |ORDER BY id_a, id_b""".stripMargin,
    // ANN graph gate: the exact mutual 5-NN graph over the planted
    // 30x10 cluster corpus (replayed row-for-row; float-exact variant
    // construction), recall_ok asserted true — the IVF composition's
    // recall runs in-plan on the Spark side
    "knn_graph_ann" ->
      """WITH n AS (
        |  SELECT b.vec_id * 10 + t.i AS vec_id,
        |         CAST(list_transform(b.embedding,
        |           x -> x + CAST(t.i AS FLOAT) * CAST(0.0005 AS FLOAT))
        |           AS DOUBLE[]) AS v
        |  FROM embeddings b, generate_series(0, 9) AS t(i)
        |  WHERE b.vec_id < 30),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst, a.v AS va, b.v AS vb
        |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        |e AS (SELECT src, dst, unnest(va) AS x, unnest(vb) AS y FROM p),
        |sums AS (SELECT src, dst,
        |        sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |        sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |        sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |      FROM e GROUP BY src, dst),
        |sim AS (SELECT src, dst,
        |        CAST(floor(CAST(dotd AS DOUBLE) /
        |          (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE)))
        |          * 1000000.0) AS BIGINT) AS sim_micro
        |        FROM sums),
        |r AS (SELECT src, dst, sim_micro,
        |        row_number() OVER (PARTITION BY src
        |                           ORDER BY sim_micro DESC, dst) AS rk
        |      FROM sim),
        |d AS (SELECT src, dst, sim_micro FROM r WHERE rk <= 5)
        |SELECT d.src AS id_a, d.dst AS id_b, d.sim_micro, true AS recall_ok
        |FROM d JOIN d d2 ON d.src = d2.dst AND d.dst = d2.src
        |WHERE d.src < d.dst
        |ORDER BY id_a, id_b""".stripMargin,
    // ANN semantic clusters: components of the exact mutual graph
    // (recursive closure), clusters_ok asserted true — the ANN
    // component agreement runs in-plan on the Spark side
    "semantic_clusters_ann" ->
      """WITH RECURSIVE n AS (
        |  SELECT b.vec_id * 10 + t.i AS vec_id,
        |         CAST(list_transform(b.embedding,
        |           x -> x + CAST(t.i AS FLOAT) * CAST(0.0005 AS FLOAT))
        |           AS DOUBLE[]) AS v
        |  FROM embeddings b, generate_series(0, 9) AS t(i)
        |  WHERE b.vec_id < 30),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst, a.v AS va, b.v AS vb
        |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        |e AS (SELECT src, dst, unnest(va) AS x, unnest(vb) AS y FROM p),
        |sums AS (SELECT src, dst,
        |        sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |        sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |        sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |      FROM e GROUP BY src, dst),
        |sim AS (SELECT src, dst,
        |        CAST(floor(CAST(dotd AS DOUBLE) /
        |          (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE)))
        |          * 1000000.0) AS BIGINT) AS sim_micro
        |        FROM sums),
        |r AS (SELECT src, dst, sim_micro,
        |        row_number() OVER (PARTITION BY src
        |                           ORDER BY sim_micro DESC, dst) AS rk
        |      FROM sim),
        |d AS (SELECT src, dst FROM r WHERE rk <= 5),
        |mut AS (SELECT d.src AS a, d.dst AS b
        |        FROM d JOIN d d2 ON d.src = d2.dst AND d.dst = d2.src
        |        WHERE d.src < d.dst),
        |edges AS (SELECT a AS src, b AS dst FROM mut
        |          UNION SELECT b, a FROM mut),
        |reach(id, rr) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, reach.rr FROM edges e2 JOIN reach ON e2.dst = reach.id),
        |comp AS (SELECT id, min(rr) AS cluster FROM reach GROUP BY id)
        |SELECT cluster AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members,
        |       true AS clusters_ok
        |FROM comp GROUP BY cluster ORDER BY cluster_id""".stripMargin,
    // MMR serving gate: candidate µ-cosines vs the query (vec 0) and
    // the two fixed exemplars (vec 1, 2); integer score and verdict
    "mmr_diversity_gate" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
        |q AS (SELECT vv AS qv FROM v WHERE vec_id = 0),
        |s1 AS (SELECT vv AS sv FROM v WHERE vec_id = 1),
        |s2 AS (SELECT vv AS sv FROM v WHERE vec_id = 2),
        |cand AS (SELECT vec_id, vv FROM v WHERE vec_id >= 3),
        |rel AS (
        |  SELECT vec_id,
        |    CAST(floor(CAST(sum(CAST(x*y AS DECIMAL(28,14))) AS DOUBLE) /
        |      (sqrt(CAST(sum(CAST(x*x AS DECIMAL(28,14))) AS DOUBLE)) *
        |       sqrt(CAST(sum(CAST(y*y AS DECIMAL(28,14))) AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS rel_micro
        |  FROM (SELECT c.vec_id, unnest(c.vv) AS x, unnest(q.qv) AS y
        |        FROM cand c, q)
        |  GROUP BY vec_id),
        |m1 AS (
        |  SELECT vec_id,
        |    CAST(floor(CAST(sum(CAST(x*y AS DECIMAL(28,14))) AS DOUBLE) /
        |      (sqrt(CAST(sum(CAST(x*x AS DECIMAL(28,14))) AS DOUBLE)) *
        |       sqrt(CAST(sum(CAST(y*y AS DECIMAL(28,14))) AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS sim1
        |  FROM (SELECT c.vec_id, unnest(c.vv) AS x, unnest(s1.sv) AS y
        |        FROM cand c, s1)
        |  GROUP BY vec_id),
        |m2 AS (
        |  SELECT vec_id,
        |    CAST(floor(CAST(sum(CAST(x*y AS DECIMAL(28,14))) AS DOUBLE) /
        |      (sqrt(CAST(sum(CAST(x*x AS DECIMAL(28,14))) AS DOUBLE)) *
        |       sqrt(CAST(sum(CAST(y*y AS DECIMAL(28,14))) AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS sim2
        |  FROM (SELECT c.vec_id, unnest(c.vv) AS x, unnest(s2.sv) AS y
        |        FROM cand c, s2)
        |  GROUP BY vec_id)
        |SELECT r.vec_id, r.rel_micro,
        |       greatest(m1.sim1, m2.sim2) AS max_sim_micro,
        |       r.rel_micro - greatest(m1.sim1, m2.sim2) AS score_micro,
        |       (r.rel_micro - greatest(m1.sim1, m2.sim2) >= 0) AS keep
        |FROM rel r JOIN m1 ON r.vec_id = m1.vec_id
        |           JOIN m2 ON r.vec_id = m2.vec_id
        |ORDER BY r.vec_id""".stripMargin,
    // greedy MMR: 5 unrolled argmax rounds on the µ-grid (λ = 1/2)
    "mmr_select" ->
      """WITH v0 AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS MATERIALIZED (SELECT v AS qv FROM v0 WHERE vec_id = 0),
        |nrm AS MATERIALIZED (
        |  SELECT vec_id, sum(CAST(x*x AS DECIMAL(28,14))) AS n2
        |  FROM (SELECT vec_id, unnest(v) AS x FROM v0) GROUP BY vec_id),
        |dq AS MATERIALIZED (
        |  SELECT vec_id, sum(CAST(x*y AS DECIMAL(28,14))) AS d
        |  FROM (SELECT vec_id, unnest(v) AS x, unnest(qv) AS y
        |        FROM v0 CROSS JOIN q)
        |  GROUP BY vec_id),
        |base AS MATERIALIZED (
        |  SELECT v0.vec_id, v0.v,
        |    CAST(floor(CAST(dq.d AS DOUBLE) /
        |      (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS rel
        |  FROM v0 JOIN dq ON v0.vec_id = dq.vec_id
        |       JOIN nrm n ON v0.vec_id = n.vec_id
        |       CROSS JOIN (SELECT n2 FROM nrm WHERE vec_id = 0) qn),
        |s1 AS MATERIALIZED (
        |  SELECT vec_id, v, rel, 1 * rel AS score FROM base
        |  ORDER BY rel DESC, vec_id LIMIT 1),
        |m1 AS MATERIALIZED (
        |  SELECT w.vec_id,
        |    CAST(floor(CAST(w.d AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS sim
        |  FROM (SELECT vec_id, sum(CAST(x*y AS DECIMAL(28,14))) AS d
        |        FROM (SELECT b.vec_id AS vec_id, unnest(b.v) AS x,
        |                     unnest(s.v) AS y
        |              FROM base b CROSS JOIN s1 s)
        |        GROUP BY vec_id) w
        |  JOIN nrm na ON w.vec_id = na.vec_id
        |  CROSS JOIN (SELECT n.n2 AS n2 FROM nrm n
        |              JOIN s1 ON n.vec_id = s1.vec_id) ns),
        |s2 AS MATERIALIZED (
        |  SELECT b.vec_id, b.v, b.rel, 1 * b.rel - 1 * m1.sim AS score
        |  FROM base b JOIN m1 ON b.vec_id = m1.vec_id
        |  WHERE b.vec_id NOT IN (SELECT vec_id FROM s1)
        |  ORDER BY score DESC, b.vec_id LIMIT 1),
        |m2 AS MATERIALIZED (
        |  SELECT w.vec_id,
        |    CAST(floor(CAST(w.d AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS sim
        |  FROM (SELECT vec_id, sum(CAST(x*y AS DECIMAL(28,14))) AS d
        |        FROM (SELECT b.vec_id AS vec_id, unnest(b.v) AS x,
        |                     unnest(s.v) AS y
        |              FROM base b CROSS JOIN s2 s)
        |        GROUP BY vec_id) w
        |  JOIN nrm na ON w.vec_id = na.vec_id
        |  CROSS JOIN (SELECT n.n2 AS n2 FROM nrm n
        |              JOIN s2 ON n.vec_id = s2.vec_id) ns),
        |mx2 AS MATERIALIZED (
        |  SELECT m1.vec_id, greatest(m1.sim, m2.sim) AS ms
        |  FROM m1 JOIN m2 ON m1.vec_id = m2.vec_id),
        |s3 AS MATERIALIZED (
        |  SELECT b.vec_id, b.v, b.rel, 1 * b.rel - 1 * mx.ms AS score
        |  FROM base b JOIN mx2 mx ON b.vec_id = mx.vec_id
        |  WHERE b.vec_id NOT IN (SELECT vec_id FROM s1
        |                         UNION SELECT vec_id FROM s2)
        |  ORDER BY score DESC, b.vec_id LIMIT 1),
        |m3 AS MATERIALIZED (
        |  SELECT w.vec_id,
        |    CAST(floor(CAST(w.d AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS sim
        |  FROM (SELECT vec_id, sum(CAST(x*y AS DECIMAL(28,14))) AS d
        |        FROM (SELECT b.vec_id AS vec_id, unnest(b.v) AS x,
        |                     unnest(s.v) AS y
        |              FROM base b CROSS JOIN s3 s)
        |        GROUP BY vec_id) w
        |  JOIN nrm na ON w.vec_id = na.vec_id
        |  CROSS JOIN (SELECT n.n2 AS n2 FROM nrm n
        |              JOIN s3 ON n.vec_id = s3.vec_id) ns),
        |mx3 AS MATERIALIZED (
        |  SELECT mx2.vec_id, greatest(mx2.ms, m3.sim) AS ms
        |  FROM mx2 JOIN m3 ON mx2.vec_id = m3.vec_id),
        |s4 AS MATERIALIZED (
        |  SELECT b.vec_id, b.v, b.rel, 1 * b.rel - 1 * mx.ms AS score
        |  FROM base b JOIN mx3 mx ON b.vec_id = mx.vec_id
        |  WHERE b.vec_id NOT IN (SELECT vec_id FROM s1
        |                         UNION SELECT vec_id FROM s2
        |                         UNION SELECT vec_id FROM s3)
        |  ORDER BY score DESC, b.vec_id LIMIT 1),
        |m4 AS MATERIALIZED (
        |  SELECT w.vec_id,
        |    CAST(floor(CAST(w.d AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS sim
        |  FROM (SELECT vec_id, sum(CAST(x*y AS DECIMAL(28,14))) AS d
        |        FROM (SELECT b.vec_id AS vec_id, unnest(b.v) AS x,
        |                     unnest(s.v) AS y
        |              FROM base b CROSS JOIN s4 s)
        |        GROUP BY vec_id) w
        |  JOIN nrm na ON w.vec_id = na.vec_id
        |  CROSS JOIN (SELECT n.n2 AS n2 FROM nrm n
        |              JOIN s4 ON n.vec_id = s4.vec_id) ns),
        |mx4 AS MATERIALIZED (
        |  SELECT mx3.vec_id, greatest(mx3.ms, m4.sim) AS ms
        |  FROM mx3 JOIN m4 ON mx3.vec_id = m4.vec_id),
        |s5 AS MATERIALIZED (
        |  SELECT b.vec_id, b.v, b.rel, 1 * b.rel - 1 * mx.ms AS score
        |  FROM base b JOIN mx4 mx ON b.vec_id = mx.vec_id
        |  WHERE b.vec_id NOT IN (SELECT vec_id FROM s1
        |                         UNION SELECT vec_id FROM s2
        |                         UNION SELECT vec_id FROM s3
        |                         UNION SELECT vec_id FROM s4)
        |  ORDER BY score DESC, b.vec_id LIMIT 1)
        |SELECT 1 AS rank, vec_id, rel AS rel_micro, score AS score_micro FROM s1
        |UNION ALL SELECT 2, vec_id, rel, score FROM s2
        |UNION ALL SELECT 3, vec_id, rel, score FROM s3
        |UNION ALL SELECT 4, vec_id, rel, score FROM s4
        |UNION ALL SELECT 5, vec_id, rel, score FROM s5
        |ORDER BY rank""".stripMargin,
    // sharded greedy MMR: 2 rounds, each a per-shard window argmax
    "mmr_sharded" ->
      """WITH v0 AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS MATERIALIZED (SELECT v AS qv FROM v0 WHERE vec_id = 0),
        |cand AS MATERIALIZED (
        |  SELECT vec_id, v,
        |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 AS shard
        |  FROM v0 WHERE vec_id >= 1),
        |nrm AS MATERIALIZED (
        |  SELECT vec_id, sum(CAST(x*x AS DECIMAL(28,14))) AS n2
        |  FROM (SELECT vec_id, unnest(v) AS x FROM v0) GROUP BY vec_id),
        |rel AS MATERIALIZED (
        |  SELECT c.vec_id, c.shard, c.v,
        |    CAST(floor(CAST(d.d AS DOUBLE) /
        |      (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS rel
        |  FROM cand c
        |  JOIN (SELECT vec_id, sum(CAST(x*y AS DECIMAL(28,14))) AS d
        |        FROM (SELECT c.vec_id, unnest(c.v) AS x, unnest(q.qv) AS y
        |              FROM cand c, q)
        |        GROUP BY vec_id) d ON c.vec_id = d.vec_id
        |  JOIN nrm n ON c.vec_id = n.vec_id
        |  CROSS JOIN (SELECT n2 FROM nrm WHERE vec_id = 0) qn),
        |s1 AS MATERIALIZED (
        |  SELECT shard, vec_id, v, rel, 1 * rel AS score FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY shard ORDER BY 1 * rel DESC, vec_id ASC) AS rn
        |    FROM rel)
        |  WHERE rn = 1),
        |m1 AS MATERIALIZED (
        |  SELECT w.vec_id,
        |    CAST(floor(CAST(w.d AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS ms
        |  FROM (SELECT vec_id, pick_id, sum(CAST(x*y AS DECIMAL(28,14))) AS d
        |        FROM (SELECT r.vec_id AS vec_id, s.vec_id AS pick_id,
        |                     unnest(r.v) AS x, unnest(s.v) AS y
        |              FROM rel r JOIN s1 s
        |                ON r.shard = s.shard AND r.vec_id <> s.vec_id)
        |        GROUP BY vec_id, pick_id) w
        |  JOIN nrm na ON w.vec_id = na.vec_id
        |  JOIN nrm ns ON w.pick_id = ns.vec_id),
        |s2 AS MATERIALIZED (
        |  SELECT shard, vec_id, rel, score FROM (
        |    SELECT r.shard, r.vec_id, r.rel, 1 * r.rel - 1 * m.ms AS score,
        |      row_number() OVER (PARTITION BY r.shard
        |        ORDER BY 1 * r.rel - 1 * m.ms DESC, r.vec_id ASC) AS rn
        |    FROM rel r JOIN m1 m ON r.vec_id = m.vec_id
        |    WHERE r.vec_id NOT IN (SELECT vec_id FROM s1))
        |  WHERE rn = 1)
        |SELECT shard, 1 AS rank, vec_id, rel AS rel_micro, score AS score_micro
        |FROM s1
        |UNION ALL SELECT shard, 2, vec_id, rel, score FROM s2
        |ORDER BY shard, rank""".stripMargin,
    // MAD outliers: discrete rank median + MAD, integer threshold
    "event_outliers_mad" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(floor(value * 1000.0) AS BIGINT) AS vmilli
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY vmilli) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |      FROM ev),
        |med AS (SELECT event_type,
        |          max(CASE WHEN rn = (n+1)//2 THEN vmilli END) AS med_milli
        |        FROM r GROUP BY event_type),
        |d AS (SELECT ev.*, m.med_milli, abs(ev.vmilli - m.med_milli) AS dev
        |      FROM ev JOIN med m ON ev.event_type = m.event_type),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |              count(*) OVER (PARTITION BY event_type) AS n
        |       FROM d),
        |mad AS (SELECT event_type,
        |          max(CASE WHEN rn = (n+1)//2 THEN dev END) AS mad_milli
        |        FROM r2 GROUP BY event_type)
        |SELECT d.event_id, d.user_id, d.event_type, round(d.value, 2) AS value,
        |       d.vmilli, d.med_milli, mad.mad_milli
        |FROM d JOIN mad ON d.event_type = mad.event_type
        |WHERE d.dev * 1 > 6 * mad.mad_milli
        |ORDER BY d.event_id""".stripMargin,
    // phrase search: positional match positions via list comprehension
    "phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id AS id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |m AS (
        |  SELECT id, [i for i in range(1, len(t) - 1)
        |              if t[i] = 'slow' AND t[i+1] = 'hash' AND t[i+2] = 'batch'] AS ps
        |  FROM t WHERE len(t) >= 3)
        |SELECT id, CAST(len(ps) AS BIGINT) AS n_matches,
        |       CAST(ps[1] AS BIGINT) AS first_pos
        |FROM m WHERE len(ps) > 0
        |ORDER BY id""".stripMargin,
    // snapshot diff: full-outer keyed compare with per-column verdicts
    "snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        |  FROM orders),
        |b AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 31 = 0 THEN 'X' ELSE o_orderstatus END
        |           AS o_orderstatus,
        |         o_orderpriority,
        |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0),
        |j AS (
        |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |         a.o_orderkey IS NOT NULL AS pa, b.o_orderkey IS NOT NULL AS pb,
        |         a.o_orderstatus AS a_s, b.o_orderstatus AS b_s,
        |         a.o_orderpriority AS a_p, b.o_orderpriority AS b_p,
        |         a.o_totalprice AS a_t, b.o_totalprice AS b_t
        |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey),
        |s AS (
        |  SELECT o_orderkey,
        |    CASE WHEN NOT pa THEN 'added'
        |         WHEN NOT pb THEN 'removed'
        |         WHEN a_s IS NOT DISTINCT FROM b_s
        |              AND a_p IS NOT DISTINCT FROM b_p
        |              AND a_t IS NOT DISTINCT FROM b_t THEN 'unchanged'
        |         ELSE 'changed' END AS status,
        |    CASE WHEN NOT pa OR NOT pb THEN ''
        |         ELSE concat_ws(',',
        |           CASE WHEN a_s IS DISTINCT FROM b_s THEN 'o_orderstatus' END,
        |           CASE WHEN a_p IS DISTINCT FROM b_p THEN 'o_orderpriority' END,
        |           CASE WHEN a_t IS DISTINCT FROM b_t THEN 'o_totalprice' END)
        |    END AS changed_cols
        |  FROM j)
        |SELECT o_orderkey, status, changed_cols
        |FROM s WHERE status <> 'unchanged'
        |ORDER BY o_orderkey""".stripMargin,
    // canonical dedup: per-cluster keeper by (priority, length, id)
    "dedup_canonical" ->
      """WITH base AS (
        |  SELECT doc_id, text, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000, text, 'src99', n_chars
        |  FROM documents WHERE doc_id % 40 = 0
        |  UNION ALL
        |  SELECT doc_id + 4000000, text, 'src0', n_chars
        |  FROM documents WHERE doc_id % 80 = 0),
        |g AS (SELECT md5(text) AS h, doc_id,
        |             CAST(substr(source, 4) AS INT) AS prio, n_chars
        |      FROM base),
        |r AS (SELECT h, doc_id,
        |        row_number() OVER (PARTITION BY h
        |                           ORDER BY prio ASC, n_chars DESC, doc_id ASC) AS rk,
        |        count(*) OVER (PARTITION BY h) AS nc
        |      FROM g)
        |SELECT h, max(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
        |  CAST(max(nc) AS BIGINT) AS n_copies,
        |  array_to_string(list_sort(list(doc_id) FILTER (WHERE rk > 1)), ',')
        |    AS drop_ids
        |FROM r GROUP BY h HAVING max(nc) > 1 ORDER BY h""".stripMargin,
    // column profile: one aggregate, unpivoted per column
    "profile_columns" ->
      """WITH s AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nu_k,
        |    count(DISTINCT o_orderkey) AS d_k,
        |    CAST(min(o_orderkey) AS VARCHAR) AS mn_k,
        |    CAST(max(o_orderkey) AS VARCHAR) AS mx_k,
        |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nu_s,
        |    count(DISTINCT o_orderstatus) AS d_s,
        |    CAST(min(o_orderstatus) AS VARCHAR) AS mn_s,
        |    CAST(max(o_orderstatus) AS VARCHAR) AS mx_s,
        |    sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nu_p,
        |    count(DISTINCT o_orderpriority) AS d_p,
        |    CAST(min(o_orderpriority) AS VARCHAR) AS mn_p,
        |    CAST(max(o_orderpriority) AS VARCHAR) AS mx_p,
        |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nu_d,
        |    count(DISTINCT o_orderdate) AS d_d,
        |    CAST(min(o_orderdate) AS VARCHAR) AS mn_d,
        |    CAST(max(o_orderdate) AS VARCHAR) AS mx_d
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderkey' AS "column", CAST(n AS BIGINT) AS n,
        |    CAST(nu_k AS BIGINT) AS n_null, CAST(d_k AS BIGINT) AS n_distinct,
        |    mn_k AS min_val, mx_k AS max_val FROM s
        |  UNION ALL
        |  SELECT 'o_orderstatus', CAST(n AS BIGINT), CAST(nu_s AS BIGINT),
        |    CAST(d_s AS BIGINT), mn_s, mx_s FROM s
        |  UNION ALL
        |  SELECT 'o_orderpriority', CAST(n AS BIGINT), CAST(nu_p AS BIGINT),
        |    CAST(d_p AS BIGINT), mn_p, mx_p FROM s
        |  UNION ALL
        |  SELECT 'o_orderdate', CAST(n AS BIGINT), CAST(nu_d AS BIGINT),
        |    CAST(d_d AS BIGINT), mn_d, mx_d FROM s)
        |ORDER BY "column"""".stripMargin,
    // referential integrity: anti-join orphan counts, planted gaps
    "fk_integrity" ->
      """SELECT 'lineitem->orders' AS relation,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_children,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey % 50 <> 0
        |                       AND o.o_orderkey = l.l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                     WHERE c.c_custkey % 30 <> 0
        |                       AND c.c_custkey = o.o_custkey))
        |ORDER BY relation""".stripMargin,
    // within-class scatter: µ-grid integer sums, exact to one division
    "label_scatter" ->
      """WITH q AS (
        |  SELECT label, d, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
        |  FROM (SELECT label,
        |          unnest(CAST(embedding AS DOUBLE[])) AS x,
        |          unnest(range(1, len(embedding)+1)) AS d
        |        FROM embeddings)),
        |dims AS (
        |  SELECT label, d, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(qv) AS BIGINT) AS sq,
        |    CAST(sum(qv * qv) AS BIGINT) AS sqq
        |  FROM q GROUP BY label, d),
        |agg AS (
        |  SELECT label, max(n) AS n,
        |    sum(CAST(n AS HUGEINT) * CAST(sqq AS HUGEINT)
        |        - CAST(sq AS HUGEINT) * CAST(sq AS HUGEINT)) AS scatter
        |  FROM dims GROUP BY label)
        |SELECT label, CAST(n AS BIGINT) AS n_vectors,
        |  round(CAST(scatter AS DOUBLE) / CAST(n * n AS DOUBLE)
        |        / 1000000000000.0, 6) + 0.0 AS scatter
        |FROM agg ORDER BY label""".stripMargin,
    // two-sample KS: cross-multiplied integer ECDF supremum
    "value_ks_drift" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS v,
        |    CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS b
        |  FROM events),
        |c AS (
        |  SELECT event_type, v,
        |    CAST(sum(1 - b) AS BIGINT) AS ca, CAST(sum(b) AS BIGINT) AS cb
        |  FROM ev GROUP BY event_type, v),
        |w AS (
        |  SELECT event_type, v,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY v
        |                  ROWS UNBOUNDED PRECEDING) AS cuma,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY v
        |                  ROWS UNBOUNDED PRECEDING) AS cumb,
        |    sum(ca) OVER (PARTITION BY event_type) AS na,
        |    sum(cb) OVER (PARTITION BY event_type) AS nb
        |  FROM c)
        |SELECT event_type,
        |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
        |  CAST(max(abs(cuma * nb - cumb * na)) * 1000000
        |       // (max(na) * max(nb)) AS BIGINT) AS ks_micro
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,
    // epoch shuffle: portable md5 order key, positions on the slice
    "epoch_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) AS key60
        |  FROM documents WHERE doc_id < 100)
        |SELECT CAST(row_number() OVER (ORDER BY key60, doc_id) AS BIGINT) AS pos,
        |       doc_id, key60
        |FROM k ORDER BY pos""".stripMargin,
    // column MI: 1e-12-grid per-cell contributions, exact sum
    "column_mi" ->
      """WITH j AS (
        |  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS cab
        |  FROM documents GROUP BY lang, source),
        |ma AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM j GROUP BY a),
        |mb AS (SELECT b, CAST(sum(cab) AS BIGINT) AS cb FROM j GROUP BY b),
        |m AS (SELECT CAST(sum(cab) AS BIGINT) AS n FROM j),
        |c AS (
        |  SELECT m.n,
        |    CAST(floor(
        |      (CAST(cab AS DOUBLE) / CAST(m.n AS DOUBLE)) *
        |      ln((CAST(cab AS DOUBLE) * CAST(m.n AS DOUBLE)) /
        |         (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))) *
        |      1000000000000.0) AS BIGINT) AS lp
        |  FROM j JOIN ma ON j.a = ma.a JOIN mb ON j.b = mb.b CROSS JOIN m)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_cells,
        |  round(CAST(sum(lp) AS DOUBLE) / 1000000000000.0, 6) AS mi_nats
        |FROM c GROUP BY n""".stripMargin,
    // basket pairs: distinct (order, brand), self-join, integer lift
    "basket_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS it
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM items),
        |ic AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY it),
        |pr AS (
        |  SELECT a.it AS item_a, b.it AS item_b, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY a.it, b.it
        |  HAVING count(*) >= 2)
        |SELECT item_a, item_b, n_pairs, ca.c AS n_a, cb.c AS n_b,
        |  n_pairs * nb.n * 1000000 // (ca.c * cb.c) AS lift_micro
        |FROM pr JOIN ic ca ON pr.item_a = ca.it
        |        JOIN ic cb ON pr.item_b = cb.it
        |        CROSS JOIN nb
        |ORDER BY n_pairs DESC, item_a, item_b
        |LIMIT 20""".stripMargin,
    // hourly interpolation: bracketing obs via ignore-nulls windows,
    // true floor division on the milli-grid
    "ts_interpolate" ->
      """WITH obs AS (
        |  SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         max(CAST(floor(value * 1000.0) AS BIGINT)) AS v
        |  FROM events WHERE user_id <= 5
        |  GROUP BY user_id, CAST(floor(epoch(ts)) AS BIGINT)),
        |bounds AS (SELECT k, min(t) AS lo, max(t) AS hi FROM obs GROUP BY k),
        |grid AS (
        |  SELECT k, unnest(range(((lo + 3599)//3600)*3600, hi + 1, 3600)) AS t
        |  FROM bounds),
        |u AS (
        |  SELECT k, t, v, 0 AS flag FROM obs
        |  UNION ALL
        |  SELECT k, t, NULL, 1 FROM grid),
        |c AS (
        |  SELECT k, t, flag,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY t, flag
        |      ROWS UNBOUNDED PRECEDING) AS pv,
        |    last_value(CASE WHEN flag = 0 THEN t END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY t, flag
        |      ROWS UNBOUNDED PRECEDING) AS pt,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY t DESC, flag DESC
        |      ROWS UNBOUNDED PRECEDING) AS nv,
        |    last_value(CASE WHEN flag = 0 THEN t END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY t DESC, flag DESC
        |      ROWS UNBOUNDED PRECEDING) AS nt
        |  FROM u)
        |SELECT k AS user_id, t AS t_s,
        |  CASE WHEN pt = t THEN pv
        |       ELSE pv + ((nv - pv) * (t - pt)) // (nt - pt) END AS v_milli
        |FROM c WHERE flag = 1
        |ORDER BY user_id, t_s""".stripMargin,
    // skew report: ranked per-key counts, discrete percentiles, Gini
    "skew_report" ->
      """WITH c AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY l_orderkey),
        |r AS (
        |  SELECT k, c,
        |    CAST(row_number() OVER (ORDER BY c, k) AS BIGINT) AS r,
        |    CAST(count(*) OVER () AS BIGINT) AS kn
        |  FROM c)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(c) AS BIGINT) AS max_count,
        |  max(CASE WHEN r = kn THEN k END) AS top_key,
        |  CAST(max(CASE WHEN r = (kn + 1) // 2 THEN c END) AS BIGINT) AS p50_count,
        |  CAST(max(CASE WHEN r = (99 * kn + 99) // 100 THEN c END) AS BIGINT)
        |    AS p99_count,
        |  CAST((2 * sum(r * c) - (count(*) + 1) * sum(c)) * 1000000
        |       // (count(*) * sum(c)) AS BIGINT) AS gini_micro
        |FROM r""".stripMargin,
    // per-user OLS trend: exact moments, one edge division
    "user_trend" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         CAST(floor(value * 1000.0) AS BIGINT) AS y
        |  FROM events WHERE user_id <= 30),
        |o AS (SELECT user_id, min(t) AS t0 FROM e GROUP BY user_id),
        |m AS (
        |  SELECT e.user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(e.t - o.t0) AS HUGEINT) AS sx,
        |    CAST(sum(e.y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(e.t - o.t0 AS HUGEINT) * CAST(e.y AS HUGEINT)) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(e.t - o.t0 AS HUGEINT) * CAST(e.t - o.t0 AS HUGEINT)) AS HUGEINT) AS sxx
        |  FROM e JOIN o ON e.user_id = o.user_id
        |  GROUP BY e.user_id)
        |SELECT user_id, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_milli_per_s
        |FROM m WHERE n * sxx - sx * sx <> 0
        |ORDER BY user_id""".stripMargin,
    // join-size estimate: exact SQL-replayable count; sketch verdicts
    // in-plan (the countmin_tokens convention)
    "join_size_estimate" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY user_id)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |       CAST(sum(c*c) AS BIGINT) AS exact_pairs,
        |       true AS never_under, true AS within_bound
        |FROM c""".stripMargin,
    // entity resolution: block, edit-distance verify, transitive
    // closure, golden record per cluster
    "entity_resolution" ->
      """WITH RECURSIVE base AS (
        |  SELECT c_custkey AS k, c_name AS n FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000,
        |         substr(c_name, 1, 11) || 'x' || substr(c_name, 13, 6)
        |  FROM customer WHERE c_custkey % 25 = 0),
        |blk AS (SELECT substr(n, 15, 4) AS bk FROM base
        |        GROUP BY 1 HAVING count(*) <= 2000),
        |p AS (
        |  SELECT a.k AS id_a, b.k AS id_b
        |  FROM base a JOIN base b
        |    ON substr(a.n, 15, 4) = substr(b.n, 15, 4) AND a.k < b.k
        |  JOIN blk ON substr(a.n, 15, 4) = blk.bk
        |  WHERE levenshtein(a.n, b.n) <= 2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT cl.cluster_id, min(b.k) AS golden_key,
        |  min_by(b.n, b.k) AS golden_name,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  array_to_string(list_sort(list(b.k)), ',') AS members
        |FROM cl JOIN base b ON cl.id = b.k
        |GROUP BY cl.cluster_id
        |ORDER BY cl.cluster_id""".stripMargin,
    // more-like-this: milli-idf weighted postings, query-doc dot
    "more_like_this" ->
      """WITH tf AS (
        |  SELECT doc_id AS id, tok AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |w AS (
        |  SELECT tf.id, tf.term,
        |    tf.tf * ((CAST(floor(ln((nd + 1.0) / (CAST(df AS DOUBLE) + 1.0))
        |                         * 1000000.0) AS BIGINT) + 1000000) // 1000) AS w
        |  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n),
        |norms AS (SELECT id, CAST(sum(w*w) AS BIGINT) AS n2 FROM w GROUP BY id),
        |qv AS (SELECT term, w AS wq FROM w WHERE id = 0),
        |qn AS (SELECT n2 AS qn2 FROM norms WHERE id = 0),
        |d AS (
        |  SELECT w.id, CAST(sum(w.w * qv.wq) AS BIGINT) AS dot,
        |         CAST(count(*) AS BIGINT) AS shared_terms
        |  FROM w JOIN qv ON w.term = qv.term
        |  WHERE w.id <> 0
        |  GROUP BY w.id)
        |SELECT d.id, d.shared_terms,
        |  round(CAST(dot AS DOUBLE) /
        |        (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))), 6) AS sim
        |FROM d JOIN norms ON d.id = norms.id CROSS JOIN qn
        |ORDER BY sim DESC, d.id LIMIT 10""".stripMargin,
    // semantic clusters: mutual 3-NN graph -> transitive closure
    "semantic_clusters" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 100),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst, a.v AS va, b.v AS vb
        |      FROM nodes a JOIN nodes b ON a.vec_id <> b.vec_id),
        |e AS (SELECT src, dst, unnest(va) AS x, unnest(vb) AS y FROM p),
        |sums AS (SELECT src, dst,
        |        sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |        sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |        sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |      FROM e GROUP BY src, dst),
        |sim AS (SELECT src, dst,
        |        CAST(floor(CAST(dotd AS DOUBLE) /
        |          (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE)))
        |          * 1000000.0) AS BIGINT) AS s
        |        FROM sums),
        |r AS (SELECT src, dst, s,
        |        row_number() OVER (PARTITION BY src ORDER BY s DESC, dst) AS rk
        |      FROM sim),
        |d AS (SELECT src, dst FROM r WHERE rk <= 3),
        |m AS (SELECT d.src AS id_a, d.dst AS id_b
        |      FROM d JOIN d d2 ON d.src = d2.dst AND d.dst = d2.src
        |      WHERE d.src < d.dst),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM m
        |          UNION SELECT id_b, id_a FROM m),
        |reach(id, rt) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, reach.rt FROM edges e2 JOIN reach ON e2.dst = reach.id),
        |cl AS (SELECT id, min(rt) AS c FROM reach GROUP BY id)
        |SELECT CAST(c AS BIGINT) AS cluster_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  array_to_string(list_sort(list(id)), ',') AS members
        |FROM cl GROUP BY c ORDER BY cluster_id""".stripMargin,
    // ANN-routed kNN classification: every query's planted 6-copy
    // family (same label) dominates its top-5 — the prediction is the
    // query's own label in closed form; votes_ok asserts >= 3 family
    // members survived the IVF routing (structural: near-identical
    // vectors co-probe the same lists)
    "knn_classify_ann" ->
      """SELECT vec_id AS query_id, CAST(label AS BIGINT) AS predicted_label,
        |       true AS votes_ok
        |FROM embeddings WHERE vec_id % 50 = 0
        |ORDER BY query_id""".stripMargin,
    // kNN classification: decimal-cosine ranks, deterministic vote
    "knn_classify" ->
      """WITH nodes AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM nodes WHERE vec_id % 50 = 0),
        |p AS (SELECT q.qid, n.vec_id AS cand, n.label, n.v AS cv, q.qv
        |      FROM nodes n JOIN q ON n.vec_id <> q.qid),
        |e AS (SELECT qid, cand, label, unnest(cv) AS x, unnest(qv) AS y FROM p),
        |sums AS (SELECT qid, cand, label,
        |        sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |        sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |        sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |      FROM e GROUP BY qid, cand, label),
        |sim AS (SELECT qid, cand, label,
        |        CAST(floor(CAST(dotd AS DOUBLE) /
        |          (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE)))
        |          * 1000000.0) AS BIGINT) AS s
        |        FROM sums),
        |r AS (SELECT qid, cand, label, s,
        |        row_number() OVER (PARTITION BY qid ORDER BY s DESC, cand) AS rk
        |      FROM sim),
        |votes AS (SELECT qid, label, CAST(count(*) AS BIGINT) AS nv
        |          FROM r WHERE rk <= 5 GROUP BY qid, label),
        |best AS (SELECT qid, label, nv,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY nv DESC, label ASC) AS brk
        |         FROM votes)
        |SELECT qid AS query_id, CAST(label AS BIGINT) AS predicted_label,
        |       nv AS n_votes
        |FROM best WHERE brk = 1 ORDER BY query_id""".stripMargin,
    // label outliers: n^2-scaled integer distances, cross-multiplied flag
    "embedding_outliers" ->
      """WITH base AS (
        |  SELECT vec_id, label,
        |    CASE WHEN vec_id % 77 = 0
        |         THEN list_transform(embedding, x -> x * CAST(5.0 AS FLOAT))
        |         ELSE embedding END AS embedding
        |  FROM embeddings),
        |q AS (SELECT vec_id, label,
        |        [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
        |         for x in embedding] AS qv
        |      FROM base),
        |ex AS (SELECT vec_id, label, unnest(qv) AS qd,
        |              unnest(range(1, len(qv)+1)) AS d
        |       FROM q),
        |sums AS (SELECT label, d, CAST(count(*) AS BIGINT) AS n,
        |                CAST(sum(qd) AS BIGINT) AS s
        |         FROM ex GROUP BY label, d),
        |dist AS (SELECT ex.vec_id, ex.label, max(s.n) AS n,
        |           sum(CAST(s.n * ex.qd - s.s AS HUGEINT)
        |               * CAST(s.n * ex.qd - s.s AS HUGEINT)) AS d2
        |         FROM ex JOIN sums s ON ex.label = s.label AND ex.d = s.d
        |         GROUP BY ex.vec_id, ex.label),
        |m AS (SELECT label, sum(d2) AS sd2, CAST(count(*) AS BIGINT) AS cnt
        |      FROM dist GROUP BY label)
        |SELECT d.vec_id, CAST(d.label AS BIGINT) AS label,
        |  round(CAST(d.d2 AS DOUBLE) / CAST(d.n * d.n AS DOUBLE)
        |        / 1000000000000.0, 4) AS dist_sq
        |FROM dist d JOIN m ON d.label = m.label
        |WHERE m.cnt * d.d2 > 4 * m.sd2
        |ORDER BY d.vec_id""".stripMargin,
    // session paths: fully-ordered session windows, trigram shingles
    "event_paths" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events WHERE user_id <= 50),
        |fl AS (
        |  SELECT *, CASE WHEN t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |se AS (
        |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM fl),
        |sq AS (
        |  SELECT user_id, sid,
        |    list(event_type ORDER BY t, event_id) AS tys
        |  FROM se GROUP BY user_id, sid),
        |g AS (
        |  SELECT unnest(CASE WHEN len(tys) >= 3
        |    THEN [array_to_string(tys[i:i+2], ' ') for i in range(1, len(tys) - 1)]
        |    ELSE [array_to_string(tys, ' ')] END) AS path
        |  FROM sq)
        |SELECT path, CAST(count(*) AS BIGINT) AS n
        |FROM g GROUP BY path
        |ORDER BY n DESC, path LIMIT 10""".stripMargin,
    // readability: regex-countable words/sentences/vowel runs
    "text_readability" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |  greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)
        |    AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
        |    AS n_syllables,
        |  round(206.835
        |    - 1.015 * (CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
        |               / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
        |    - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS DOUBLE)
        |              / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)), 3)
        |    AS flesch
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin,
    // lag-1 autocorrelation: exact moments over ordered lead pairs
    "value_autocorr" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         CAST(floor(value * 1000.0) AS BIGINT) AS x
        |  FROM events WHERE user_id <= 30),
        |p AS (
        |  SELECT user_id, x,
        |         lead(x) OVER (PARTITION BY user_id ORDER BY t, event_id) AS y
        |  FROM e),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
        |  FROM p WHERE y IS NOT NULL
        |  GROUP BY user_id)
        |SELECT user_id, n AS n_pairs,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r1
        |FROM m
        |WHERE n >= 2 AND n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
        |ORDER BY user_id""".stripMargin,
    // percentile-rank normalization within source
    "score_percentile" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents)
        |SELECT doc_id, source, n_chars,
        |       (rk - 1) * 1000000 // (n - 1) AS pr_micro
        |FROM r ORDER BY doc_id""".stripMargin,
    // kNN held-out accuracy: replay the vote, join truth, exact ratio
    "knn_eval" ->
      """WITH nodes AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS truth, v AS qv
        |      FROM nodes WHERE vec_id % 50 = 0),
        |p AS (SELECT q.qid, q.truth, n.vec_id AS cand, n.label, n.v AS cv, q.qv
        |      FROM nodes n JOIN q ON n.vec_id <> q.qid),
        |e AS (SELECT qid, truth, cand, label, unnest(cv) AS x, unnest(qv) AS y FROM p),
        |sums AS (SELECT qid, truth, cand, label,
        |        sum(CAST(x*y AS DECIMAL(28,14))) AS dotd,
        |        sum(CAST(x*x AS DECIMAL(28,14))) AS nad,
        |        sum(CAST(y*y AS DECIMAL(28,14))) AS nbd
        |      FROM e GROUP BY qid, truth, cand, label),
        |sim AS (SELECT qid, truth, cand, label,
        |        CAST(floor(CAST(dotd AS DOUBLE) /
        |          (sqrt(CAST(nad AS DOUBLE)) * sqrt(CAST(nbd AS DOUBLE)))
        |          * 1000000.0) AS BIGINT) AS s
        |        FROM sums),
        |r AS (SELECT qid, truth, cand, label, s,
        |        row_number() OVER (PARTITION BY qid ORDER BY s DESC, cand) AS rk
        |      FROM sim),
        |votes AS (SELECT qid, truth, label, CAST(count(*) AS BIGINT) AS nv
        |          FROM r WHERE rk <= 5 GROUP BY qid, truth, label),
        |best AS (SELECT qid, truth, label, nv,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY nv DESC, label ASC) AS brk
        |         FROM votes)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(CASE WHEN label = truth THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST(sum(CASE WHEN label = truth THEN 1 ELSE 0 END) * 1000000
        |       // count(*) AS BIGINT) AS accuracy_micro
        |FROM best WHERE brk = 1""".stripMargin,
    // time-bounded funnel: each stage within 1h of the previous
    "funnel_windowed" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |v AS (SELECT user_id, min(ts_s) AS t1 FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts_s) AS t2
        |      FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click'
        |        AND e.ts_s > v.t1 AND e.ts_s <= v.t1 + 3600
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts_s) AS t3
        |      FROM ev e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase'
        |        AND e.ts_s > c.t2 AND e.ts_s <= c.t2 + 3600
        |      GROUP BY e.user_id)
        |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |UNION ALL SELECT '2_click_1h', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL SELECT '3_purchase_1h', CAST(count(*) AS BIGINT) FROM p
        |ORDER BY stage""".stripMargin,
    // z-order: range-normalized buckets, the 16-term Morton bit sum,
    // value-range file split, per-file min/max windows
    "zorder_layout" ->
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
        |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin,    // manifest gate: same replay as zorder_layout (the write is the
    // same deterministic file split); footer_ok asserted true — the
    // footer==scan agreement check runs in-plan Spark-side
"file_manifest_stats" ->
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
        |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin,
    // manifest-pruned reads: pruning is conservative-lossless, so the
    // pruned scan replays as the plain filtered aggregate; pruned_ok
    // (kept>0 AND kept<total files) is asserted in-plan Spark-side
    "manifest_pruned_read" ->
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
        |  true AS pruned_ok
        |FROM orders WHERE o_custkey BETWEEN 100 AND 180
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "manifest_incremental" ->
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
        |  true AS inc_ok
        |FROM orders WHERE o_custkey BETWEEN 100 AND 180
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "manifest_pruned_read_string" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  true AS pruned_ok
        |FROM documents WHERE source >= 'src2' AND source <= 'src4'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // bucket join: plain join replay; the shuffle-free plan verdict
    // is asserted true (the countmin_tokens in-plan verdict pattern)
    "bucket_join" ->
      """SELECT o.o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |  true AS shuffle_free
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey <= 3000 AND l.l_orderkey <= 3000
        |GROUP BY o.o_orderstatus
        |ORDER BY o.o_orderstatus""".stripMargin,
    // explicit grouping sets: per-status, per-priority, grand total
    "q51_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    // Markov transitions: ordered consecutive pairs, exact row probs
    "event_transitions" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events),
        |p AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY t, event_id) AS to_type
        |  FROM ev),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE to_type IS NOT NULL
        |      GROUP BY from_type, to_type),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS rt
        |        FROM c GROUP BY from_type)
        |SELECT c.from_type, c.to_type, c.n,
        |       c.n * 1000000 // tot.rt AS prob_micro
        |FROM c JOIN tot ON c.from_type = tot.from_type
        |ORDER BY c.from_type, c.to_type""".stripMargin,
    // inter-arrival gaps: discrete rank percentiles per event type
    "event_gaps" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id, event_type,
        |         t - lag(t) OVER (PARTITION BY user_id, event_type
        |                          ORDER BY t, event_id) AS gap
        |  FROM ev),
        |r AS (
        |  SELECT event_type, gap,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |                            ORDER BY gap, user_id, event_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g WHERE gap IS NOT NULL)
        |SELECT event_type, max(n) AS n_gaps,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS BIGINT)
        |    AS p50_gap_s,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap END) AS BIGINT)
        |    AS p90_gap_s
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)
}
