package graft.queries

import graft.functions.{TextFunctions => TF}
import graft.operators.{AsOfJoin, CdcDedup, RangeJoin}
import graft.plans.PhysicalAsOf
import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core (reference parity, SURVEY.md §2): scans, joins,
  * aggregates, windows, as-of and range joins, set operations and
  * grouping sets — the q01–q51 series.
  */
object Relational {

  val queries: Seq[Query] = Seq(
    Query("q01_pricing_summary", pricingSummary)(
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
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q02_filter_pushdown", filterPushdown)(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority LIKE '1%'
        |ORDER BY o_orderkey""".stripMargin),
    Query("q03_segment_top_orders", segmentTopOrders)(
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin),
    Query("q04_nation_revenue", nationRevenue)(
      """SELECT n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin),
    Query("q05_window_dedup", windowDedup)(
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        | round(value, 2) AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin),
    Query("q06_distinct_event_types", distinctEventTypes)(
      "SELECT DISTINCT event_type FROM events ORDER BY event_type"),
    Query("q08_year_month_partitions", yearMonthPartitions)(
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        | CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,
        | count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY o_year, o_month""".stripMargin),
    Query("q09_zoned_timestamp_cast", zonedTimestampCast)(
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso,
        | CAST(epoch(CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)) AS BIGINT) AS epoch_s
        |FROM events
        |ORDER BY event_id""".stripMargin),
    Query("q10_topk_orders", topkOrders)(
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin),
    Query("q11_groupby_having", groupbyHaving)(
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin),
    Query("q12_count_distinct", countDistinct_)(
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("q13_conditional_agg", conditionalAgg)(
      """SELECT user_id % 10 AS bucket,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS purchase_value
        |FROM events
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin),
    Query("q14_intersect", intersectIds)(
      """SELECT user_id AS id FROM events
        |INTERSECT
        |SELECT c_custkey AS id FROM customer
        |ORDER BY id""".stripMargin),
    Query("q15_except", exceptIds)(
      """SELECT c_custkey AS id FROM customer
        |EXCEPT
        |SELECT user_id AS id FROM events
        |ORDER BY id""".stripMargin),
    Query("q16_semi_join", semiJoin)(
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),
    Query("q17_anti_join", antiJoin)(
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),
    Query("q18_above_avg_parts", aboveAvgParts)(
      """SELECT p_partkey, p_name, round(p_retailprice, 2) AS p_retailprice
        |FROM (SELECT *, avg(p_retailprice) OVER (PARTITION BY p_type) AS avg_price FROM part)
        |WHERE p_retailprice > avg_price * 1.05
        |ORDER BY p_partkey""".stripMargin),
    Query("q19_rank_per_nation", rankPerNation)(
      """SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS c_acctbal, rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
        |      FROM customer)
        |WHERE rk <= 3
        |ORDER BY c_nationkey, rk""".stripMargin),
    Query("q20_rollup", rollupOrders)(
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, o_orderstatus,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY ROLLUP(1, 2)
        |ORDER BY o_year ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin),
    Query("q21_union_counts", unionCounts)(
      """SELECT kind, count(*) AS n, CAST(count(DISTINCT k) AS BIGINT) AS n_keys
        |FROM (SELECT 'order' AS kind, o_orderkey AS k FROM orders
        |      UNION ALL SELECT 'line' AS kind, l_orderkey AS k FROM lineitem)
        |GROUP BY kind
        |ORDER BY kind""".stripMargin),
    Query("q22_asof_join", asofClickPurchase)(
      """SELECT p.event_id AS event_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),
    Query.sharing("q45_asof_physical", asofPhysical, oracleOf = "q22_asof_join"),
    Query("q46_range_join", rangeJoinBands)(
      """SELECT band_id, count(*) AS n,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total
        |FROM (SELECT range AS band_id, CAST(range*400 AS DOUBLE) AS lo,
        |             CAST(range*400+800 AS DOUBLE) AS hi FROM range(0, 1400)) b
        |JOIN orders ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin),
    Query("q47_interval_overlap", overlapCustBands)(
      """WITH spans AS (SELECT o_custkey, min(o_totalprice) AS clo,
        |                      max(o_totalprice) AS chi
        |               FROM orders GROUP BY o_custkey),
        |b AS (SELECT range AS band_id, CAST(range*400 AS DOUBLE) AS lo,
        |             CAST(range*400+800 AS DOUBLE) AS hi FROM range(0, 1400))
        |SELECT band_id, count(*) AS n_customers
        |FROM b JOIN spans ON clo <= hi AND lo <= chi
        |GROUP BY band_id ORDER BY band_id""".stripMargin),
    Query("q23_running_sum", runningRevenue)(
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders
        |WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("q24_lag_delta", lagDelta)(
      """SELECT user_id, event_id,
        | round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), 2) AS delta
        |FROM events
        |WHERE user_id <= 20
        |ORDER BY user_id, event_id""".stripMargin),
    Query("q25_cube", cubeOrders)(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),
    Query("q26_full_outer", fullOuterActivity)(
      """SELECT COALESCE(e.id, o.id) AS id,
        | COALESCE(n_events, 0) AS n_events, COALESCE(n_orders, 0) AS n_orders
        |FROM (SELECT user_id AS id, count(*) AS n_events FROM events GROUP BY 1) e
        |FULL OUTER JOIN (SELECT o_custkey AS id, count(*) AS n_orders FROM orders
        |                 WHERE o_custkey <= 300 GROUP BY 1) o
        |  ON e.id = o.id
        |ORDER BY id""".stripMargin),
    Query("q27_in_subquery", inSubquery)(
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        | count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |GROUP BY 1
        |ORDER BY o_year""".stripMargin),
    Query("q28_percentiles", percentiles)(
      """SELECT o_orderstatus,
        | round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        | count(*) AS n
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),
    Query("q29_string_funcs", stringFuncs)(
      """SELECT p_partkey,
        | upper(substring(p_name, 1, 8)) AS prefix,
        | p_brand || '#' || p_type AS brand_type,
        | CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part
        |WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin),
    Query("q30_salted_agg", saltedAgg)(
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS total
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query.sharing("q31_window_dedup_agg", windowDedupAgg, oracleOf = "q05_window_dedup"),
    Query("q32_sample_per_group", samplePerGroup)(
      """SELECT source, doc_id
        |FROM (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 3
        |ORDER BY source, doc_id""".stripMargin),
    Query("q33_hash_rate_sample", hashRateSample)(
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |WHERE md5(CAST(event_id AS VARCHAR)) < '2'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),
    Query("q34_approx_distinct", approxDistinct)(
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        | true AS within_5pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("q35_json_extract", jsonExtract)(
      """SELECT event_type, count(*) AS n,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 3) AS avg_k,
        | CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),
    Query("q36_explode_top_words", explodeTopWords)(
      """SELECT lang, tok, n, rk
        |FROM (SELECT lang, tok, n,
        |        row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
        |      FROM (SELECT lang, tok, count(*) AS n
        |            FROM (SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |                  FROM documents)
        |            GROUP BY 1, 2))
        |WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin),
    Query("q37_gap_fill_months", gapFillMonths)(
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
        |ORDER BY month""".stripMargin),
    Query("q39_sessionize_batch", sessionizeBatch)(
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
        |ORDER BY user_id, session_id""".stripMargin),
    Query("q40_stats_agg", statsAgg)(
      """SELECT l_returnflag,
        | round(stddev_samp(l_quantity), 4) AS sd_qty,
        | round(var_samp(l_discount), 6) AS var_disc,
        | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        | count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("q41_region_revenue", regionRevenue)(
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
        |ORDER BY n_name""".stripMargin),
    Query("q42_promo_share", promoShare)(
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        | round(sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |   * 100.0 / sum(l_extendedprice * (1.0 - l_discount)), 3) AS promo_pct
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY 1
        |ORDER BY month""".stripMargin),
    Query("q43_disjunctive", disjunctivePredicates)(
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity < 10)
        |   OR (p_type = 'ECONOMY' AND l_discount > 0.07)""".stripMargin),
    Query("q44_ntile", ntileQuartiles)(
      """SELECT o_orderkey, o_orderstatus,
        | CAST(ntile(4) OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        |FROM orders
        |WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin),
    Query("q38_date_arithmetic", dateArithmetic)(
      """SELECT o_orderkey,
        | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        | strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        | strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start
        |FROM orders
        |WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin),
    // time-range frame: RANGE over epoch seconds, micro-grid sums
    Query("q48_time_range_window", timeRangeWindow)(
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
        |ORDER BY user_id, event_id""".stripMargin),
    // pivot: five conditional counts
    Query("q50_pivot", pivotEventCounts)(
      """SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // native session windows: gap-split replay with the session_window
    // boundary contract (split at gap >= 1800, merge below)
    Query("q49_session_window", sessionWindowNative)(
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
        |ORDER BY user_id, start_s""".stripMargin),
    // explicit grouping sets: per-status, per-priority, grand total
    Query("q51_grouping_sets", groupingSetsQ)(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin),
  )

  /** TPC-H Q1-style pricing summary: filter + groupBy agg (sum/avg/count). */
  private[graft] def pricingSummary(s: SparkSession, dir: String): DataFrame =
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
}
