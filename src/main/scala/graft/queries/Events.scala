package graft.queries

import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event and column analytics: outliers, paths and transitions,
  * funnels and cohorts, value statistics and drift, time series,
  * profiling, integrity and skew checks.
  */
object Events {

  val queries: Seq[Query] = Seq(
    // z-score outliers: the cross-multiplied inequality in HUGEINT
    // (den^2 * (n*v-S)^2 > num^2 * (n*Q-S^2), num/den = 5/2)
    Query("event_outliers", eventOutliers)(
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
        |ORDER BY event_id""".stripMargin),
    // ordered funnel: stage CTE chain with strict-after semantics
    Query("funnel_conversion", funnelConversion)(
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
        |ORDER BY stage""".stripMargin),
    // cohort retention: distinct user-days, first-day cohorts, the
    // (cohort, offset) matrix
    Query("cohort_retention", cohortRetention)(
      """WITH ev AS (
        |  SELECT DISTINCT user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM ev JOIN f USING (user_id)
        |GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin),
    // winsorize: discrete rank-ceil(q*n) bounds, milli-grid clipping
    Query("value_winsorize", valueWinsorize)(
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
        |ORDER BY e.event_type""".stripMargin),
    // MAD outliers: discrete rank median + MAD, integer threshold
    Query("event_outliers_mad", eventOutliersMad)(
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
        |ORDER BY d.event_id""".stripMargin),
    // column profile: one aggregate, unpivoted per column
    Query("profile_columns", profileColumnsQ)(
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
        |ORDER BY "column"""".stripMargin),
    // referential integrity: anti-join orphan counts, planted gaps
    Query("fk_integrity", fkIntegrity)(
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
        |ORDER BY relation""".stripMargin),
    // two-sample KS: cross-multiplied integer ECDF supremum
    Query("value_ks_drift", valueKsDrift)(
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
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),
    // column MI: 1e-12-grid per-cell contributions, exact sum
    Query("column_mi", columnMi)(
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
        |FROM c GROUP BY n""".stripMargin),
    // basket pairs: distinct (order, brand), self-join, integer lift
    Query("basket_pairs", basketPairs)(
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
        |LIMIT 20""".stripMargin),
    // hourly interpolation: bracketing obs via ignore-nulls windows,
    // true floor division on the milli-grid
    Query("ts_interpolate", tsInterpolate)(
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
        |ORDER BY user_id, t_s""".stripMargin),
    // skew report: ranked per-key counts, discrete percentiles, Gini
    Query("skew_report", skewReportQ)(
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
        |FROM r""".stripMargin),
    // per-user OLS trend: exact moments, one edge division
    Query("user_trend", userTrend)(
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
        |ORDER BY user_id""".stripMargin),
    // session paths: fully-ordered session windows, trigram shingles
    Query("event_paths", eventPaths)(
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
        |ORDER BY n DESC, path LIMIT 10""".stripMargin),
    // lag-1 autocorrelation: exact moments over ordered lead pairs
    Query("value_autocorr", valueAutocorr)(
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
        |ORDER BY user_id""".stripMargin),
    // percentile-rank normalization within source
    Query("score_percentile", scorePercentile)(
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents)
        |SELECT doc_id, source, n_chars,
        |       (rk - 1) * 1000000 // (n - 1) AS pr_micro
        |FROM r ORDER BY doc_id""".stripMargin),
    // time-bounded funnel: each stage within 1h of the previous
    Query("funnel_windowed", funnelWindowed)(
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
        |ORDER BY stage""".stripMargin),
    // Markov transitions: ordered consecutive pairs, exact row probs
    Query("event_transitions", eventTransitions)(
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
        |ORDER BY c.from_type, c.to_type""".stripMargin),
    // inter-arrival gaps: discrete rank percentiles per event type
    Query("event_gaps", eventGaps)(
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
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
  )

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
}
