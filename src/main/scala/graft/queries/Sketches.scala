package graft.queries

import graft.SparkEntry.sessionScratchDir
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Probabilistic sketches: count-min, HyperLogLog, histogram and
  * quantile sketches and their absorb, deterministic samples, join-
  * size estimation, and the bloom semi-join.
  */
object Sketches {

  val queries: Seq[Query] = Seq(
    // the DeterministicSample aggregate with the portable md5 rank must
    // pick exactly the window-sampler's bottom-5 per language
    Query("sample_sketch", sampleSketch)(
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST('0x' || substr(md5(doc_id::varchar), 1, 15) AS BIGINT)) AS rn
        |  FROM documents)
        |WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin),
    // count-min verdict gate: exact counts replayed, cm_ok asserted
    // true (the sketch's own estimates are engine-specific)
    Query("countmin_tokens", countminTokens)(
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |probes AS (SELECT unnest(['vector','merge','stream','the','data']) AS term),
        |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY term)
        |SELECT p.term, coalesce(ex.exact_n, 0) AS exact_n, true AS cm_ok
        |FROM probes p LEFT JOIN ex USING (term)
        |ORDER BY p.term""".stripMargin),
    // heavy hitters: exact counts above floor(N/64) replayed, hh_ok
    // verdict asserted (superset + collision-bound guarantees)
    Query("countmin_heavyhitters", countminHeavyHitters)(
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY term),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
        |SELECT term, exact_n, true AS hh_ok
        |FROM ex, tot
        |WHERE exact_n >= CAST(floor(n / 64.0) AS BIGINT)
        |ORDER BY exact_n DESC, term""".stripMargin),
    // HLL distinct: exact per-lang count(distinct doc:token) replayed;
    // the register-based estimate gates via the in-plan 15% verdict
    Query("hll_distinct", hllDistinct)(
      """WITH toks AS (
        |  SELECT lang,
        |         doc_id || ':' ||
        |           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS pair
        |  FROM documents)
        |SELECT lang, CAST(count(DISTINCT pair) AS BIGINT) AS exact_distinct,
        |       true AS hll_ok
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin),
    // histogram quantiles: exact interpolated percentiles replay; the
    // sketch reads gate via the two-bucket-width verdicts
    Query("hist_quantiles", histQuantiles)(
      """SELECT round(quantile_cont(n_chars, 0.25), 2) AS p25,
        |       round(quantile_cont(n_chars, 0.5), 2) AS p50,
        |       round(quantile_cont(n_chars, 0.75), 2) AS p75,
        |       round(quantile_cont(n_chars, 0.95), 2) AS p95,
        |       true AS ok25, true AS ok50, true AS ok75, true AS ok95
        |FROM documents""".stripMargin),
    Query("sketch_absorb", sketchAbsorb)(
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
        |ORDER BY kind""".stripMargin),
    // sketch-store absorb: exact corpus metrics replay; the four
    // element-equality verdicts gate the parquet round trip + in-plan
    // merge (exact by construction — see sketchAbsorb's scaladoc)
    // log-bucket quantile sketch: bucket = value truncated to its top
    // 8 significant bits — pure integer bit math, so estimates, exact
    // order statistics, AND the containment-bound verdict all replay;
    // merge==rebuild is proven Spark-side (asserted true here)
    Query("sketch_quantiles", sketchQuantiles)(
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
        |ORDER BY e.prio""".stripMargin),
    // persistence must be invisible to results: the loaded-store gate
    // shares the live quantile gate's oracle verbatim (absorb==rebuild
    // is its in-plan merge_ok verdict)
    Query.sharing("sketch_quantiles_persisted", sketchQuantilesPersisted,
      oracleOf = "sketch_quantiles"),
    // bloom semi-join: result identical to the plain semi-join by
    // construction (fp removed by the real join); plain replay + true
    Query("bloom_semi_join", bloomSemiJoin)(
      """WITH sel AS (
        |  SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice > 480000),
        |j AS (
        |  SELECT l.* FROM lineitem l
        |  WHERE l.l_orderkey IN (SELECT o_orderkey FROM sel))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
        |       round(sum(l_quantity), 2) AS sum_qty, true AS join_ok
        |FROM j GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // join-size estimate: exact SQL-replayable count; sketch verdicts
    // in-plan (the countmin_tokens convention)
    Query("join_size_estimate", joinSizeEstimate)(
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY user_id)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |       CAST(sum(c*c) AS BIGINT) AS exact_pairs,
        |       true AS never_under, true AS within_bound
        |FROM c""".stripMargin),
  )

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
    val path = sessionScratchDir(s, dir, "graft-sketch-store")
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
    val path = sessionScratchDir(s, dir, "graft-qsk-store")
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
}
