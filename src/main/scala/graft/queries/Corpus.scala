package graft.queries

import graft.SparkEntry.docsWithBoilerplate
import graft.functions.{TextFunctions => TF}
import graft.operators.{CdcDedup, CorpusDiff, Decontamination, QualityClassifier}
import graft.sources.Tables
import graft.util.SessionScopedCache

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus curation stages: decontamination, quality classifiers,
  * token budgets, domain caps, corpus diff, stats and overlap, DSIR
  * selection, and the end-to-end cleaning pipelines.
  */
object Corpus {

  val queries: Seq[Query] = Seq(
    // full replay of the decontamination flag: distinct word 4-grams
    // per doc, eval-gram set from the planted doc_id % 50 == 7 subset,
    // per-doc overlap count, contaminated = any overlap
    Query("decontaminate", decontaminate)(
      s"""$decontaminationSql
        |FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
        |ORDER BY g.doc_id""".stripMargin),
    // full replay of the hashed-linear quality score: 60-bit md5 token
    // hash -> bucket -> LCG integer weight, exact integer sum per doc,
    // one float conversion at the end, integer-compare keep gate
    Query("text_quality_classifier", textQualityClassifier)(
      s"""$docWordsSql
        |$hashedQualitySql)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_tokens,
        |  s AS feat_sum,
        |  round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 500001.5) - 1.0, 4) + 0.0 AS score,
        |  2 * s > n * 1000003 AS keep
        |FROM a
        |ORDER BY doc_id""".stripMargin),
    // trained-weight serving replay: the oracle recomputes the weight
    // table from its closed form w(b) = (b - 2048)/2048 — exact dyadic
    // rationals, so the double sums match Spark's element_at path
    // bit-for-bit regardless of summation order
    Query("text_quality_trained", textQualityTrained)(
      s"""$docWordsSql
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
        |ORDER BY doc_id""".stripMargin),
    // classifier replay + ONE window running sum over the total order
    // (score desc, doc_id asc); the Spark side reproduces the same
    // order via per-score prefix + within-score window
    Query("token_budget_select", tokenBudgetSelect)(
      s"""$docWordsSql
        |$hashedQualitySql),
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
        |ORDER BY doc_id""".stripMargin),
    // snapshot diff replay: FULL OUTER JOIN over fingerprint projections
    Query("corpus_diff", corpusDiff)(
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
        |ORDER BY doc_id""".stripMargin),
    // corpus report replay: quantile_cont shares percentile's linear
    // interpolation; each avg is one deterministic IEEE division
    Query("corpus_stats", corpusStats)(
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
        |ORDER BY lang""".stripMargin),
    // per-domain cap replay: URL synthesis, host regex, and the md5
    // rank are all engine-portable
    Query("domain_cap", domainCap)(
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
        |ORDER BY domain, rk""".stripMargin),
    Query("pipeline_training_data", pipelineTrainingData)(
      raw"""WITH scored AS (
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
        |${Text.langIdScoresSql}
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
        |ORDER BY source""".stripMargin),
    // DSIR: 128 hashed unigram+bigram buckets, add-1 smoothed
    // target (lang='en') vs raw log-ratios floor-quantized at 1e-6,
    // exact integer per-doc sums, top 50 by weight
    Query("dsir_select", dsirSelect)(
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
        |FROM score ORDER BY w DESC, doc_id LIMIT 50""".stripMargin),
    // bloom decontamination: exact columns replay the decontaminate
    // oracle; the sketch gates via the in-plan no-false-negative and
    // false-positive-bound verdicts
    Query("bloom_decontaminate", bloomDecontaminate)(
      s"""$decontaminationSql,
        |  true AS bloom_no_fn,
        |  true AS fp_ok
        |FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
        |ORDER BY g.doc_id""".stripMargin),
    // corpus overlap: exact halves + intersection replay; the HLL
    // inclusion-exclusion estimate gates via the 25% verdict
    Query("corpus_overlap", corpusOverlap)(
      s"""$docWordsSql
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
        |       true AS overlap_ok""".stripMargin),
    // clean->gate->floor->sample composition: every stage's replay
    // chained in one oracle
    Query("pipeline_clean_sample", pipelineCleanSample)(
      raw"""${Text.lineDedupSql}
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
        |FROM keyed ORDER BY key_micro DESC, doc_id LIMIT 20""".stripMargin),
  )

  /** The oracles' lowercase whitespace tokens `t(doc_id, ws)` of every
    * document, as `TextFunctions.tokens` splits them.
    */
  private[queries] val docWordsSql =
    raw"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
         |  FROM documents),""".stripMargin

  /** The decontamination oracles' replay of [[decontaminate]] up to
    * the `contaminated` column: distinct word 4-grams per doc, the
    * planted eval set and each doc's overlap count.
    */
  private[queries] val decontaminationSql =
    s"""$docWordsSql
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
       |  coalesce(h.eval_hits, 0) > 0 AS contaminated""".stripMargin

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

  /** The quality oracles' replay of [[scoredDocs]]' hashed-linear
    * features over [[docWordsSql]]: per-token LCG weights `f` and each
    * doc's exact integer sum `a`, without the closing parenthesis.
    */
  private[queries] val hashedQualitySql =
    """tok AS (SELECT doc_id, unnest(ws) AS tk FROM t),
      |f AS (
      |  SELECT doc_id,
      |    ((CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % 4096)
      |      * 1103515245 + 12345) % 1000003 AS v
      |  FROM tok),
      |a AS (
      |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
      |  FROM f GROUP BY doc_id""".stripMargin

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
}
