package graft.queries

import graft.SparkEntry.{scratchDir, sessionScratchDir}
import graft.functions.{TextFunctions => TF}
import graft.operators.{Clustering, TextDedup}
import graft.sources.Tables
import graft.util.SessionScopedCache

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact and near-duplicate detection: MinHash/LSH, n-gram Jaccard,
  * prefix filtering, SimHash, suffix-array spans, the incremental and
  * persisted dedup stores, entity resolution, and the three curation
  * pipelines that compose them.
  */
object Dedup {

  val queries: Seq[Query] = Seq(
    Query("dedup_exact", dedupExact)(
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY h""".stripMargin),
    // full replay of the portable-md5 MinHash+LSH pipeline: same seeded
    // shingle hashes, 32 running minimums, 8 band hashes, bucket-size
    // guard, and k/32 signature-agreement estimate as the Spark plan
    Query("dedup_minhash_lsh", dedupMinhashLsh)(
      s"""$minhashLshSql)
        |SELECT id_a, id_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),
    // exact all-pairs word-3-gram jaccard >= 0.5: equals the Spark
    // LSH-candidates-then-verify result because every true pair sits far
    // above the LSH recall band (min true jaccard 0.85 at sf0.01)
    Query("dedup_ngram_jaccard", dedupNgramJaccard)(
      s"""WITH docs AS (
        |$ngramCommonSql
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 3) AS jaccard
        |  FROM common
        |  JOIN sz sa ON id_a = sa.doc_id
        |  JOIN sz sb ON id_b = sb.doc_id)
        |WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),
    Query("dedup_clusters", dedupClusters)(
      s"""WITH RECURSIVE docs AS (
        |$ngramCommonSql,
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sz sa ON id_a = sa.doc_id
        |  JOIN sz sb ON id_b = sb.doc_id
        |  WHERE round(c * 1.0 / (sa.n + sb.n - c), 3) >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |$reachSql
        |SELECT id AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    // absorb == rebuild: the oracle closes base ∪ increment edges
    // transitively from scratch; the Spark side reaches the same
    // labels through the persisted store's absorb path
    Query("dedup_clusters_incremental", dedupClustersIncremental)(
      s"""WITH RECURSIVE ids AS (
        |  SELECT vec_id AS i FROM embeddings WHERE vec_id < 200),
        |base AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 10 < 3),
        |inc AS (
        |  SELECT i AS a, i + 1 AS b FROM ids WHERE i % 10 = 3
        |  UNION ALL
        |  SELECT i AS a, i + 6 AS b FROM ids WHERE i % 20 = 4),
        |alle AS (SELECT a, b FROM base UNION ALL SELECT a, b FROM inc),
        |edges AS (SELECT a AS src, b AS dst FROM alle
        |          UNION SELECT b, a FROM alle),
        |$reachSql
        |SELECT id AS vec_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin),
    // prefix-filtered Jaccard is LOSSLESS, so the oracle is the plain
    // all-pairs truth set with the exact integer Jaccard
    Query("dedup_prefix_jaccard", dedupPrefixJaccard)(
      s"""WITH docs AS (
        |$ngramShinglesSql
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
        |ORDER BY id_a, id_b""".stripMargin),
    // the DEFAULT curation chain replayed END-TO-END: gopher gate, md5
    // exact dedup, then the DEFAULT banded near-dup strategy itself —
    // portable-md5 minhash signatures, band buckets, the pair-budget
    // guard, candidate est-gate, exact-Jaccard verify on the staged
    // shingles — recursive closure, md5 split, totals + telemetry.
    // The oracle replays the LOSSY chain bit-for-bit, so there is no
    // recall verdict and no SF dependence (round-14 lesson: truth-set
    // oracles over lossy candidate schemes are SF coin tosses; a
    // same-chain replay is not).
    Query("corpus_curation_pipeline", corpusCurationPipeline)(
      s"""$curationHeadSql
        |shing AS (SELECT doc_id AS id, unnest(s) AS g FROM sh),
        |minh AS (
        |  SELECT id, sd.seed, min(md5(sd.seed::varchar || ':' || g)) AS mh
        |  FROM shing CROSS JOIN generate_series(0, 31) sd(seed)
        |  GROUP BY id, sd.seed),
        |$minhashBandsSql
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
        |$curationSplitSql
        |FROM spl, tele t
        |GROUP BY 1, t.n_input, t.n_quality, t.n_exact_kept, t.n_near_kept
        |ORDER BY split""".stripMargin),
    // the LOSSLESS curation chain replayed: gopher gate, md5 exact
    // dedup, inverted-index jaccard + recursive closure (lossless ⇒
    // equals the prefix-filtered path), md5 split, totals + telemetry
    Query("corpus_curation_pipeline_lossless", corpusCurationPipelineLossless)(
      s"""$curationHeadSql
        |$curationExactPairsSql
        |$curationSplitSql
        |FROM spl, tele t
        |GROUP BY 1, t.n_input, t.n_quality, t.n_exact_kept, t.n_near_kept
        |ORDER BY split""".stripMargin),
    // minhash-banded curation variant: emitted rows are the EXACT
    // chain (same replay as corpus_curation_pipeline); minhash_ok is
    // asserted true — the banded recall check runs in-plan Spark-side
    Query("corpus_curation_pipeline_minhash", corpusCurationPipelineMinhash)(
      s"""$curationHeadSql
        |$curationExactPairsSql
        |$curationSplitSql,
        |  true AS minhash_ok
        |FROM spl, tele t
        |GROUP BY 1, t.n_input, t.n_quality, t.n_exact_kept, t.n_near_kept
        |ORDER BY split""".stripMargin),
    Query("dedup_global_ngrams", dedupGlobalNgrams)(
      s"""${Corpus.docWordsSql}
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
        |ORDER BY g.doc_id""".stripMargin),
    // full replay of the portable-md5 SimHash pipeline: 60-bit token
    // hashes (15 md5 hex chars fit a signed BIGINT), majority-bit
    // signature, 5 pigeonhole 12-bit bands, bucket-size guard, exact
    // Hamming verify
    Query("dedup_simhash", dedupSimhash)(
      raw"""WITH base AS (
        |$nearDupRowsSql
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
        |ORDER BY id_a, id_b""".stripMargin),
    // incremental exact dedup replay: md5 fingerprints, keep-first
    // within the increment, anti-join against the store set
    Query("dedup_incremental_exact", dedupIncrementalExact)(
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
        |ORDER BY doc_id""".stripMargin),
    // incremental near-dup replay: portable-md5 minhash signatures for
    // store and increment, store-side bucket guard, band probe,
    // signature-agreement Jaccard estimate
    Query("dedup_incremental_minhash", dedupIncrementalMinhash)(
      raw"""WITH store_docs AS (SELECT doc_id AS id, text FROM documents),
        |inc_docs AS (
        |  SELECT doc_id + 1000000 AS id, text || ' near duplicate tail' AS text
        |  FROM documents WHERE doc_id % 100 = 0),
        |base AS (SELECT * FROM store_docs UNION ALL SELECT * FROM inc_docs),
        |toks AS (
        |  SELECT id, string_split_regex(lower(trim(text)), '\s+') AS t FROM base),
        |$minhashSignaturesSql
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
        |ORDER BY doc_id, store_id""".stripMargin),
    Query.sharing("dedup_incremental_minhash_persisted", dedupIncrementalMinhashPersisted,
      oracleOf = "dedup_incremental_minhash"),
    // span dedup replay: k=8 windows, corpus-wide gram count, covered
    // positions, anti-join, ordered string_agg reassembly
    Query("dedup_spans", dedupSpans)(
      s"""WITH d0 AS (
        |$boilerplateDocsSql),
        |$spanGramsSql
        |cov0 AS (
        |  SELECT doc_id, unnest([p for p in range(start, start + 8)]) AS pos
        |  FROM g JOIN dup USING (gram)),
        |$spanTailSql""".stripMargin),
    // suffix array: the oracle sorts the ACTUAL suffix lists (DuckDB
    // list ordering is token-lexicographic, shorter-prefix-first) —
    // the prefix-doubling construction must reproduce every rank
    Query("suffix_array_ranks", suffixArrayRanks)(
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')[1:25] AS ws
        |  FROM documents WHERE doc_id < 40),
        |px AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM t),
        |sfx AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i:] AS suf FROM px)
        |SELECT doc_id, pos,
        |  CAST(row_number() OVER (ORDER BY suf, doc_id, pos) AS BIGINT) AS sa_rank
        |FROM sfx
        |ORDER BY doc_id, pos""".stripMargin),
    Query("suffix_repeats", suffixRepeats)(
      raw"""WITH seeded AS (
        |$boilerplateDocsSql WHERE doc_id < 200),
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
        |ORDER BY doc_a, pos_a, doc_b, pos_b""".stripMargin),
    // adjacent-LCP repeats: rank the real suffixes, pair consecutive
    // ranks, count agreeing prefixes (prefix equality is monotone, so
    // the filter-count IS the LCP), keep >= 5
    // suffix-driven keep-one span removal: same-8-prefix suffix runs
    // are exactly the 8-gram occurrence groups, so the keep-canonical
    // rewrite replays in gram space — rank occurrences per gram by
    // (doc_id, start), cover everything past rank 1
    Query("suffix_dedup_spans", suffixDedupSpans)(
      s"""WITH d0 AS (
        |$boilerplateDocsSql WHERE doc_id < 120),
        |$spanGramsSql
        |ranked AS (
        |  SELECT doc_id, start, gram,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rk
        |  FROM g JOIN dup USING (gram)),
        |cov0 AS (
        |  SELECT doc_id, unnest([p for p in range(start, start + 8)]) AS pos
        |  FROM ranked WHERE rk > 1),
        |$spanTailSql""".stripMargin),
    // incremental span dedup replay: the FULL union computation (same
    // CTEs as dedup_spans) restricted to the increment's ids — the
    // equivalence the store probe implements
    Query("dedup_incremental_spans", dedupIncrementalSpans)(
      s"""WITH d0 AS (
        |$boilerplateDocsSql),
        |$spanGramsSql
        |cov0 AS (
        |  SELECT doc_id, unnest([p for p in range(start, start + 8)]) AS pos
        |  FROM g JOIN dup USING (gram)
        |  WHERE doc_id % 50 = 7),
        |cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
        |p0 AS (
        |  SELECT doc_id, unnest([{'p': i, 'tok': ws[i]} for i in range(1, len(ws) + 1)]) AS e
        |  FROM t WHERE doc_id % 50 = 7),
        |$spanKeptSql
        |WHERE t.doc_id % 50 = 7
        |ORDER BY t.doc_id""".stripMargin),
    Query.sharing("dedup_incremental_spans_persisted", dedupIncrementalSpansPersisted,
      oracleOf = "dedup_incremental_spans"),
    // LSH banding calibration: bit-for-bit double replay — powers as
    // the same left-fold multiply chains (recursive CTEs), then the
    // same argmin + fewer-bands tie-break
    Query("lsh_tune", lshTune)(
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
        |ORDER BY total_hashes, threshold""".stripMargin),
    // winnowing: char-8-gram md5 hashes, window-8 minima (DuckDB
    // slices are INCLUSIVE: h[i:i+7] is 8 elements), distinct per
    // doc, 50-doc bucket guard, pairs sharing >= 10 fingerprints
    Query("winnow_overlap", winnowOverlap)(
      raw"""WITH alld AS (
        |$nearDupRowsSql
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
        |WHERE n_shared >= 10 ORDER BY id_a, id_b""".stripMargin),
    // sorted-neighborhood: bucketed window lags + exact integer
    // Jaccard replay candidate-for-candidate
    Query("dedup_sorted_neighborhood", dedupSortedNeighborhood)(
      raw"""WITH corpus AS (
        |$nearDupRowsSql
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
        |ORDER BY id_a, id_b""".stripMargin),
    // b-bit minhash: last-hex-char sketches + the integer-grid
    // unbiased estimate over the same replayed candidate pairs
    Query("dedup_minhash_bbit", dedupMinhashBbit)(
      s"""$minhashLshSql
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
        |FROM bbp ORDER BY id_a, id_b""".stripMargin),
    // edit-distance dedup: same window blocking as the sorted-
    // neighborhood oracle, verify replayed with full levenshtein
    // (the thresholded Spark form returns the SAME distance for every
    // pair it keeps)
    Query("dedup_edit_distance", dedupEditDistance)(
      raw"""WITH corpus AS (
        |$nearDupRowsSql
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
        |ORDER BY id_a, id_b""".stripMargin),
    // containment dedup: df-filtered distinct trigram sets, integer ratio
    Query("dedup_containment", dedupContainment)(
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
        |ORDER BY id_a, id_b""".stripMargin),
    // canonical dedup: per-cluster keeper by (priority, length, id)
    Query("dedup_canonical", dedupCanonical)(
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
        |FROM r GROUP BY h HAVING max(nc) > 1 ORDER BY h""".stripMargin),
    // entity resolution: block, edit-distance verify, transitive
    // closure, golden record per cluster
    Query("entity_resolution", entityResolution)(
      s"""WITH RECURSIVE base AS (
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
        |$reachSql,
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT cl.cluster_id, min(b.k) AS golden_key,
        |  min_by(b.n, b.k) AS golden_name,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  array_to_string(list_sort(list(b.k)), ',') AS members
        |FROM cl JOIN base b ON cl.id = b.k
        |GROUP BY cl.cluster_id
        |ORDER BY cl.cluster_id""".stripMargin),
    // blocking audit: exact closed-form pair counts, micro ratios
    Query("blocking_quality", blockingQualityQ)(
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
        |FROM rs, bs, ts""".stripMargin),
  )

  /** Exact deduplication by content hash (hash-groupBy). */
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("h"))

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

  /** The increment the incremental near-dup gates probe their store
    * with: a near-duplicate tail copy of every 100th doc of `docs`.
    */
  private def nearDupIncrement(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate tail")).as("text"))

  /** Documents seeded with a 10-token boilerplate prefix on every
    * doc_id % 10 == 1 doc, so the span and suffix dedup operators find
    * the same repeated passage at every scale factor.
    */
  private def boilerplateDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 10 === 1,
        concat(lit("subscribe to our newsletter for updates terms of service apply "), col("text")))
        .otherwise(col("text")).as("text"))

  /** [[boilerplateDocs]] as the oracles state it, after a CTE header;
    * its last line is `  FROM documents`.
    */
  private[queries] val boilerplateDocsSql =
    """  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 1
      |         THEN 'subscribe to our newsletter for updates terms of service apply ' || text
      |         ELSE text END AS text
      |  FROM documents""".stripMargin

  /** [[docsWithNearDups]]' rows as the oracles state them, after a
    * `base AS (` line (the column aliases come from the first SELECT).
    */
  private[queries] val nearDupRowsSql =
    """  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' near duplicate tail'
      |  FROM documents WHERE doc_id % 50 = 0),""".stripMargin

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

  /** The curation oracles' replay of [[curationPrefix]] and
    * [[curationExactDedup]]: the planted corpus `alle`, its tokens, the
    * Gopher gate `gq`, the md5 exact-dedup survivors `ek` and their
    * distinct word-3-gram lists `sh`.
    */
  private[queries] val curationHeadSql =
    raw"""WITH RECURSIVE base AS (
         |$nearDupRowsSql
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
         |  FROM ek),""".stripMargin

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

  /** The oracles' transitive closure `reach(id, r)` over the symmetric
    * `edges(src, dst)`, the replay of [[Clustering.connectedComponents]].
    */
  private[queries] val reachSql =
    """reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)""".stripMargin

  /** The curation oracles' replay of [[curationSplitCounts]] over the
    * near-dup pairs `p`: closure, survivors, telemetry and the md5
    * split, up to the last telemetry column.
    */
  private[queries] val curationSplitSql =
    s"""edges AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
       |$reachSql,
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
       |  CAST(t.n_near_kept AS BIGINT) AS n_near_kept""".stripMargin

  /** The lossless and strategy-agreement oracles' exact all-pairs
    * verify over `sh`: the near-dup pairs `p` [[curationStages]] stages.
    */
  private[queries] val curationExactPairsSql =
    """gr AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |szs AS (SELECT doc_id, len(s) AS n FROM sh),
      |cmn AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
      |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT ia, ib FROM cmn
      |  JOIN szs sa ON ia = sa.doc_id
      |  JOIN szs sb ON ib = sb.doc_id
      |  WHERE c * 1000000 // (sa.n + sb.n - c) >= 500000),""".stripMargin

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

  /** The oracles' signature lists `sigs` over `minh(id, seed, mh)` and
    * their 8 band hashes `banded`.
    */
  private[queries] val minhashBandsSql =
    """sigs AS (SELECT id, list(mh ORDER BY seed) AS sig FROM minh GROUP BY id),
      |banded AS (
      |  SELECT id, b.band,
      |    md5(array_to_string(sig[b.band*4+1 : b.band*4+4], '|')) AS bh
      |  FROM sigs CROSS JOIN generate_series(0, 7) b(band)),""".stripMargin

  /** The oracles' portable-md5 signatures over `toks(id, t)`: word-3-gram
    * shingles, 32 seeded minimums, then [[minhashBandsSql]].
    */
  private[queries] val minhashSignaturesSql =
    s"""grams AS (
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
       |$minhashBandsSql""".stripMargin

  /** The oracles' replay of [[minhashCandidates]]: the near-dup corpus,
    * its signatures and band buckets under the size guard, the
    * candidate pairs, and their agreement estimate `est` up to its last
    * join.
    */
  private[queries] val minhashLshSql =
    raw"""WITH base AS (
         |$nearDupRowsSql
         |toks AS (
         |  SELECT doc_id AS id, string_split_regex(lower(trim(text)), '\s+') AS t FROM base),
         |$minhashSignaturesSql
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
         |  JOIN sigs sb ON sb.id = c.id_b""".stripMargin

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

  /** The oracles' exact all-pairs truth set that [[ngramJaccardPairs]]
    * equals, after a `docs AS (` line: the near-dup corpus, its
    * distinct word-3-gram lists `sh` and one row per shingle `g`.
    */
  private[queries] val ngramShinglesSql =
    raw"""  SELECT doc_id, text FROM documents
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
         |g AS (SELECT doc_id, unnest(s) AS g FROM sh),""".stripMargin

  /** [[ngramShinglesSql]] with each doc's shingle count `sz` and each
    * pair's shared-shingle count `common`.
    */
  private[queries] val ngramCommonSql =
    s"""$ngramShinglesSql
       |sz AS (SELECT doc_id, len(s) AS n FROM sh),
       |common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

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
    val path = sessionScratchDir(s, dir, "graft-cluster-store")
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
    TextDedup
      .minhashAgainstStore(nearDupIncrement(docs), store, "doc_id", "text",
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
    TextDedup
      .minhashAgainstStore(nearDupIncrement(docs), store, "doc_id", "text",
        scheme = TextDedup.PortableMd5Scheme)
      .select(col("id").as("doc_id"), col("store_id"), col("est_jaccard"))
      .orderBy(col("doc_id"), col("store_id"))
  }

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
    val seeded = boilerplateDocs(s, dir).filter(col("doc_id") < 200)
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
    val seeded = boilerplateDocs(s, dir).filter(col("doc_id") < 120)
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

  /** The span oracles' word 8-gram windows over `d0`: tokens `t`,
    * window starts `g` and the grams that occur twice, `dup`.
    */
  private[queries] val spanGramsSql =
    raw"""t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM d0),
         |g0 AS (
         |  SELECT doc_id,
         |    unnest([{'s': i, 'g': array_to_string(ws[i:i+7], ' ')}
         |            for i in range(1, greatest(len(ws) - 6, 1))]) AS e
         |  FROM t),
         |g AS (SELECT doc_id, e.s AS start, e.g AS gram FROM g0),
         |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),""".stripMargin

  /** The span oracles' reassembly from tokens `p0` and covered
    * positions `cov`: kept tokens and clean text per doc of `t`.
    */
  private[queries] val spanKeptSql =
    """p AS (SELECT doc_id, e.p AS pos, e.tok AS tok FROM p0),
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
      |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id""".stripMargin

  /** The span oracles' tail over the covered positions `cov0` of every
    * doc: [[spanKeptSql]] for all of `t`.
    */
  private[queries] val spanTailSql =
    s"""cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
       |p0 AS (
       |  SELECT doc_id, unnest([{'p': i, 'tok': ws[i]} for i in range(1, len(ws) + 1)]) AS e
       |  FROM t),
       |$spanKeptSql
       |ORDER BY t.doc_id""".stripMargin

  /** Span-level exact-substring dedup over documents seeded with a
    * 10-token boilerplate prefix on every doc_id % 10 == 1 doc: the
    * boilerplate's 8-token windows duplicate across those docs, so
    * exactly the planted prefix is removed from each while the unique
    * remainder (and every unseeded doc) survives. Oracle-gated: window
    * starts, the corpus-wide gram count, position covers, and the
    * reassembled clean text all replay in SQL.
    */
  private def dedupSpans(s: SparkSession, dir: String): DataFrame = {
    val seeded = boilerplateDocs(s, dir)
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
    val seeded = boilerplateDocs(s, dir)
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
    val seeded = boilerplateDocs(s, dir)
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
}
