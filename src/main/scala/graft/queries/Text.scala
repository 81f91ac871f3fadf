package graft.queries

import graft.SparkEntry.docsWithBoilerplate
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-document text features: tokens, quality heuristics, language
  * id, PII scrubbing, normalization, diversity and entropy,
  * vocabulary and term statistics, line and HTML extraction, and
  * chunking.
  */
object Text {

  val queries: Seq[Query] = Seq(
    Query("text_scrub_pii", textScrubPii)(
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     text || ' contact user' || doc_id || '@mail.example or call +1-555-0100 today',
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin),
    Query("text_tokens", textTokens)(
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        | round(avg(len(regexp_split_to_array(trim(text), '\s+'))), 3) AS avg_tokens
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin),
    Query("text_quality", textQuality)(
      """SELECT source,
        | round(avg((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) * 1.0) / length(text)), 4) AS punct_ratio,
        | round(avg(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> list_contains(['the','a','of','and','to','in','is','for','on','with'], t))) * 1.0
        |   / len(regexp_split_to_array(lower(trim(text)), '\s+'))), 4) AS stop_ratio,
        | round(avg(n_chars), 2) AS avg_chars,
        | count(*) AS n_docs
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin),
    // KL drift between corpus halves: per-token contributions
    // floor-quantized to 1e-12-scaled BIGINTs; movers selected on the
    // exact quantized value with a token tie-break
    Query("corpus_drift_movers", corpusDriftMovers)(
      s"""$driftCountsSql
        |  FROM u CROSS JOIN m)
        |SELECT token, c_a, c_b,
        |  round(CAST(lp_ab AS DOUBLE) / 1000000000000.0, 6) AS kl_contrib
        |FROM d ORDER BY abs(lp_ab) DESC, token LIMIT 20""".stripMargin),
    Query("corpus_drift_kl", corpusDriftKl)(
      s"""$driftCountsSql,
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
        |FROM d""".stripMargin),
    Query("text_gopher_quality", textGopherQuality)(
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
        |ORDER BY doc_id""".stripMargin),
    // repetition metrics: runs via the row_number-gap trick, trigram
    // multiplicities via list comprehension + group-by; the Spark side
    // computes both as per-row folds (sorted-array max-run)
    Query("text_repetition", textRepetition)(
      s"""${Corpus.docWordsSql}
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
        |ORDER BY g.doc_id""".stripMargin),
    // OOV vs the corpus top-25 vocab: rebuild the vocab (count desc,
    // token asc), replay the per-occurrence membership filter
    Query("vocab_coverage", vocabCoverage)(
      s"""${Corpus.docWordsSql}
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
        |ORDER BY doc_id""".stripMargin),
    // smoothed tf-idf on the integer mu-nat grid (same quantization as
    // the KL drift / bigram LM oracles), top-3 per doc by row_number
    Query("tfidf_top_terms", tfidfTopTerms)(
      s"""${Corpus.docWordsSql}
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
        |ORDER BY doc_id, score DESC, term""".stripMargin),
    Query("text_fingerprint", textFingerprint)(
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin),
    Query("text_langid", textLangid)(
      s"""WITH scored AS (
        |  SELECT lang,
        |$langIdScoresSql
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
        |ORDER BY lang, predicted""".stripMargin),
    // sliding-window chunking: same starts (0,48,96,… until a window
    // reaches the end), inclusive list slices clamp like Spark slice()
    Query("chunk_documents", chunkDocuments)(
      s"""$chunkStartsSql
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |  CAST(cid * 48 AS BIGINT) AS chunk_start,
        |  CAST(len(ws[cid*48 + 1 : cid*48 + 64]) AS BIGINT) AS n_tokens,
        |  array_to_string(ws[cid*48 + 1 : cid*48 + 64], ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin),
    Query("chunk_dedup", chunkDedup)(
      s"""$chunkStartsSql,
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
        |ORDER BY doc_id, chunk_id""".stripMargin),
    // line-level dedup family: the boilerplate fixture (header + body
    // + footer joined by chr(10)) is synthesized identically in both
    // engines; frequency, removal, and in-order reconstruction replay
    Query("line_stats", lineStats)(
      s"""$boilerplateChromeSql
        |lines AS (
        |  SELECT doc_id, unnest(str_split(text, chr(10))) AS line FROM docs2)
        |SELECT line,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ
        |FROM lines GROUP BY line
        |ORDER BY n_docs DESC, line LIMIT 20""".stripMargin),
    Query("line_dedup", lineDedup)(
      s"""$lineDedupSql
        |         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS removed_lines,
        |         CAST(sum(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines
        |  FROM flagged GROUP BY doc_id)
        |SELECT doc_id, text, removed_lines, kept_lines
        |FROM rebuilt ORDER BY doc_id""".stripMargin),
    // HTML extraction: the fixture CASE rebuilds the same three
    // templates, and the extraction expression is GENERATED from
    // HtmlExtract's step list — oracle and engine share one source of
    // truth, so the hash gate covers every pattern
    Query("html_extract", htmlExtractQ) {
      val ext = graft.operators.HtmlExtract.duckdbExtractSql("html")
      s"""WITH html AS ($htmlDocsSql),
         |ext AS (SELECT doc_id, $ext AS text FROM html)
         |SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
         |FROM ext ORDER BY doc_id""".stripMargin
    },
    Query("html_boilerplate", htmlBoilerplate) {
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
    },
    Query("html_links", htmlLinks)(
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
         |FROM flat ORDER BY doc_id, link_no""".stripMargin),
    // NFC normalization: decomposed decorations composed identically
    // by both engines; md5 of the normalized bytes gates every row
    Query("text_normalize", textNormalize)(
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
        |FROM n ORDER BY doc_id""".stripMargin),
    // distinct-n diversity: bigram totals/distincts/ratio replay
    Query("text_diversity", textDiversity)(
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
        |FROM gr GROUP BY lang ORDER BY lang""".stripMargin),
    // length buckets: explicit power-of-two boundary ladder + exact
    // padding ledger replay
    Query("length_buckets", lengthBucketsQ)(
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
        |FROM b GROUP BY bucket_size ORDER BY bucket_size""".stripMargin),
    // blocklist: overlapping-occurrence counts replayed by position
    // enumeration per (doc, pattern)
    Query("text_blocklist", textBlocklist)(
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
        |FROM a ORDER BY doc_id""".stripMargin),
    // token entropy: µ-nat grid sums replay exactly
    Query("text_entropy", textEntropy)(
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
        |FROM withn GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // PMI collocations: µ-nat quantized ln terms over exact counts
    Query("collocations_pmi", collocationsPmi)(
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
        |LIMIT 20""".stripMargin),
    // Zipf slope: integer OLS sums on µ-nat logs of (rank, count)
    Query("zipf_slope", zipfSlopeQ)(
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
        |FROM q""".stripMargin),
    // readability: regex-countable words/sentences/vowel runs
    Query("text_readability", textReadability)(
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
        |ORDER BY doc_id""".stripMargin),
  )

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

  /** The chunking oracles' window starts: tokens `t` and one row per
    * 64-token window starting every 48 tokens, `c(doc_id, ws, cid)`.
    */
  private[queries] val chunkStartsSql =
    raw"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, ws,
         |    unnest(range(0,
         |      greatest(CAST(ceil((len(ws) - 64) / 48.0) AS BIGINT), 0) + 1))
         |      AS cid
         |  FROM t)""".stripMargin

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

  /** Token-distribution entropy per document on the µ-nat integer
    * grid — exact integers, fully SQL-replayable (the corpus-drift
    * convention); the distribution-shape quality signal beside the
    * Gopher repetition fractions.
    */
  private def textEntropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lexicon
      .tokenEntropy(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

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

  /** The drift oracles' token counts of the two corpus halves and each
    * token's a-to-b KL contribution `lp_ab`, floor-quantized at 1e-12.
    */
  private[queries] val driftCountsSql =
    raw"""WITH ta AS (
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
         |    1000000000000.0) AS BIGINT) AS lp_ab""".stripMargin

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

  /** The lang-id oracles' stopword hit counts `s_de` .. `s_it` per
    * document, as the SELECT list's last five columns.
    */
  private[queries] val langIdScoresSql =
    raw"""    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
         |      t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','für','auf','zu','den'], t))) AS s_de,
         |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
         |      t -> list_contains(['the','a','of','and','to','in','is','for','on','with','that','it'], t))) AS s_en,
         |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
         |      t -> list_contains(['el','la','los','las','y','es','un','una','para','en','que','de'], t))) AS s_es,
         |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
         |      t -> list_contains(['le','la','les','et','est','un','une','pour','dans','que','des','du'], t))) AS s_fr,
         |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
         |      t -> list_contains(['il','la','gli','e','è','un','una','per','che','di','non','con'], t))) AS s_it""".stripMargin

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

  /** `SparkEntry.docsWithBoilerplate` as the line oracles state it:
    * the `docs2` CTE.
    */
  private[queries] val boilerplateChromeSql =
    """WITH docs2 AS (
      |  SELECT doc_id,
      |         '=== ' || source || ' header ===' || chr(10) ||
      |         text || chr(10) ||
      |         CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
      |              ELSE 'contact us at ' || source || '.example' END AS text
      |  FROM documents),""".stripMargin

  /** The line-dedup oracles' replay up to the rebuilt text: numbered
    * lines, the lines in >= 10 docs, and each doc's remaining lines
    * joined in order.
    */
  private[queries] val lineDedupSql =
    s"""$boilerplateChromeSql
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
       |                    FILTER (WHERE NOT hit), '') AS text,""".stripMargin

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
    * [[graft.SparkEntry.docsWithBoilerplate]]: the raw corpus is
    * markup-free, so the structure the operator must strip is built
    * in-plan and the oracle rebuilds it from the same CASE).
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
}
