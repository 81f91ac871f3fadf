package graft.queries

import graft.SparkEntry.scratchDir
import graft.functions.{VectorFunctions => VF}
import graft.operators.SimilaritySearch
import graft.sources.Tables
import graft.util.SessionScopedCache

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse retrieval: BM25 (live, absorbed, retracted), chunk and
  * phrase search, rank fusion, more-like-this, hard negatives, and
  * MMR selection.
  */
object Search {

  val queries: Seq[Query] = Seq(
    // BM25 top-20: per-(doc,term) contributions floor-quantized to
    // 1e-6-scaled BIGINTs; selection and tie-breaks on the exact sum
    Query("bm25_search", bm25Search)(bm25SearchOracleSql),
    // RRF: BM25 top-100 (exact-sum cut, rank over the rounded score)
    // + dense decimal-cosine top-100, quantized reciprocal ranks
    Query("rrf_fusion", rrfFusion)(
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
        |FROM fused ORDER BY sq DESC, id LIMIT 20""".stripMargin),
    // absorb==rebuild is the invariant: the half-built + absorbed
    // index must score exactly like the oracle's full-corpus replay
    Query.sharing("bm25_absorb_search", bm25AbsorbSearch, oracleOf = "bm25_search"),
    // retract == rebuild: the tombstoned index must score exactly as
    // an index built on the surviving even half
    Query("bm25_retract_search", bm25RetractSearch)(
      bm25SearchOracleSql.replace(
        "FROM documents),",
        "FROM documents WHERE doc_id % 2 = 0),")),
    // chunk-level BM25: the chunk_documents replay feeding the
    // bm25_search integer-grid formula over composite chunk ids
    Query("chunk_search", chunkSearch)(
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
        |FROM agg2 ORDER BY s DESC, cid LIMIT 20""".stripMargin),
    // hard negatives: decimal-cosine replay (the simsearch_cosine
    // formula) + label exclusion + per-query row_number ranking
    Query("hard_negatives", hardNegativesQ)(
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
        |ORDER BY query_id, rank""".stripMargin),
    // greedy MMR: 5 unrolled argmax rounds on the µ-grid (λ = 1/2)
    Query("mmr_select", mmrSelectQ)(
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
        |ORDER BY rank""".stripMargin),
    // sharded greedy MMR: 2 rounds, each a per-shard window argmax
    Query("mmr_sharded", mmrShardedQ)(
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
        |ORDER BY shard, rank""".stripMargin),
    // MMR serving gate: candidate µ-cosines vs the query (vec 0) and
    // the two fixed exemplars (vec 1, 2); integer score and verdict
    Query("mmr_diversity_gate", mmrGateQ)(
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
        |ORDER BY r.vec_id""".stripMargin),
    // phrase search: positional match positions via list comprehension
    Query("phrase_search", phraseSearchQ)(
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
        |ORDER BY id""".stripMargin),
    // more-like-this: milli-idf weighted postings, query-doc dot
    Query("more_like_this", moreLikeThisQ)(
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
        |ORDER BY sim DESC, d.id LIMIT 10""".stripMargin),
  )

  /** Composite chunk-id stride for chunk-level retrieval: supports up
    * to 100000 chunks per document (~4.8 M tokens at window 64 /
    * stride 48); an in-plan assert_true fails the query rather than
    * aliasing ids when exceeded.
    */
  private val ChunkIdMultiplier = 100000L

  /** "More like this" for doc 0: sparse TF-IDF cosine through the
    * inverted index, milli-idf integer weights
    * ([[graft.operators.Bm25.moreLikeThis]]).
    */
  private def moreLikeThisQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bm25
      .moreLikeThis(Tables(s, dir, "documents"), "doc_id", "text",
        queryId = 0L, k = 10)
      .orderBy(col("sim").desc, col("id"))

  /** Exact phrase search ("slow hash batch") by positional-posting
    * intersection ([[graft.operators.Bm25.phraseSearch]]): the
    * boolean complement of BM25, every match position replayed.
    */
  private def phraseSearchQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bm25
      .phraseSearch(Tables(s, dir, "documents"), "doc_id", "text",
        Seq("slow", "hash", "batch"))
      .orderBy(col("id"))

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

  /** The BM25 index over the documents, built once per (session, dir). */
  private def bm25Index(s: SparkSession, dir: String): graft.operators.Bm25.Index =
    SessionScopedCache.getOrElseUpdate(s, "bm25:" + dir)(
      graft.operators.Bm25.build(Tables(s, dir, "documents"), "doc_id", "text"))

  /** BM25 top-20 retrieval over the documents corpus (the lookup side
    * of decontamination audits / corpus inspection). Oracle-gated
    * end-to-end: tf/df/dl/N are exact counts, idf and the length
    * normalization are IEEE arithmetic over them with identical
    * literal constants on both engines, and each (doc, term)
    * contribution is FLOOR-quantized to a 1e-6-scaled LONG before the
    * per-doc sum — ranking, tie-breaks (by the exact sum then
    * doc_id), and the round(4) score all replay in SQL.
    */
  private def bm25Search(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bm25.search(bm25Index(s, dir), Seq("vector", "merge", "stream"), k = 20)
      .select(col("id").as("doc_id"), col("n_terms"), col("score"))

  /** Hybrid retrieval: BM25 top-100 (terms "vector merge stream") and
    * dense decimal-cosine top-100 around vec_id=0 fused by
    * reciprocal-rank fusion (c=60, quantized contributions), top 20.
    * Ranks are assigned over each list's ROUNDED emitted score with
    * an id tie-break — the same ordering the oracle replays — so the
    * fused integer scores hash-match exactly.
    */
  private def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val sparse = graft.operators.Bm25
      .search(bm25Index(s, dir), Seq("vector", "merge", "stream"), k = 100)
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

  /** `bm25_search` oracle; `bm25_retract_search` derives its own
    * from it.
    */
  private lazy val bm25SearchOracleSql: String =
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
        |FROM agg ORDER BY s DESC, doc_id LIMIT 20""".stripMargin
}
