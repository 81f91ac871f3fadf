package graft.queries

import graft.SparkEntry.scratchDir
import graft.functions.{VectorFunctions => VF}
import graft.operators.{BinaryAnn, IvfAnn, ProductQuantizer => PQ, SimilaritySearch}
import graft.sources.Tables
import graft.util.SessionScopedCache

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding queries: exact and quantized similarity search, ANN
  * (LSH, IVF, PQ, IVF-PQ, Hamming), k-means and topic assignment,
  * embedding and semantic dedup, k-NN graphs and classification,
  * bitext mining, and embedding diagnostics.
  */
object Vectors {

  val queries: Seq[Query] = Seq(
    // exact all-pairs cosine >= 0.98 truth set (recall argument: every
    // true pair is a planted perturbed copy whose full-signature LSH
    // recall is complete; random pairs sit far below the threshold).
    // Double prefilter at 0.97 keeps the all-pairs pass linear-ish;
    // decimal-exact recompute decides the emitted value and threshold.
    Query("dedup_embedding", dedupEmbedding)(
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
        |ORDER BY id_a, id_b""".stripMargin),
    // supervised bucketing on the integer mu-grid: centroid sums and
    // squared distances are exact integers, so the argmin replays;
    // parallel unnest zips component with 1-based position
    Query("topic_assign", topicAssign)(
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
        |ORDER BY vec_id""".stripMargin),
    // unsupervised k-means: md5 seeds + 3 unrolled Lloyd CTE
    // iterations, all integer-grid exact (see kmeansIterSql)
    Query("kmeans_train", kmeansTrainQ)(
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
         |ORDER BY vec_id""".stripMargin),
    Query("simsearch_cosine", simsearchCosine)(
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
        |FROM sums ORDER BY vec_id""".stripMargin),
    Query("simsearch_quantized", simsearchQuantized)(
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
        |FROM s z, qv ORDER BY z.vec_id""".stripMargin),
    // Exact decimal-cosine top-20 over the planted-neighbor corpus; the
    // approximate path's recall verdict is asserted `true` (the q34
    // tolerance-verdict pattern). The planted copies are float-exact
    // replays of the Spark side: float(i) * float(0.0005) added in
    // single precision.
    Query("ann_lsh_topk", annLshTopk)(
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
        |FROM sums ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin),
    // quantized-prefilter + exact-rerank emits the same rows; shared
    // oracle (ann gate pattern)
    Query.sharing("ann_quantized_rerank", annQuantizedRerank, oracleOf = "ann_lsh_topk"),
    Query("ann_ivf_topk", annIvfTopk)(
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
        |FROM sums ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin),
    // PQ training + encoding: 4 subspace k-means unrolled as CTEs,
    // all integer-grid exact (see pqSubspaceSql)
    // `pq_encode` oracle: quantize, pick the 16 md5-order seed rows,
    // train each of the 4 subspace codebooks with 2 unrolled Lloyd
    // iterations, then emit each vector's 4 argmin codes and the exact
    // integer reconstruction distance — the bit-identical replay of
    // [[graft.operators.ProductQuantizer.train]]+`encode`.
    Query("pq_encode", pqEncode) {
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
    },
    // PQ ADC top-k emits the same exact-top-20 + recall-verdict rows
    // as the LSH gate; the oracle is shared (ann gate pattern)
    Query.sharing("pq_topk", pqTopk, oracleOf = "ann_lsh_topk"),
    Query("ann_ivf_fullprobe", annIvfFullprobe)(
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
        |FROM sums ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin),
    // `semantic_dedup` oracle: the planted-perturbed corpus, two
    // unrolled Lloyd iterations ([[kmeansIterSql]] over the corpus CTE
    // `e`), exact integer assignment, the 10k cluster-size guard, the
    // in-cluster pair join, and the decimal-cosine >= 0.98 verify —
    // the `dedup_embedding` cosine formulation with a cheap
    // double-cosine prefilter (> 0.97 strictly contains the rounded
    // >= 0.98 set) so the decimal explode only runs on candidates.
    Query("semantic_dedup", semanticDedup)(
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
         |FROM hits GROUP BY id_b ORDER BY vec_id""".stripMargin),
    Query.sharing("semantic_dedup_persisted", semanticDedupPersisted, oracleOf = "semantic_dedup"),
    // persistence must be invisible to results: the save/load twins
    // share their live query's oracle verbatim
    Query.sharing("pq_encode_persisted", pqEncodePersisted, oracleOf = "pq_encode"),
    // IVF-PQ emits the same exact-top-20 + recall-verdict rows as the
    // other ANN gates; the oracle is shared (ann gate pattern)
    Query.sharing("ann_ivfpq_topk", annIvfpqTopk, oracleOf = "ann_lsh_topk"),
    Query.sharing("ann_ivfpq_persisted", annIvfpqPersisted, oracleOf = "ann_lsh_topk"),
    Query.sharing("ann_ivfpq_residual_topk", annIvfpqResidualTopk, oracleOf = "ann_lsh_topk"),
    // binary sign-bit ANN: Hamming replayed as the count of differing
    // strict-positive signs (== popcount of XOR over packed words);
    // pool (ham, vec_id LIMIT 64) -> decimal-cosine rerank -> top-20,
    // with the recall@20 verdict vs the exact top-20 also recomputed
    Query("ann_hamming_topk", annHammingTopk)(
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
        |ORDER BY t.cos DESC, t.vec_id""".stripMargin),
    // JL projection: md5 integer matrix + decimal sums replay every
    // coordinate
    Query("embed_project", embedProject)(
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
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    // centroid similarity: decimal coordinate sums, sum-vector cosine
    Query("label_centroid_similarity", labelCentroidSimilarity)(
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
        |FROM pairs ORDER BY group_a, group_b""".stripMargin),
    // mutual kNN graph: decimal cosine, per-source top-5, mutuality
    Query("knn_graph", knnGraphQ)(
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
        |ORDER BY id_a, id_b""".stripMargin),
    // bitext mining: decimal-cosine sims over the two planted sides,
    // integral ratio margins, mutual argmax, 1.5 threshold
    Query("bitext_mine", bitextMineQ)(
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
        |ORDER BY src_id, tgt_id""".stripMargin),
    // ANN-composed bitext mining: rows are the exact broadcast mine
    // (same replay as bitext_mine); recall_ok asserted true — the
    // >=90% ANN-recall check runs in-plan Spark-side
    Query("bitext_mine_ann", bitextMineAnnQ)(
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
        |ORDER BY src_id, tgt_id""".stripMargin),
    // ANN graph gate: the exact mutual 5-NN graph over the planted
    // 30x10 cluster corpus (replayed row-for-row; float-exact variant
    // construction), recall_ok asserted true — the IVF composition's
    // recall runs in-plan on the Spark side
    Query("knn_graph_ann", knnGraphAnnQ)(
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
        |ORDER BY id_a, id_b""".stripMargin),
    // ANN semantic clusters: components of the exact mutual graph
    // (recursive closure), clusters_ok asserted true — the ANN
    // component agreement runs in-plan on the Spark side
    Query("semantic_clusters_ann", semanticClustersAnn)(
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
        |FROM comp GROUP BY cluster ORDER BY cluster_id""".stripMargin),
    // within-class scatter: µ-grid integer sums, exact to one division
    Query("label_scatter", labelScatter)(
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
        |FROM agg ORDER BY label""".stripMargin),
    // semantic clusters: mutual 3-NN graph -> transitive closure
    Query("semantic_clusters", semanticClusters)(
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
        |FROM cl GROUP BY c ORDER BY cluster_id""".stripMargin),
    // kNN classification: decimal-cosine ranks, deterministic vote
    Query("knn_classify", knnClassifyQ)(
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
        |FROM best WHERE brk = 1 ORDER BY query_id""".stripMargin),
    // ANN-routed kNN classification: every query's planted 6-copy
    // family (same label) dominates its top-5 — the prediction is the
    // query's own label in closed form; votes_ok asserts >= 3 family
    // members survived the IVF routing (structural: near-identical
    // vectors co-probe the same lists)
    Query("knn_classify_ann", knnClassifyAnnQ)(
      """SELECT vec_id AS query_id, CAST(label AS BIGINT) AS predicted_label,
        |       true AS votes_ok
        |FROM embeddings WHERE vec_id % 50 = 0
        |ORDER BY query_id""".stripMargin),
    // label outliers: n^2-scaled integer distances, cross-multiplied flag
    Query("embedding_outliers", embeddingOutliers)(
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
        |ORDER BY d.vec_id""".stripMargin),
    // kNN held-out accuracy: replay the vote, join truth, exact ratio
    Query("knn_eval", knnEval)(
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
        |FROM best WHERE brk = 1""".stripMargin),
  )

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

  /** Mutual k-NN graph over the first 100 embedding vectors, BIT-EXACT
    * end-to-end: decimal-cosine similarities on the µ-grid, per-source
    * top-5, and the mutuality intersection all replay in SQL
    * ([[graft.operators.SimilaritySearch.mutualKnnGraph]]).
    */
  private def knnGraphQ(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch
      .mutualKnnGraph(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 5,
        simFn = (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long"),
        knownNodeCount = Some(100L)) // vec_id < 100 bounds the set by construction
      .select(col("id_a"), col("id_b"), col("sim").as("sim_micro"))
      .orderBy(col("id_a"), col("id_b"))

  /** The planted 30x10 cluster corpus of the ANN graph gates: each of
    * the first 30 embeddings plus 9 copies shifted by `i * 0.0005f`.
    */
  private def plantedClusterNodes(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").filter(col("vec_id") < 30)
      .select(col("vec_id").as("__b"),
        explode(sequence(lit(0L), lit(9L))).as("__i"), col("embedding"))
      .select((col("__b") * 10 + col("__i")).as("vec_id"),
        transform(col("embedding"),
          x => x + col("__i").cast("float") * lit(0.0005f)).as("embedding"))

  /** The exact mutual 5-NN graph over [[plantedClusterNodes]]
    * (micro-scaled decimal cosine), staged once per (session, dir).
    */
  private def graphExact(s: SparkSession, dir: String): DataFrame =
    SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#knn-graph-clusters") {
      graft.util.Staged.settle(SimilaritySearch
        .mutualKnnGraph(plantedClusterNodes(s, dir), "vec_id", "embedding", k = 5,
          simFn = (a, b) => floor(VF.cosineDecimal(a, b) * lit(1e6)).cast("long"),
          knownNodeCount = Some(300L))) // 30 bases x 10 planted variants
    }

  /** The IVF index (nlist 8) over [[plantedClusterNodes]], trained
    * once per (session, dir).
    */
  private def graphIndex(s: SparkSession, dir: String): IvfAnn.Index =
    SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir + "#graph-clusters")(
      IvfAnn.build(plantedClusterNodes(s, dir), "vec_id", "embedding", nlist = 8, iters = 3))

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
    val exact = graphExact(s, dir)
    val index = graphIndex(s, dir)
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
    val exact = graphExact(s, dir)
    val index = graphIndex(s, dir)
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

  /** The IVF index (nlist 16) over the embeddings, trained once per
    * (session, dir).
    */
  private def ivfBase(s: SparkSession, dir: String): IvfAnn.Index =
    SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir)(
      IvfAnn.build(Tables(s, dir, "embeddings"), "vec_id", "embedding", nlist = 16, iters = 3))

  /** [[ivfBase]] with the planted neighbors of [[embWithPlantedNeighbors]]
    * appended (assign-only), once per (session, dir).
    */
  private def ivfPlanted(s: SparkSession, dir: String): IvfAnn.Index =
    SessionScopedCache.getOrElseUpdate(s, "ivf:" + dir + "#planted")(
      IvfAnn.append(ivfBase(s, dir),
        embWithPlantedNeighbors(Tables(s, dir, "embeddings")).filter(col("vec_id") >= 1000000L)))

  /** The PQ codebooks (m 4, ksub 16, 2 iterations) over the embeddings,
    * trained once per (session, dir).
    */
  private def pqBook(s: SparkSession, dir: String): PQ.Codebooks =
    SessionScopedCache.getOrElseUpdate(s, "pq:" + dir)(
      PQ.train(Tables(s, dir, "embeddings"), "vec_id", "embedding", m = 4, ksub = 16, iters = 2))

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
    val approx = IvfAnn.topK(ivfPlanted(s, dir), query, k = 20, nprobe = 4)
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
    IvfAnn.topK(ivfBase(s, dir), emb.filter(col("vec_id") === 0), k = 20, nprobe = 16,
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
  private def pqEncode(s: SparkSession, dir: String): DataFrame =
    pqCodes(Tables(s, dir, "embeddings"), pqBook(s, dir))

  /** Each vector's four PQ codes and its exact integer reconstruction
    * distance under `cb` — the rows both PQ encode gates emit.
    */
  private def pqCodes(emb: DataFrame, cb: PQ.Codebooks): DataFrame =
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
    val cb = pqBook(s, dir)
    val qQ = query.select(col("embedding")).head().getSeq[Float](0)
      .map(x => math.floor(x.toDouble * 1e6).toLong).toSeq
    val approx = PQ.adcTopK(
      PQ.encode(corpus, "vec_id", "embedding", cb),
      "vec_id", PQ.distTable(qQ, cb), cb, k = 20)
    exactTopWithRecallVerdict(exactTop20(s, dir, corpus, query), approx)
  }

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
  private def semanticDedup(s: SparkSession, dir: String): DataFrame =
    semDedupRemovals(s, dir, semDedupCents(s, dir))

  /** The embeddings plus a +0.0005 copy of every 100th vector. */
  private def semDedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val perturbed = emb
      .filter(col("vec_id") % 100 === 0)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.0005f)).as("embedding"))
    emb.select(col("vec_id"), col("embedding")).unionByName(perturbed)
  }

  /** The k-means centroids over [[semDedupCorpus]], trained once per
    * (session, dir). k is sized to the corpus (SemanticDedup.sizedK:
    * ~n/300, floor 8) — the quadratic in-cluster search is bounded by
    * MEAN CLUSTER SIZE, so a pinned k melts at rehearsal scale (k=8
    * over 80k vectors = 10k-vector clusters = ~400M prefilter cosines,
    * 322 s cold at the sf4 drill). At the oracle SFs (sf0.01/sf0.1:
    * <= ~2k vectors) sizedK resolves to exactly 8 — the value the Lloyd
    * CTE program replays — so the oracle is unchanged by the sizing.
    */
  private def semDedupCents(s: SparkSession, dir: String): Seq[(Int, Seq[Long])] =
    SessionScopedCache.getOrElseUpdate(s, "semdedup:" + dir) {
      val corpus = semDedupCorpus(s, dir)
      val k = graft.operators.SemanticDedup.sizedK(corpus.count())
      graft.operators.KMeansTrain.train(corpus, "vec_id", "embedding", k = k, iters = 2)
    }

  /** The removal list of [[semDedupCorpus]] under the centroids `cents`. */
  private def semDedupRemovals(
      s: SparkSession, dir: String, cents: Seq[(Int, Seq[Long])]): DataFrame =
    graft.operators.SemanticDedup
      .removalList(semDedupCorpus(s, dir), "vec_id", "embedding", cents, minCosine = 0.98,
        cosineFn = (a, b) => round(VF.cosineDecimal(a, b), 3),
        // round-3 exact gate passes cosineDecimal >= 0.9795; 1e-4 slack
        prefilterMin = Some(0.9794))
      .select(col("id").as("vec_id"), col("cluster").cast("int").as("cluster"),
        col("dup_of"), col("n_dups"), col("cos_max"))
      .orderBy(col("vec_id"))

  /** [[pqEncode]] through a codebook save/load cycle: the books are
    * trained once, persisted, reloaded, and the encode runs on the
    * LOADED books — persistence must be invisible to results, so the
    * oracle is shared verbatim with `pq_encode` (the
    * `dedup_incremental_*_persisted` convention).
    */
  private def pqEncodePersisted(s: SparkSession, dir: String): DataFrame = {
    val cb = SessionScopedCache.getOrElseUpdate(s, "pq:" + dir + "#persisted") {
      val path = scratchDir("graft-pq-books")
      PQ.save(pqBook(s, dir), s, path)
      PQ.load(s, path)
    }
    pqCodes(Tables(s, dir, "embeddings"), cb)
  }

  /** [[semanticDedup]] through a centroid save/load cycle (same
    * persistence-invisibility contract; shares the oracle verbatim).
    */
  private def semanticDedupPersisted(s: SparkSession, dir: String): DataFrame = {
    val cents = SessionScopedCache.getOrElseUpdate(s, "semdedup:" + dir + "#persisted") {
      val path = scratchDir("graft-kmeans-cents")
      graft.operators.KMeansTrain.saveCentroids(semDedupCents(s, dir), s, path)
      graft.operators.KMeansTrain.loadCentroids(s, path)
    }
    semDedupRemovals(s, dir, cents)
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
    SessionScopedCache.getOrElseUpdate(s, "ivfpq:" + dir + "#planted")(
      graft.operators.IvfPq.fromParts(ivfPlanted(s, dir), pqBook(s, dir)))

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
    val index = SessionScopedCache.getOrElseUpdate(s, "ivfpq-residual:" + dir + "#planted")(
      graft.operators.IvfPq.fromPartsResidual(ivfPlanted(s, dir), m = 4, ksub = 16, iters = 2))
    val approx = graft.operators.IvfPq
      .topKResidual(index, query, "embedding", k = 20, nprobe = 4)
    exactTopWithRecallVerdict(exactTop20(s, dir, corpus, query), approx)
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
}
