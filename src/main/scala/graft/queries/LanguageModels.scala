package graft.queries

import graft.SparkEntry.scratchDir
import graft.sources.Tables
import graft.util.SessionScopedCache

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Language models and tokenizers: n-gram perplexity and backoff
  * scoring, and BPE, unigram-LM and WordPiece training and
  * segmentation.
  */
object LanguageModels {

  val queries: Seq[Query] = Seq(
    // bigram-LM perplexity: train counts on the %50!=7 slice, score
    // the held-out slice; per-position log-probs are floor-quantized
    // to 1e-6-scaled BIGINTs so the per-doc sum is order-exact
    Query("text_perplexity", textPerplexity)(
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
        |ORDER BY s.doc_id""".stripMargin),
    // the inline (task-closure model) twin is bit-identical to the
    // join form by construction; it shares the oracle verbatim
    Query.sharing("text_perplexity_inline", textPerplexityInline, oracleOf = "text_perplexity"),
    // BPE iteration-1 pair counts: vocabulary-collapsed words, char
    // bigrams + (last char, </w>) boundary pair, frequency-weighted
    Query("bpe_pair_stats", bpePairStatsQ)(
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
        |ORDER BY n DESC, pair LIMIT 30""".stripMargin),
    Query("bpe_train", bpeTrainQ)(
      s"""WITH $bpeChainSql
         |SELECT * FROM (
         |${(1 to 6).map(i =>
            s"  SELECT CAST($i AS INT) AS iter, x, y, n FROM m$i").mkString("\n  UNION ALL\n")}
         |) ORDER BY iter""".stripMargin),
    Query("bpe_segment", bpeSegmentQ)(
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
         |FROM applied ORDER BY doc_id""".stripMargin),
    // unigram-LM: substring seed + 2 unrolled hard-EM rounds, Viterbi
    // DP per position as CTEs, backpointer walk as a recursive CTE
    Query("ulm_train", ulmTrainQ)(ulmTrainOracle(None)),
    // absorb == rebuild: the absorbed vocabulary must equal the
    // full-corpus EM replay verbatim
    Query.sharing("ulm_absorb_train", ulmAbsorbTrain, oracleOf = "ulm_train"),
    // `ulm_segment` oracle: one more Viterbi DP over the word table at
    // the FINAL log-probs, then each of the first 10 documents re-emits
    // its tokens' piece lists in order (tokens join the segmented word
    // table; the length bound drops none on this corpus).
    Query("ulm_segment", ulmSegmentQ) {
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
    },
    Query.sharing("ulm_segment_persisted", ulmSegmentPersisted, oracleOf = "ulm_segment"),
    Query("ulm_train_pruned", ulmTrainPruned)(ulmTrainOracle(Some(UlmPruneTo))),
    // `wordpiece_segment` oracle: the pruned-vocab EM chain, a greedy
    // table `gm` (each word position's longest full-length vocab
    // match, single-char fallback), a recursive max-match walk, and
    // the per-document token re-emit.
    Query("wordpiece_segment", wordpieceSegment) {
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
    },
    // stupid backoff: three count CTEs from the train split, held-out
    // positions left-joined on their gram keys, CASE cascade with one
    // 0.4 penalty per skipped order, micro-nat floor per position
    Query("text_backoff_score", textBackoffScore)(
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
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the inline (task-closure counts) twin is bit-identical to the
    // join form by construction; it shares the oracle verbatim
    Query.sharing("text_backoff_inline", textBackoffInline, oracleOf = "text_backoff_score"),
  )

  /** The bigram LM of the doc_id % 50 != 7 reference slice. */
  private def ngramLm(s: SparkSession, dir: String): graft.operators.NgramLm.Model =
    SessionScopedCache.getOrElseUpdate(s, "ngram-lm:" + dir)(
      graft.operators.NgramLm.train(
        Tables(s, dir, "documents").filter(col("doc_id") % 50 =!= 7), "doc_id", "text"))

  /** The stupid-backoff counts of [[ngramLm]]'s reference slice. */
  private def backoffLm(s: SparkSession, dir: String): graft.operators.BackoffLm.Model =
    SessionScopedCache.getOrElseUpdate(s, "backoff-lm:" + dir)(
      graft.operators.BackoffLm.train(
        Tables(s, dir, "documents").filter(col("doc_id") % 50 =!= 7), "doc_id", "text"))

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
    graft.operators.NgramLm
      .perplexity(docs.filter(col("doc_id") % 50 === 7), ngramLm(s, dir), "doc_id", "text")
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
    val collected = graft.operators.NgramLm.collectModel(ngramLm(s, dir))
    graft.operators.NgramLm
      .perplexityInline(docs.filter(col("doc_id") % 50 === 7), collected, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"), col("avg_logp"), col("perplexity"))
      .orderBy(col("doc_id"))
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

  /** [[ulmVocab]] with the SentencePiece prune ([[UlmPruneTo]]). */
  private def ulmPruned(s: SparkSession, dir: String): graft.operators.UnigramLm.Vocab =
    SessionScopedCache.getOrElseUpdate(s, "ulm:" + dir + "#pruned")(
      graft.operators.UnigramLm.train(Tables(s, dir, "documents"), "text",
        maxPieceLen = UlmMaxPieceLen, topMulti = UlmTopMulti,
        emIters = UlmEmIters, maxWordLen = UlmMaxWordLen,
        pruneMultiTo = Some(UlmPruneTo)))

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
      ulmPruned(s, dir))

  /** WordPiece-style greedy longest-match segmentation of the first
    * 10 documents under the PRUNED unigram-LM vocabulary (membership
    * only — no probabilities), the tokenizer family's third serving
    * mode. Oracle-gated end-to-end: the replay rebuilds the pruned
    * vocab (same EM chain), tabulates each position's greedy piece,
    * and walks it with a recursive CTE.
    */
  private def wordpieceSegment(s: SparkSession, dir: String): DataFrame = {
    val v = ulmPruned(s, dir)
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

  /** Stupid-backoff trigram scoring (Brants et al. 2007) of the 2%
    * held-out slice against counts from the other 98% — the
    * unnormalized web-scale sibling of `text_perplexity`; per-doc
    * order mix (n_tri/n_big/n_uni) shows how much context the model
    * actually had. Micro-nat floor quantization makes the doc sums
    * exact — see [[graft.operators.BackoffLm]].
    */
  private def textBackoffScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    graft.operators.BackoffLm
      .score(docs.filter(col("doc_id") % 50 === 7), backoffLm(s, dir), "doc_id", "text")
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
    // 4M-row ceiling: the sf0.1 corpus sits under it; past that the
    // join form is the right shape anyway
    val collected = graft.operators.BackoffLm.collectModel(backoffLm(s, dir), maxRows = 4000000L)
    graft.operators.BackoffLm
      .scoreInline(docs.filter(col("doc_id") % 50 === 7), collected, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_tri"),
        col("n_big"), col("n_uni"), col("avg_logs"))
      .orderBy(col("doc_id"))
  }

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
}
