package graft.queries

import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-mixture planning: mixture sampling and upsampling,
  * sequence packing, shard plans, weighted and epoch sampling, and
  * split assignment.
  */
object Mixtures {

  val queries: Seq[Query] = Seq(
    Query("mixture_sample", mixtureSample)(
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
        |FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8'
        |              WHEN 'src2' THEN '4' WHEN 'src3' THEN '2' ELSE '1' END
        |GROUP BY source
        |ORDER BY source""".stripMargin),
    Query("pack_sequences", packSequences)(
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
        |ORDER BY shard, pack_id""".stripMargin),
    // token-balanced shard plan: md5 buckets, the canonical-order
    // running sum, the shard division, per-shard totals, and the
    // balance bound all replay as integer SQL
    Query("shard_plan", shardPlanQ)(
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
        |FROM ps ORDER BY ps.shard""".stripMargin),
    // split assignment replay: md5 bucket -> cumulative range bounds
    Query("split_assign", splitAssign)(
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
        |ORDER BY source, split""".stripMargin),
    // sqrt-temperature mixture plan: integer-quantized sqrt weights so
    // the normalizer is an exact integer sum; budget 1M tokens
    Query("mixture_plan", mixturePlan)(
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
        |ORDER BY source""".stripMargin),
    // plan -> rows: replay the 50k-budget epochs, quantize to
    // sixteenths, emit floor copies + the md5-fraction extra copy
    Query("mixture_upsample", mixtureUpsample)(
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
        |ORDER BY doc_id, copy_idx""".stripMargin),
    // leakage-guarded split: copies inherit their chain's base id as
    // the representative (the component minimum), originals are their
    // own; the md5 bucket is split_assign's
    Query("cluster_aware_split", clusterAwareSplitQ)(
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
        |FROM s GROUP BY split ORDER BY split""".stripMargin),
    // weighted sample: md5 uniforms + exponential keys replay exactly
    Query("weighted_sample", weightedSampleQ)(
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |            % 1000000 + 1) / 1000000.0 AS u
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |       CAST(floor(ln(u) / n_chars * 1e6) AS BIGINT) AS key_micro
        |FROM t ORDER BY key_micro DESC, doc_id LIMIT 25""".stripMargin),
    // epoch shuffle: portable md5 order key, positions on the slice
    Query("epoch_shuffle", epochShuffleQ)(
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) AS key60
        |  FROM documents WHERE doc_id < 100)
        |SELECT CAST(row_number() OVER (ORDER BY key60, doc_id) AS BIGINT) AS pos,
        |       doc_id, key60
        |FROM k ORDER BY pos""".stripMargin),
  )

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
}
