package graft

import graft.config.TableConfig
import graft.operators.{CdcDedup, MergeEngine}

import org.apache.spark.sql.functions._

import scala.util.Random

/** Property-style check of the merge semantics: random CDC changelogs
  * (and two fixed ones whose deletes empty the table) applied
  * batch-by-batch through the real table-backed MergeEngine must match
  * a trivial in-memory reference model of the same contract (per
  * batch: W1 dedup keeps the max-LSN op per key; upserts guarded by
  * strict `target.lsn < op.lsn`; tombstone batch-winners delete
  * unconditionally), on an unpartitioned table and on one
  * partitioned by `id % 3` — the fused changelogs on the latter also
  * with `part` computed from `id` in the change set's own projection,
  * so the engine finds that the partition follows the pk and skips
  * the delete probe.
  *
  * Seeded RNG -> deterministic cases; payloads derive from (id, lsn) so
  * equal-LSN duplicates carry identical payloads (the engine's
  * tie-break among identical duplicates is then value-irrelevant, as
  * in real CDC replays).
  */
/** Top-level so Spark can generate an Encoder for it. */
case class MergePropOp(id: Int, name: String, deleted: Boolean, lsn: Long)

class MergePropertySpec extends SparkSpec {
  import spark.implicits._

  private type Op = MergePropOp
  private def Op(id: Int, name: String, deleted: Boolean, lsn: Long): Op =
    MergePropOp(id, name, deleted, lsn)

  private def model(batches: Seq[Seq[Op]]): Map[Int, Op] = {
    var state = Map.empty[Int, Op]
    batches.foreach { batch =>
      val winners = batch.groupBy(_.id).map { case (_, ops) => ops.maxBy(_.lsn) }
      winners.filterNot(_.deleted).foreach { op =>
        state.get(op.id) match {
          case Some(cur) if cur.lsn >= op.lsn => ()
          case _ => state += op.id -> op
        }
      }
      winners.filter(_.deleted).foreach(op => state -= op.id)
    }
    state
  }

  /** Applies `batches` through the table-backed engine: as an upsert
    * pass then a delete pass, or `fused` as one change set per batch.
    * `partitioned` lays the table out by `id % 3`, computed before the
    * dedup — or, `followPk`, in the fused change set's top projection,
    * where [[MergeEngine.partitionsFollowPk]] sees it is an expression
    * over the pk.
    */
  private def runEngine(
      batches: Seq[Seq[Op]],
      path: String,
      fused: Boolean,
      partitioned: Boolean,
      followPk: Boolean = false): Map[Int, (String, Long)] = {
    val cfg =
      if (partitioned) TableConfig("graft_test", "prop_part_tbl", path, partitionCols = Seq("part"))
      else TableConfig("graft_test", "prop_tbl", path)
    batches.foreach { batch =>
      if (batch.nonEmpty) {
        val ops =
          if (partitioned && !followPk) batch.toDF().withColumn("part", col("id") % 3) else batch.toDF()
        val deduped = CdcDedup.latestPerKey(ops, Seq("id"), "lsn")
        if (fused) {
          val changes = deduped.withColumns(Map("deleted" -> col("deleted").cast("string"))
            ++ (if (followPk) Map("part" -> col("id") % 3) else Map.empty))
          assert(!partitioned
            || MergeEngine.partitionsFollowPk(changes, cfg.partitionCols, Seq("id")) == followPk)
          MergeEngine(spark, cfg, changes, Seq("id"), "lsn", "deleted")
        } else {
          MergeEngine.upsert(spark, cfg, deduped.filter(!col("deleted")).drop("deleted"), Seq("id"), "lsn")
          MergeEngine.delete(spark, cfg, deduped.filter(col("deleted")), Seq("id"))
        }
      }
    }
    MergeEngine.readTable(spark, cfg.path) match {
      case None => Map.empty
      case Some(t) =>
        t.select("id", "name", "lsn").as[(Int, String, Long)].collect()
          .map { case (i, n, l) => i -> ((n, l)) }.toMap
    }
  }

  /** Changelogs whose deletes empty the table, which none of the seeded
    * random ones does: one ends emptied, one is refilled by a later batch.
    */
  private val emptying: Seq[Seq[Seq[Op]]] = {
    val filled = Seq(Op(1, "n1-1", false, 1L), Op(2, "n2-2", false, 2L))
    val emptied = Seq(Op(1, "n1-3", true, 3L), Op(2, "n2-4", true, 4L))
    Seq(Seq(filled, emptied), Seq(filled, emptied, Seq(Op(3, "n3-5", false, 5L))))
  }

  test("table-backed merge matches the reference model on random changelogs") {
    val rng = new Random(42)
    val random = Seq.fill(12) {
      Seq.fill(1 + rng.nextInt(4)) {
        Seq.fill(rng.nextInt(11)) {
          val id = 1 + rng.nextInt(8) // small key space -> collisions
          val lsn = 1L + rng.nextInt(40) // duplicate LSNs + replays likely
          val deleted = rng.nextInt(5) == 0
          Op(id, s"n$id-$lsn", deleted, lsn)
        }
      }
    }
    (emptying ++ random).zipWithIndex.foreach { case (batches, caseNo) =>
      val want = model(batches).map { case (k, op) => k -> ((op.name, op.lsn)) }
      Seq(false, true).foreach { partitioned =>
        val got = runEngine(batches, s"${tmpDir("merge-prop")}/t", fused = false, partitioned)
        assert(got == want,
          s"case $caseNo (partitioned=$partitioned) mismatch:\n batches=$batches\n got=$got\n want=$want")
      }
    }
  }

  test("fused mixed-batch merge matches the reference model on random changelogs") {
    val rng = new Random(7)
    val random = Seq.fill(12) {
      Seq.fill(1 + rng.nextInt(4)) {
        Seq.fill(rng.nextInt(11)) {
          val id = 1 + rng.nextInt(8)
          val lsn = 1L + rng.nextInt(40)
          val deleted = rng.nextInt(3) == 0 // delete-heavy: exercise the fused path
          Op(id, s"n$id-$lsn", deleted, lsn)
        }
      }
    }
    (emptying ++ random).zipWithIndex.foreach { case (batches, caseNo) =>
      val want = model(batches).map { case (k, op) => k -> ((op.name, op.lsn)) }
      Seq((false, false), (true, false), (true, true)).foreach { case (partitioned, followPk) =>
        val got = runEngine(batches, s"${tmpDir("merge-prop-fused")}/t", fused = true, partitioned, followPk)
        assert(got == want, s"fused case $caseNo (partitioned=$partitioned, followPk=$followPk) mismatch:" +
          s"\n batches=$batches\n got=$got\n want=$want")
      }
    }
  }
}
