package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{LocalLimitExec, GlobalLimitExec}

/** Unit guards for [[PlanAudit]]'s acceptance rules — the audit is a
  * standing gate, so its own blind spots are regression-tested:
  * a bare LocalLimit must NOT count as a global row bound (it caps
  * rows per partition), checkpoint-truncated plans must surface as
  * opaque instead of vacuously clean, cached plans must be audited
  * THROUGH the cache leaf, and a deliberate prune regression
  * (`year(col) = 1996`) must flip the prune verdict.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("boundedRows: bare LocalLimit is per-partition — not a bound; global limits are") {
    val child = spark.range(1000).repartition(8)
      .queryExecution.executedPlan
    assert(PlanAudit.boundedRows(LocalLimitExec(5, child)).isEmpty,
      "a bare LocalLimit over P partitions can emit 5*P rows")
    assert(PlanAudit.boundedRows(GlobalLimitExec(5, LocalLimitExec(5, child)))
      .contains(5L))
    val take = (1L to 100L).toDF("v").orderBy(col("v")).limit(7)
      .queryExecution.executedPlan
    // orderBy+limit plans as TakeOrderedAndProject — also a global bound
    assert(PlanAudit.boundedRows(take).exists(_ <= 7L), s"plan:\n$take")
  }

  test("a localCheckpoint-truncated plan audits as opaque, not clean") {
    val d = (1L to 50L).toDF("v").localCheckpoint(true)
    val a = PlanAudit.auditPlan("x", d.queryExecution.executedPlan)
    assert(a.opaque && a.rddScans > 0)
  }

  test("the audit walks THROUGH a cache leaf into the cached plan") {
    val d = (1L to 100L).map(i => (i % 5, i)).toDF("k", "v")
      .groupBy("k").agg(sum(col("v")).as("s")).persist()
    d.count()
    try {
      val a = PlanAudit.auditPlan("x", d.queryExecution.executedPlan)
      // the shuffle lives INSIDE the InMemoryRelation's cached plan —
      // invisible without the recursion
      assert(a.exchanges >= 1, s"cached plan not audited: $a")
    } finally d.unpersist()
  }

  test("q41's prune expectations hold on the real plan and FAIL on a year(col) regression") {
    val expects = PlanAudit.PrunedScans("q41_region_revenue")
    val good = SparkEntry.queries("q41_region_revenue")(spark, sf)
      .queryExecution.executedPlan
    assert(PlanAudit.checkPrunes(good, expects).isEmpty,
      s"evidence:\n${PlanAudit.scanEvidence(good)}")
    // the regression the expectation exists to catch: same rows, but
    // year() over the column never reaches PushedFilters — no
    // row-group skipping at 100 TB
    val regressed = spark.read.parquet(s"$sf/orders.parquet")
      .filter(year(col("o_orderdate")) === 1996)
      .queryExecution.executedPlan
    assert(PlanAudit.checkPrunes(regressed, expects).size == expects.size,
      s"evidence:\n${PlanAudit.scanEvidence(regressed)}")
  }

  test("store-probe partition prunes match their expectations' regex form") {
    // a tiny partitioned layout probed with isin — the same INSET/IN
    // PartitionFilters form the persisted-store expectations key on
    val dir = tmpDir("graft-audit-prune")
    (1L to 40L).map(i => (i % 8, i)).toDF("__bp", "v")
      .write.mode("overwrite").partitionBy("__bp").parquet(dir)
    val probe = spark.read.parquet(dir).filter(col("__bp").isin(1L, 3L, 5L))
    val ev = PlanAudit.scanEvidence(probe.queryExecution.executedPlan)
    assert("""PartitionFilters: \[__bp[#\d]* IN""".r.findFirstIn(ev).isDefined,
      s"evidence:\n$ev")
  }
}
