package graft

import graft.operators.AsOfJoin
import graft.plans.{AsOfJoinExec, PhysicalAsOf}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** The planner-tier as-of join ([[graft.plans.AsOfJoinNode]] →
  * [[AsOfJoinExec]]) must agree exactly with the compositional
  * union-window form on every semantic corner, and must exhibit the
  * planner properties that justify its existence: the physical node in
  * the executed plan, and key-partitioning reuse downstream.
  */
class PhysicalAsOfSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().toSeq
      .map(r => (0 until r.length).map(r.get))
      .sortBy(_.mkString("|"))
  }

  private def physicalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("physical asOf: basic backward semantics match the window form") {
    val left = Seq((1, 100L, "L1"), (1, 200L, "L2"), (2, 50L, "L3")).toDF("k", "ts", "lid")
    val right = Seq((1, 90L, "R1"), (1, 150L, "R2"), (1, 201L, "R3"), (3, 10L, "R4"))
      .toDF("k", "ts", "rid")
    val out = PhysicalAsOf.asOf(left, right, "k", "ts", "ts")
      .select("lid", "right_rid").as[(String, Option[String])].collect().toMap
    assert(out("L1").contains("R1") && out("L2").contains("R2") && out("L3").isEmpty)
  }

  test("physical asOf: equal ts matches; forward mode finds nearest later") {
    val left = Seq((1, 100L, "L1"), (1, 200L, "L2")).toDF("k", "ts", "lid")
    val right = Seq((1, 100L, "R1"), (1, 150L, "R2"), (1, 250L, "R3")).toDF("k", "ts", "rid")
    val back = PhysicalAsOf.asOf(left, right, "k", "ts", "ts")
      .select("lid", "right_rid").as[(String, Option[String])].collect().toMap
    assert(back("L1").contains("R1")) // ties visible backward
    val fwd = PhysicalAsOf.asOf(left, right, "k", "ts", "ts", forward = true)
      .select("lid", "right_rid").as[(String, Option[String])].collect().toMap
    assert(fwd("L1").contains("R1") && fwd("L2").contains("R3"))
  }

  test("physical asOf: null keys and null timestamps never match") {
    val left = Seq(
      (Option(1), Option(100L), "L1"),
      (Option.empty[Int], Option(100L), "Lnullk"),
      (Option(1), Option.empty[Long], "Lnullts")).toDF("k", "ts", "lid")
    val right = Seq(
      (Option(1), Option(90L), "R1"),
      (Option.empty[Int], Option(50L), "Rnullk"),
      (Option(1), Option.empty[Long], "Rnullts")).toDF("k", "ts", "rid")
    val out = PhysicalAsOf.asOf(left, right, "k", "ts", "ts")
      .select("lid", "right_rid").as[(String, Option[String])].collect().toMap
    assert(out("L1").contains("R1"))
    assert(out("Lnullk").isEmpty && out("Lnullts").isEmpty)
  }

  test("physical asOf: multi-column payload comes from the SAME right row") {
    val left = Seq((1, 100L, "L")).toDF("k", "ts", "lid")
    val right = Seq(
      (1, 50L, Option("x"), Option.empty[String]),
      (1, 90L, Option.empty[String], Option("y"))).toDF("k", "ts", "a", "b")
    val out = PhysicalAsOf.asOf(left, right, "k", "ts", "ts")
      .select("right_a", "right_b").as[(Option[String], Option[String])].collect().head
    assert(out == ((None, Some("y"))))
  }

  test("physical asOf: self-join (same source both sides) resolves") {
    val ev = Seq((1, 10L, "a", "E1"), (1, 20L, "b", "E2"), (1, 30L, "a", "E3"))
      .toDF("k", "ts", "kind", "eid")
    val out = PhysicalAsOf.asOf(
        ev.filter($"kind" === "b"), ev.filter($"kind" === "a"), "k", "ts", "ts")
      .select("eid", "right_eid").as[(String, Option[String])].collect().toMap
    assert(out("E2").contains("E1"))
  }

  test("physical asOf: differential vs union-window form on 4k random rows") {
    val rnd = new scala.util.Random(42)
    val left = Seq.tabulate(2000) { i =>
      (rnd.nextInt(50), rnd.nextInt(10000).toLong, s"L$i")
    }.toDF("k", "ts", "lid")
    // unique (k, ts) on the right so tie-breaking can't differ between forms
    val right = rnd.shuffle((0 until 2000).toList).zipWithIndex.map { case (t, i) =>
      (t % 50, (t / 50).toLong * 7, s"R$i")
    }.distinct.toDF("k", "ts", "rid")
    for (fwd <- Seq(false, true)) {
      val a = sortedRows(PhysicalAsOf.asOf(left, right, "k", "ts", "ts", forward = fwd))
      val b = sortedRows(AsOfJoin.asOf(left, right, "k", "ts", "ts", forward = fwd))
      assert(a == b, s"forward=$fwd mismatch")
    }
  }

  test("physical asOf: pre-partitioned inputs add NO join exchange") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val left = Seq((1, 100L, "L1"), (2, 50L, "L2")).toDF("k", "ts", "lid").repartition(col("k"))
      val right = Seq((1, 90L, "R1")).toDF("k", "ts", "tag").repartition(col("k"))
      val out = PhysicalAsOf.asOf(left, right, "k", "ts", "ts")
      out.collect()
      val shuffles = physicalPlan(out).collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }
      // only the two explicit repartitions — the join itself declares
      // its distribution as satisfied and inserts none
      assert(shuffles.size == 2, s"join added exchanges:\n${physicalPlan(out)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("GraftExtensions injects the strategy and the SQL functions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    import org.apache.spark.sql.GraftPlanShim
    assert(GraftPlanShim.buildStrategies(ext, spark).contains(graft.plans.AsOfJoinStrategy))
    val registry = GraftPlanShim.registerFunctions(
      ext, org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone())
    val names = graft.GraftFunctions.builders.map(_._1)
    assert(names.size == 25 && names.distinct == names)
    names.foreach { n =>
      assert(registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)), n)
    }
  }

  test("physical asOf: plan contains AsOfJoinExec and reuses key partitioning") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val left = Seq((1, 100L, 5.0), (1, 200L, 6.0), (2, 50L, 7.0)).toDF("k", "ts", "v")
      val right = Seq((1, 90L, "x")).toDF("k", "ts", "tag")
      // as-of then aggregate on the SAME key: the exec node advertises
      // left partitioning, so the groupBy must add no third exchange.
      val agg = PhysicalAsOf.asOf(left, right, "k", "ts", "ts")
        .groupBy("k").agg(sum("v").as("sv"))
      agg.collect()
      val plan = physicalPlan(agg)
      assert(plan.collectFirst { case e: AsOfJoinExec => e }.isDefined,
        s"AsOfJoinExec missing from:\n$plan")
      val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.size == 2, s"expected 2 exchanges (join inputs only), got:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
