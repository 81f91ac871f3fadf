package graft

import graft.functions.HyperLogLog

import org.apache.spark.sql.functions._

import java.sql.Timestamp

class HllSketchSpec extends SparkSpec {

  import spark.implicits._

  private def estimateOf(df: org.apache.spark.sql.DataFrame): Double =
    df.agg(HyperLogLog.sketch(col("v")).as("sk"))
      .select(HyperLogLog.estimate(col("sk")).as("est"))
      .collect().head.getDouble(0)

  test("estimate within 10% at 10k / 50k distinct values") {
    for (n <- Seq(10000, 50000)) {
      val est = estimateOf(spark.range(n).select(concat(lit("v"), col("id")).as("v")))
      assert(math.abs(est / n - 1.0) < 0.10, s"n=$n est=$est")
    }
  }

  test("small cardinalities hit linear counting and land near-exact") {
    val est = estimateOf(spark.range(5).select(concat(lit("x"), col("id")).as("v")))
    assert(math.round(est) == 5, s"est=$est")
  }

  test("duplicates do not move the registers; nulls are skipped") {
    val distinct = spark.range(1000).select(concat(lit("d"), col("id")).as("v"))
    val duplicated = distinct.union(distinct).union(distinct)
    val withNulls = duplicated.union(
      spark.range(100).select(lit(null).cast("string").as("v")))
    val a = distinct.agg(HyperLogLog.sketch(col("v"))).collect().head.getSeq[Int](0)
    val b = withNulls.agg(HyperLogLog.sketch(col("v"))).collect().head.getSeq[Int](0)
    assert(a == b)
  }

  test("registers are partition- and order-invariant") {
    val df = spark.range(5000).select(concat(lit("p"), col("id")).as("v"))
    val a = df.repartition(13).agg(HyperLogLog.sketch(col("v"))).collect().head.getSeq[Int](0)
    val b = df.orderBy(col("v").desc).coalesce(1)
      .agg(HyperLogLog.sketch(col("v"))).collect().head.getSeq[Int](0)
    assert(a == b)
  }

  test("union of per-group sketches == whole-corpus sketch, register for register") {
    val df = spark.range(8000).select(
      (col("id") % 7).as("g"), concat(lit("u"), col("id")).as("v"))
    val whole = df.agg(HyperLogLog.sketch(col("v"))).collect().head.getSeq[Int](0)
    val unioned = df
      .groupBy(col("g")).agg(HyperLogLog.sketch(col("v")).as("sk"))
      .agg(aggregate(
        collect_list(col("sk")),
        array_repeat(lit(0), 1 << HyperLogLog.DefaultP),
        (acc, sk) => HyperLogLog.union(acc, sk)).as("u"))
      .collect().head.getSeq[Int](0)
    assert(whole == unioned)
    // and the union column helper agrees with the Scala-side fold
    val twoGroups = df.filter(col("g") < 2)
      .groupBy(col("g")).agg(HyperLogLog.sketch(col("v")).as("sk"))
      .orderBy("g").collect().map(_.getSeq[Int](1))
    val manual = twoGroups(0).zip(twoGroups(1)).map { case (x, y) => math.max(x, y) }
    val viaCol = df.filter(col("g") < 2)
      .groupBy(col("g")).agg(HyperLogLog.sketch(col("v")).as("sk"))
      .agg(collect_list(col("sk")).as("l"))
      .select(HyperLogLog.union(element_at(col("l"), 1), element_at(col("l"), 2)))
      .collect().head.getSeq[Int](0)
    assert(manual.toSeq == viaCol)
  }

  test("SQL registration: hll_sketch(value, p) resolves and estimates") {
    GraftFunctions.registerAll(spark)
    spark.range(2000).select(concat(lit("s"), col("id")).as("v"))
      .createOrReplaceTempView("hll_in")
    val regs = spark.sql(s"SELECT hll_sketch(v, ${HyperLogLog.DefaultP}) AS sk FROM hll_in")
    val est = regs.select(HyperLogLog.estimate(col("sk")).as("e"))
      .collect().head.getDouble(0)
    assert(math.abs(est / 2000.0 - 1.0) < 0.10, s"est=$est")
    spark.catalog.dropTempView("hll_in")
  }

  test("per event-time window: tiny cardinalities are exact under linear counting") {
    // minutes 0-5: users a, b, c with repeats; minutes 5-10: b, d
    def ts(min: Int) = new Timestamp(1700000400000L + min * 60000L)
    val events = Seq(
      (ts(0), "user_a"), (ts(1), "user_b"), (ts(2), "user_a"), (ts(3), "user_c"),
      (ts(4), "user_a"), (ts(6), "user_b"), (ts(7), "user_d"), (ts(8), "user_b"))
      .toDF("ts", "user")
    val byWindow = events
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(HyperLogLog.sketch(col("user")).as("registers"))
      .select(col("window.start"), HyperLogLog.estimate(col("registers")))
      .as[(Timestamp, Double)].collect().sortBy(_._1.getTime).map(r => math.round(r._2)).toSeq
    assert(byWindow == Seq(3L, 2L))
  }
}
