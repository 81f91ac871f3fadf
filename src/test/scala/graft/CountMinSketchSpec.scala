package graft

import graft.functions.CountMinSketch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class CountMinSketchSpec extends SparkSpec {
  import spark.implicits._

  private val d = 4
  private val w = 64

  // skewed synthetic stream: value i appears i+1 times, i = 0..19
  private lazy val stream = (0 until 20)
    .flatMap(i => Seq.fill(i + 1)(s"v$i"))
    .toDF("v")

  private def sketchOf(df: DataFrame): Seq[Long] =
    df.agg(CountMinSketch.sketch(col("v"), d, w)).head().getSeq[Long](0)

  private def estimates(df: DataFrame): Map[String, Long] = {
    val sk = df.agg(CountMinSketch.sketch(col("v"), d, w).as("sk"))
    (0 until 20).map(i => s"v$i").toDF("v")
      .crossJoin(broadcast(sk))
      .select(col("v"), CountMinSketch.estimate(col("sk"), col("v"), d, w).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("never underestimates; within the collision bound") {
    val est = estimates(stream)
    val n = stream.count()
    (0 until 20).foreach { i =>
      val exact = (i + 1).toLong
      assert(est(s"v$i") >= exact, s"v$i underestimated")
      assert(est(s"v$i") <= exact + 10L * n / w + 1, s"v$i over bound: ${est(s"v$i")}")
    }
  }

  test("deterministic under any physical layout (partial-merge associativity)") {
    assert(sketchOf(stream) == sketchOf(stream.repartition(13)))
    assert(sketchOf(stream.orderBy(col("v").desc)) == sketchOf(stream))
  }

  test("sketch of a union equals the elementwise sum of part sketches") {
    val a = sketchOf(stream.filter(xxhash64(col("v")) % 2 === 0))
    val b = sketchOf(stream.filter(xxhash64(col("v")) % 2 =!= 0))
    val whole = sketchOf(stream)
    assert(a.zip(b).map { case (x, y) => x + y } == whole)
  }

  test("total mass per row equals the non-null input count; nulls skipped") {
    val withNulls = stream.unionByName(
      Seq.fill(5)(null.asInstanceOf[String]).toDF("v"))
    val sk = sketchOf(withNulls)
    val n = stream.count()
    (0 until d).foreach { row =>
      assert(sk.slice(row * w, (row + 1) * w).sum == n,
        s"row $row must hold exactly one increment per non-null input")
    }
  }

  test("SQL surface: cm_sketch aggregates identically to the Column API") {
    GraftFunctions.registerAll(spark)
    stream.createOrReplaceTempView("cm_input")
    val viaSql = spark.sql(s"SELECT cm_sketch(v, $d, $w) FROM cm_input")
      .head().getSeq[Long](0)
    assert(viaSql == sketchOf(stream))
    spark.catalog.dropTempView("cm_input")
  }

  test("heavy-hitter selection by estimate is a superset of the exact hitters") {
    val t = 10L
    val sk = stream.agg(CountMinSketch.sketch(col("v"), d, w).as("sk"))
    val selected = stream.groupBy(col("v")).agg(count(lit(1)).as("exact_n"))
      .crossJoin(broadcast(sk))
      .select(col("v"), col("exact_n"),
        CountMinSketch.estimate(col("sk"), col("v"), d, w).as("est"))
      .collect()
    val exactHitters = selected.filter(_.getLong(1) >= t).map(_.getString(0)).toSet
    val candidates = selected.filter(_.getLong(2) >= t).map(_.getString(0)).toSet
    assert(exactHitters.subsetOf(candidates),
      "never-underestimate implies every true hitter is selected")
    val n = stream.count()
    selected.filter(_.getLong(2) >= t).foreach { r =>
      assert(r.getLong(1) >= t - (10L * n / w + 1),
        s"candidate ${r.getString(0)} too far below the threshold")
    }
  }

  test("wide sketch on few distincts is exact") {
    val few = Seq("a", "a", "b", "c", "c", "c").toDF("v")
    val sk = few.agg(CountMinSketch.sketch(col("v"), d, 4096).as("sk"))
    val est = Seq("a", "b", "c", "zzz").toDF("v")
      .crossJoin(broadcast(sk))
      .select(col("v"), CountMinSketch.estimate(col("sk"), col("v"), d, 4096).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("a" -> 2L, "b" -> 1L, "c" -> 3L, "zzz" -> 0L))
  }

  test("inner product never underestimates the exact join size; exact when wide") {
    val a = Seq("x", "x", "x", "y", "z").toDF("v")    // c: x3 y1 z1
    val b = Seq("x", "y", "y", "w").toDF("v")         // c: x1 y2 w1
    // exact join size = 3*1 + 1*2 = 5
    val ska = a.agg(CountMinSketch.sketch(col("v"), d, 4096).as("ska"))
    val skb = b.agg(CountMinSketch.sketch(col("v"), d, 4096).as("skb"))
    val est = ska.crossJoin(skb)
      .select(CountMinSketch
        .innerProductEstimate(col("ska"), col("skb"), d, 4096).as("e"))
      .head().getLong(0)
    assert(est == 5L, s"wide sketch should be exact, got $est")
    // self product bounds the self-join size from above
    val self = ska
      .select(CountMinSketch.innerProductEstimate(col("ska"), col("ska"), d, 4096))
      .head().getLong(0)
    assert(self == 9L + 1L + 1L) // 3^2 + 1 + 1, exact at this width
  }

  test("per event-time window: counters sum to the window's count; hitters clear it") {
    // minutes 0-5: alpha x3, beta x1; minutes 5-10: beta x2
    def ts(min: Int) = new Timestamp(1700000400000L + min * 60000L)
    val events = Seq(
      (ts(0), "alpha"), (ts(1), "alpha"), (ts(2), "beta"), (ts(3), "alpha"),
      (ts(6), "beta"), (ts(7), "beta")).toDF("ts", "v")
    val sketches = events
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(CountMinSketch.sketch(col("v"), d, w).as("sk"))
      .select(col("window.start").as("window_start"), col("sk"))
    val sums = sketches.as[(Timestamp, Seq[Long])].collect()
      .sortBy(_._1.getTime).map(_._2.sum).toSeq
    assert(sums == Seq(d.toLong * 4, d.toLong * 2))
    val est = sketches.crossJoin(Seq("alpha", "beta").toDF("v"))
      .select(col("window_start"), col("v"), CountMinSketch.estimate(col("sk"), col("v"), d, w))
      .as[(Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime - 1700000400000L) / 60000L -> r._2 -> r._3).toMap
    assert(est((0L, "alpha")) >= 3L && est((5L, "beta")) >= 2L)
  }
}
