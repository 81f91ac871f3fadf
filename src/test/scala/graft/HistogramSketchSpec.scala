package graft

import graft.functions.HistogramSketch

import org.apache.spark.sql.functions._

import java.sql.Timestamp

class HistogramSketchSpec extends SparkSpec {

  import spark.implicits._

  private val NB = 10
  private val Lo = 0.0
  private val Hi = 100.0

  test("bucket placement: underflow, in-range, boundary, overflow, null") {
    val df = Seq[(java.lang.Double)](-5.0, 0.0, 9.99, 10.0, 99.99, 100.0, 250.0, null)
      .toDF("v")
    val counts = df.agg(HistogramSketch.sketch(col("v"), NB, Lo, Hi))
      .collect().head.getSeq[Long](0)
    assert(counts.length == NB + 2)
    assert(counts(0) == 1L)        // -5 underflows
    assert(counts(1) == 2L)        // 0.0 and 9.99 in bucket 0
    assert(counts(2) == 1L)        // 10.0 in bucket 1
    assert(counts(10) == 1L)       // 99.99 in the last bucket
    assert(counts(11) == 2L)       // 100.0 and 250 overflow (hi exclusive)
    assert(counts.sum == 7L)       // null skipped
  }

  test("uniform 0..99: exact hand-computed quantile reads") {
    val df = spark.range(100).select(col("id").cast("double").as("v"))
    val sk = df.agg(HistogramSketch.sketch(col("v"), NB, Lo, Hi).as("sk"))
    val reads = sk.select(
      HistogramSketch.quantile(col("sk"), 0.5, NB, Lo, Hi).as("q50"),
      HistogramSketch.quantile(col("sk"), 0.05, NB, Lo, Hi).as("q05"),
      HistogramSketch.quantile(col("sk"), 1.0, NB, Lo, Hi).as("q100"))
      .collect().head
    // rank 50 lands in bucket [40,50) -> midpoint 45
    assert(reads.getDouble(0) == 45.0)
    // rank 5 lands in bucket [0,10) -> midpoint 5
    assert(reads.getDouble(1) == 5.0)
    // rank 100 lands in bucket [90,100) -> midpoint 95
    assert(reads.getDouble(2) == 95.0)
  }

  test("quantile clamps to lo/hi when the mass sits out of range") {
    val under = Seq(-1.0, -2.0, -3.0).toDF("v")
      .agg(HistogramSketch.sketch(col("v"), NB, Lo, Hi).as("sk"))
      .select(HistogramSketch.quantile(col("sk"), 0.5, NB, Lo, Hi))
      .collect().head.getDouble(0)
    assert(under == Lo)
    val over = Seq(500.0, 600.0).toDF("v")
      .agg(HistogramSketch.sketch(col("v"), NB, Lo, Hi).as("sk"))
      .select(HistogramSketch.quantile(col("sk"), 0.9, NB, Lo, Hi))
      .collect().head.getDouble(0)
    assert(over == Hi)
  }

  test("counters merge by vector add and are partition/order-invariant") {
    val df = spark.range(5000)
      .select(((col("id") * 37) % 100).cast("double").as("v"), (col("id") % 4).as("g"))
    val whole = df.agg(HistogramSketch.sketch(col("v"), NB, Lo, Hi))
      .collect().head.getSeq[Long](0)
    val repart = df.repartition(13).agg(HistogramSketch.sketch(col("v"), NB, Lo, Hi))
      .collect().head.getSeq[Long](0)
    assert(whole == repart)
    val grouped = df.groupBy(col("g"))
      .agg(HistogramSketch.sketch(col("v"), NB, Lo, Hi).as("sk"))
      .agg(aggregate(
        collect_list(col("sk")),
        array_repeat(lit(0L), NB + 2),
        (acc, sk) => zip_with(acc, sk, (a, b) => a + b)).as("u"))
      .collect().head.getSeq[Long](0)
    assert(whole == grouped)
  }

  test("quantile read tracks the exact percentile within a bucket width") {
    val df = spark.range(10000)
      .select((pmod(col("id") * 2654435761L, lit(977L))).cast("double").as("v"))
    val nb = 100
    val sk = df.agg(
      HistogramSketch.sketch(col("v"), nb, 0.0, 1000.0).as("sk"),
      expr("percentile(v, 0.5)").as("e50"),
      expr("percentile(v, 0.95)").as("e95"))
    val row = sk.select(
      HistogramSketch.quantile(col("sk"), 0.5, nb, 0.0, 1000.0).as("q50"),
      col("e50"),
      HistogramSketch.quantile(col("sk"), 0.95, nb, 0.0, 1000.0).as("q95"),
      col("e95")).collect().head
    assert(math.abs(row.getDouble(0) - row.getDouble(1)) <= 10.0)
    assert(math.abs(row.getDouble(2) - row.getDouble(3)) <= 10.0)
  }

  test("per event-time window: counters and quantile reads per window") {
    def ts(min: Int) = new Timestamp(1700000400000L + min * 60000L)
    val events = Seq(
      (ts(0), 12.0), (ts(1), 47.0), (ts(2), 12.5), (ts(3), 88.0),
      (ts(6), 5.0), (ts(7), 95.0), (ts(8), 55.0)).toDF("ts", "v")
    val got = events
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(HistogramSketch.sketch(col("v"), NB, Lo, Hi).as("counters"))
      .select(col("window.start"), col("counters"),
        HistogramSketch.quantile(col("counters"), 0.5, NB, Lo, Hi))
      .as[(Timestamp, Seq[Long], Double)].collect().sortBy(_._1.getTime).toSeq
    assert(got.map(_._2.sum) == Seq(4L, 3L))
    // window 1 holds 12, 12.5, 47, 88 -> median read = bucket [10,20) midpoint
    assert(got.head._3 == 15.0)
  }
}
