package graft

import graft.functions.{VectorFunctions => VF}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native [[graft.functions.QuantizedCosine]] must agree BIT FOR
  * BIT with the interpreted zip_with/aggregate composition it replaced
  * — the quantized prefilter gates hang off that identity.
  */
class QuantizedCosineSpec extends SparkSpec {
  import spark.implicits._

  /** The interpreted HOF form of [[VF.cosineQuantized]] (differential
    * reference).
    */
  private def cosineQuantizedHof(qa: Column, qb: Column): Column =
    VF.intDot(qa, qb).cast("double") /
      (sqrt(VF.intDot(qa, qa).cast("double")) * sqrt(VF.intDot(qb, qb).cast("double")))

  test("native == HOF bit identity over int8-range code pairs") {
    val df = (0 until 300).map { i =>
      val a = (0 until 24).map(j => (((i * 31 + j * 17) % 255) - 127).toLong)
      val b = (0 until 24).map(j => (((i * 13 + j * 23) % 255) - 127).toLong)
      (i.toLong, a, b)
    }.toDF("id", "a", "b")
    val got = df.select(
      VF.cosineQuantized(col("a"), col("b")).as("n"),
      cosineQuantizedHof(col("a"), col("b")).as("h"))
      .as[(Double, Double)].collect()
    got.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n)
        == java.lang.Double.doubleToRawLongBits(h), s"native $n != hof $h")
    }
  }

  test("end to end: quantize -> native cosine == quantize -> HOF cosine") {
    val df = (0 until 100).map { i =>
      val v = (0 until 16).map(j => ((i * 7 + j * 3) % 41 - 20) / 9.0f)
      (i.toLong, v)
    }.toDF("id", "v")
    val q = df.select(col("id"),
      VF.quantizeInt8(col("v"), VF.quantizeScale(col("v"))).as("q"))
    val self = q.crossJoin(q.select(col("q").as("q2")).limit(1))
      .select(
        VF.cosineQuantized(col("q"), col("q2")).as("n"),
        cosineQuantizedHof(col("q"), col("q2")).as("h"))
      .as[(Double, Double)].collect()
    self.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n)
        == java.lang.Double.doubleToRawLongBits(h))
    }
  }

  test("all-zero vectors throw ANSI division-by-zero on both paths") {
    val df = Seq((Seq(0L, 0L, 0L), Seq(1L, 2L, 3L))).toDF("a", "b")
    val exN = intercept[Exception] {
      df.select(VF.cosineQuantized(col("a"), col("b"))).collect()
    }
    val exH = intercept[Exception] {
      df.select(cosineQuantizedHof(col("a"), col("b"))).collect()
    }
    assert(exN.getMessage.contains("DIVIDE_BY_ZERO"), exN.getMessage)
    assert(exH.getMessage.contains("DIVIDE_BY_ZERO"), exH.getMessage)
  }

  test("null semantics match the HOF: null array, null element, length skew") {
    val df = Seq(
      (Some(Seq(Some(1L), Some(2L))), None: Option[Seq[Option[Long]]]),
      (Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(2L)))),
      (Some(Seq(Some(1L), Some(2L), Some(3L))), Some(Seq(Some(1L), Some(2L)))))
      .toDF("a", "b")
    val got = df.select(
      VF.cosineQuantized(col("a"), col("b")).as("n"),
      cosineQuantizedHof(col("a"), col("b")).as("h")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null semantics diverged: ${r.isNullAt(0)} vs ${r.isNullAt(1)}")
      assert(r.isNullAt(0), "expected null for the poisoned case")
    }
  }

  test("the native expression participates in whole-stage codegen") {
    // spark.range input: a LocalRelation would be constant-folded away
    val df = spark.range(50)
      .select(array(lit(1L), lit(2L), col("id") + 1L).as("v"))
    val exec = df.select(VF.cosineQuantized(col("v"), col("v")).as("c"))
      .queryExecution.executedPlan
    val fused = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(fused.nonEmpty, s"ejected from codegen:\n$exec")
  }
}
