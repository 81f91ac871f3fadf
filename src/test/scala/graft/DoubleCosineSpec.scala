package graft

import graft.functions.{VectorFunctions => VF}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native [[graft.functions.DoubleCosine]] must agree BIT FOR BIT
  * with the interpreted zip_with/aggregate composition it replaced —
  * brute-force top-k and IVF assignment hang off that identity.
  */
class DoubleCosineSpec extends SparkSpec {
  import spark.implicits._

  /** The interpreted HOF form of [[VF.cosine]] (differential reference). */
  private def cosineHof(a: Column, b: Column): Column =
    VF.dot(a, b) / (VF.l2Norm(a) * VF.l2Norm(b))

  test("native == HOF bit identity over float and double arrays") {
    val dfF = (0 until 300).map { i =>
      val a = (0 until 24).map(j => ((i * 31 + j * 17) % 97 - 48) / 7.0f)
      val b = (0 until 24).map(j => ((i * 13 + j * 23) % 89 - 44) / 5.0f)
      (i.toLong, a, b)
    }.toDF("id", "a", "b")
    val gotF = dfF.select(
      VF.cosine(col("a"), col("b")).as("n"),
      cosineHof(col("a"), col("b")).as("h"))
      .as[(Double, Double)].collect()
    gotF.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n)
        == java.lang.Double.doubleToRawLongBits(h), s"float: native $n != hof $h")
    }
    val dfD = (0 until 100).map { i =>
      val a = (0 until 9).map(j => ((i * 7 + j) % 13 - 6) / 3.0)
      val b = (0 until 9).map(j => ((i * 5 + j) % 11 - 5) / 2.0)
      (i.toLong, a, b)
    }.toDF("id", "a", "b")
    val gotD = dfD.select(
      VF.cosine(col("a"), col("b")).as("n"),
      cosineHof(col("a"), col("b")).as("h"))
      .as[(Double, Double)].collect()
    gotD.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n)
        == java.lang.Double.doubleToRawLongBits(h), s"double: native $n != hof $h")
    }
  }

  test("zero-norm vectors throw ANSI division-by-zero on both paths") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
    val exN = intercept[Exception] {
      df.select(VF.cosine(col("a"), col("b"))).collect()
    }
    val exH = intercept[Exception] {
      df.select(cosineHof(col("a"), col("b"))).collect()
    }
    assert(exN.getMessage.contains("DIVIDE_BY_ZERO"), exN.getMessage)
    assert(exH.getMessage.contains("DIVIDE_BY_ZERO"), exH.getMessage)
  }

  test("null semantics match the HOF: null array, null element, length skew") {
    val df = Seq(
      (Some(Seq[Option[Float]](Some(1f), Some(2f))), None: Option[Seq[Option[Float]]]),
      (Some(Seq[Option[Float]](Some(1f), None)), Some(Seq[Option[Float]](Some(1f), Some(2f)))),
      (Some(Seq[Option[Float]](Some(1f), Some(2f), Some(3f))),
        Some(Seq[Option[Float]](Some(1f), Some(2f)))))
      .toDF("a", "b")
    val got = df.select(
      VF.cosine(col("a"), col("b")).as("n"),
      cosineHof(col("a"), col("b")).as("h")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null semantics diverged: ${r.isNullAt(0)} vs ${r.isNullAt(1)}")
      assert(r.isNullAt(0), "expected null for the poisoned case")
    }
  }

  test("the native expression participates in whole-stage codegen") {
    val df = spark.range(50)
      .select(array(lit(1.0f), lit(2.0f), (col("id") + 1L).cast("float")).as("v"))
    val exec = df.select(VF.cosine(col("v"), col("v")).as("c"))
      .queryExecution.executedPlan
    val fused = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(fused.nonEmpty, s"ejected from codegen:\n$exec")
  }
}
