package graft

import graft.functions.VectorFunctions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native [[graft.functions.DecimalCosine]] must agree BIT FOR BIT
  * with the interpreted zip_with/aggregate composition it replaced —
  * every oracle-gated exact-cosine query hangs off that identity.
  */
class DecimalCosineSpec extends SparkSpec {
  import spark.implicits._

  /** The interpreted HOF form of [[VectorFunctions.cosineDecimal]]
    * (differential reference).
    */
  private def cosineDecimalHof(a: Column, b: Column): Column =
    VectorFunctions.dotDecimal(a, b).cast("double") /
      (sqrt(VectorFunctions.dotDecimal(a, a).cast("double")) *
        sqrt(VectorFunctions.dotDecimal(b, b).cast("double")))

  test("native == HOF bit identity over float-array pairs") {
    val df = (0 until 200).map { i =>
      val a = (0 until 16).map(j => ((i * 31 + j * 17) % 97 - 48) / 7.0f)
      val b = (0 until 16).map(j => ((i * 13 + j * 23) % 89 - 44) / 5.0f)
      (i.toLong, a, b)
    }.toDF("id", "a", "b")
    val got = df.select(
      VectorFunctions.cosineDecimal(col("a"), col("b")).as("n"),
      cosineDecimalHof(col("a"), col("b")).as("h"))
      .as[(Double, Double)].collect()
    got.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n)
        == java.lang.Double.doubleToRawLongBits(h), s"native $n != hof $h")
    }
  }

  test("native == HOF on double arrays and self-cosine") {
    val df = Seq((Seq(0.1, -2.5, 3.375), Seq(0.1, -2.5, 3.375)))
      .toDF("a", "b")
    val row = df.select(
      VectorFunctions.cosineDecimal(col("a"), col("b")).as("n"),
      cosineDecimalHof(col("a"), col("b")).as("h")).head()
    assert(row.getDouble(0) == row.getDouble(1))
    assert(row.getDouble(0) == 1.0) // exact decimal self-cosine is exactly 1
  }

  test("null semantics match the HOF: null array, null element, length skew") {
    val df = Seq(
      (Option(Seq(Option(1.0f), Option(2.0f))), Option.empty[Seq[Option[Float]]]),
      (Option(Seq(Option(1.0f), Option.empty[Float])), Option(Seq(Option(1.0f), Option(2.0f)))),
      (Option(Seq(Option(1.0f))), Option(Seq(Option(1.0f), Option(2.0f)))))
      .toDF("a", "b")
    val got = df.select(
      VectorFunctions.cosineDecimal(col("a"), col("b")).as("n"),
      cosineDecimalHof(col("a"), col("b")).as("h"))
      .collect()
    got.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1), s"got $r") }
  }

  test("codegen'd stage, bit-identical to interpreted eval") {
    val idF = col("id").cast("float")
    val df = spark.range(1)
      .select(
        array(idF + lit(0.25f), idF - lit(1.5f), idF + lit(2.75f)).as("a"),
        array(idF - lit(0.125f), idF + lit(0.5f), idF - lit(3.0f)).as("b"))
      .select(VectorFunctions.cosineDecimal(col("a"), col("b")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"projection not whole-stage-codegen'd:\n$plan")
    val fromCodegen = df.head().getDouble(0)
    val a = Seq(0.25f, -1.5f, 2.75f)
    val b = Seq(-0.125f, 0.5f, -3.0f)
    val interpreted = Seq((a, b)).toDF("a", "b")
      .select(cosineDecimalHof(col("a"), col("b"))).head().getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(fromCodegen)
      == java.lang.Double.doubleToRawLongBits(interpreted))
  }

  test("zero-norm input throws on both paths (ANSI divide-by-zero)") {
    val df = Seq((Seq.empty[Float], Seq.empty[Float])).toDF("a", "b")
    val n = intercept[Exception] {
      df.select(VectorFunctions.cosineDecimal(col("a"), col("b"))).head()
    }
    val h = intercept[Exception] {
      df.select(cosineDecimalHof(col("a"), col("b"))).head()
    }
    assert(n.toString.contains("DIVIDE_BY_ZERO"), s"native threw $n")
    assert(h.toString.contains("DIVIDE_BY_ZERO"), s"hof threw $h")
  }
}
