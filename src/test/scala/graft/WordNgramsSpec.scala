package graft

import graft.functions.{TextFunctions, WordNgrams}

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.functions._

/** The native [[WordNgrams]] expression must mimic the original HOF
  * chain EXACTLY — same strings, same short-input collapse, same
  * null-element and null-array behavior — and stay inside whole-stage
  * codegen (the point of its existence).
  */
class WordNgramsSpec extends SparkSpec {
  import spark.implicits._

  /** The original interpreted HOF form of
    * [[TextFunctions.ngramsFromTokens]]: the differential reference for
    * the native expression's exact semantic mimicry.
    */
  private def ngramsFromTokensHof(toks: Column, n: Int): Column =
    when(
      size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** The original interpreted HOF form of
    * [[TextFunctions.charShingles]]: the differential reference.
    */
  private def charShinglesHof(text: Column, n: Int): Column = {
    val canon = regexp_replace(lower(trim(text)), "\\s+", " ")
    when(
      length(canon) < n,
      array(canon)
    ).otherwise(
      transform(sequence(lit(1), length(canon) - (n - 1)), i => canon.substr(i, lit(n))))
  }

  private val cases = Seq(
    "the quick brown fox jumps over the lazy dog",
    "one two three",
    "three grams here",   // exactly n for n=3
    "two words",          // shorter than n=3
    "single",
    "",                   // tokens("") -> [""]
    "  padded   whitespace   runs  ",
    "uniçode tökens żółć 中文 here"
  )

  test("native == HOF on every case, for n = 2, 3, 5") {
    for (n <- Seq(2, 3, 5)) {
      val df = cases.toDF("text")
        .select(TextFunctions.tokens(col("text")).as("toks"))
        .select(
          TextFunctions.ngramsFromTokens(col("toks"), n).as("native"),
          ngramsFromTokensHof(col("toks"), n).as("hof"))
      val rows = df.as[(Seq[String], Seq[String])].collect()
      rows.foreach { case (nat, hof) => assert(nat == hof, s"n=$n: $nat != $hof") }
    }
  }

  test("null array yields [\"\"] like the HOF; null elements skipped like concat_ws") {
    val df = spark.range(1)
      .select(
        when(col("id") < 0, array(lit("x"))).as("nullarr"),
        array(lit("a"), when(col("id") < 0, lit("x")), lit("b"), lit("c")).as("holes"))
      .select(
        TextFunctions.ngramsFromTokens(col("nullarr"), 3).as("n1"),
        ngramsFromTokensHof(col("nullarr"), 3).as("h1"),
        TextFunctions.ngramsFromTokens(col("holes"), 2).as("n2"),
        ngramsFromTokensHof(col("holes"), 2).as("h2"))
    val r = df.as[(Seq[String], Seq[String], Seq[String], Seq[String])].collect().head
    assert(r._1 == r._2 && r._1 == Seq(""))
    assert(r._3 == r._4, s"${r._3} != ${r._4}")
  }

  test("stays inside whole-stage codegen") {
    val df = spark.range(1)
      .select(array(concat(lit("a"), col("id")), concat(lit("b"), col("id")),
        concat(lit("c"), col("id"))).as("toks"))
      .select(TextFunctions.ngramsFromTokens(col("toks"), 2).as("g"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"projection not whole-stage-codegen'd:\n$plan")
    assert(df.as[Seq[String]].collect().head == Seq("a0 b0", "b0 c0"))
  }

  test("charShingles native == HOF, n = 3 and 5, unicode included") {
    for (n <- Seq(3, 5)) {
      val df = cases.toDF("text")
        .select(
          TextFunctions.charShingles(col("text"), n).as("native"),
          charShinglesHof(col("text"), n).as("hof"))
      df.as[(Seq[String], Seq[String])].collect()
        .foreach { case (nat, hof) => assert(nat == hof, s"n=$n: $nat != $hof") }
    }
    // null text stays null on both forms
    val r = spark.range(1)
      .select(when(col("id") < 0, lit("x")).as("t"))
      .select(TextFunctions.charShingles(col("t"), 3).as("a"),
        charShinglesHof(col("t"), 3).as("b"))
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("interpreted eval path agrees with codegen (Literal input)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val toks = Seq("a", "b", "c", "d")
    val interp = WordNgrams(Literal.create(toks, ArrayType(StringType)), 3)
      .eval(null).asInstanceOf[ArrayData]
      .toObjectArray(StringType).map(_.toString).toSeq
    assert(interp == Seq("a b c", "b c d"))
  }
}
