package graft

import graft.functions.{TextFunctions => TF}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native LangIdExpression must agree bit-for-bit with the
  * built-ins HOF formulation it replaced, including tie-breaks, the
  * "und" fallback, unicode stopwords, and degenerate inputs.
  */
class LangIdSpec extends SparkSpec {
  import spark.implicits._

  /** Built-ins formulation of [[TF.langId]] (differential reference):
    * one interpreted `filter`/`array_contains` pass per language
    * profile; the best score's language, "und" when nothing matches.
    */
  private def langIdHof(text: Column): Column = {
    val toks = TF.tokens(text)
    val scored = TF.LangProfiles.toSeq.sortBy(_._1).map { case (langCode, words) =>
      val stops = array(words.map(lit): _*)
      struct(
        size(filter(toks, t => array_contains(stops, t))).as("score"),
        lit(langCode).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  private def bothForms(texts: Seq[String]): Seq[(String, String)] =
    texts.toDF("text")
      .select(TF.langId(col("text")).as("native"), langIdHof(col("text")).as("hof"))
      .as[(String, String)].collect().toSeq

  test("native expression agrees with the HOF form on adversarial inputs") {
    val texts = Seq(
      "the quick brown fox is on the hill with a friend", // clear en
      "der hund ist nicht auf der straße für den winter", // de + unicode ß/ü
      "le chat est dans la maison pour la nuit", // fr
      "el perro es un animal para la casa", // es
      "il gatto è un animale per la casa non con", // it + è
      "zzz qqq xxx", // no hits -> und
      "", // empty
      "   ", // whitespace only
      "the der le el il", // 5-way tie: greatest code wins
      "THE   The the\t\nthe", // case folding + mixed whitespace
      "de la", // fr/es overlap words
      "y e und") // single-hit ties across profiles
    bothForms(texts).zip(texts).foreach { case ((native, hof), t) =>
      assert(native == hof, s"divergence on '$t': native=$native hof=$hof")
    }
  }

  test("native expression agrees on the documents corpus") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val diff = docs
      .select(TF.langId(col("text")).as("a"), langIdHof(col("text")).as("b"))
      .filter(col("a") =!= col("b"))
      .count()
    assert(diff == 0L)
  }

  test("null text yields null") {
    val out = Seq(Option.empty[String], Option("the the the")).toDF("text")
      .select(TF.langId(col("text"))).as[Option[String]].collect().toSet
    assert(out == Set(None, Some("en")))
  }
}
