package graft

import graft.avro.{AvroDecode, AvroEncode}
import graft.functions.{DeterministicSample, HashedLinearScore, HyperplaneSignature, InterleaveBits, LangIdExpression, MinHashSignature, TextFunctions}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-surface registration (reference U3 parity: the reference
  * registers its UDFs for SQL callers, stream_test.py:128-131). Unlike
  * the reference's Python UDFs these resolve to native, codegen'd
  * Catalyst expressions — zero serialization overhead for SQL users.
  *
  * After `GraftFunctions.registerAll(spark)`:
  * {{{
  *   SELECT get_schema_id(value),
  *          avro_decode(get_confluent_avro_value(value), '<schema json>').*
  *   FROM kafka_batch
  * }}}
  */
object GraftFunctions {

  /** Every graft SQL function, by name: the one table that both
    * [[registerAll]] and the `spark.sql.extensions` registration
    * ([[graft.plans.GraftExtensions]]) install.
    */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("get_schema_id", exprs => schemaIdExpr(exprs.head)),
    ("get_confluent_avro_value", exprs => payloadExpr(exprs.head)),
    ("avro_decode", exprs =>
      AvroDecode(exprs.head, constantString(exprs(1), "avro_decode(_, schemaJson)"), failFast = true)),
    ("avro_encode", exprs =>
      AvroEncode(exprs.head, constantString(exprs(1), "avro_encode(_, schemaJson)"))),
    ("deterministic_sample", exprs =>
      DeterministicSample(exprs.head, constantInt(exprs(1), "deterministic_sample(_, k)"))),
    ("lang_id", exprs => LangIdExpression(exprs.head, TextFunctions.LangProfiles)),
    // raw catalyst tree (the Column API's lazy ColumnNodes don't
    // resolve through the registry path), same regexes as the
    // Column-level TextFunctions.scrubPii
    ("scrub_pii", exprs => RegExpReplace(
      RegExpReplace(exprs.head, Literal(TextFunctions.EmailRe), Literal("<EMAIL>")),
      Literal(TextFunctions.PhoneRe), Literal("<PHONE>"))),
    ("interleave_bits", exprs => InterleaveBits(exprs)),
    ("hyperplane_signature", exprs => HyperplaneSignature(
      exprs.head,
      constantInt(exprs(1), "hyperplane_signature(_, bits, seed)"),
      constantInt(exprs(2), "hyperplane_signature(_, bits, seed)"))),
    ("minhash_signature", exprs => MinHashSignature(
      exprs.head,
      constantInt(exprs(1), "minhash_signature(_, numHashes)"))),
    ("hashed_linear_score", exprs => HashedLinearScore(
      exprs.head,
      graft.operators.QualityClassifier.NumBuckets,
      graft.operators.QualityClassifier.A,
      graft.operators.QualityClassifier.C,
      graft.operators.QualityClassifier.M)),
    ("array_hit_count", exprs => graft.functions.ArrayHitCount(
      exprs.head,
      constantStringArray(exprs(1), "array_hit_count(_, array('a','b',...))"))),
    // named cm_sketch: count_min_sketch is taken by Spark's built-in
    // (eps/confidence/seed geometry, non-deterministic layout)
    ("cm_sketch", exprs => graft.functions.CountMinSketchAgg(
      exprs.head,
      constantInt(exprs(1), "cm_sketch(_, depth, width)"),
      constantInt(exprs(2), "cm_sketch(_, depth, width)"))),
    ("hll_sketch", exprs => graft.functions.HyperLogLogAgg(
      exprs.head,
      constantInt(exprs(1), "hll_sketch(_, p)"))),
    ("sign_bits", exprs => graft.functions.SignBits(exprs.head)),
    ("hamming_words", exprs => graft.functions.HammingWords(exprs.head, exprs(1))),
    ("normalize_text", exprs => graft.functions.NormalizeText(
      exprs.head, constantString(exprs(1), "normalize_text(_, form)"))),
    ("bloom_agg", exprs => graft.functions.BloomFilterAgg(
      exprs.head,
      constantInt(exprs(1), "bloom_agg(_, numBits, numHashes)"),
      constantInt(exprs(2), "bloom_agg(_, numBits, numHashes)"))),
    ("bloom_contains", exprs => graft.functions.BloomContains(
      exprs.head, exprs(1),
      constantInt(exprs(2), "bloom_contains(words, v, numBits, numHashes)"),
      constantInt(exprs(3), "bloom_contains(words, v, numBits, numHashes)"))),
    ("multi_pattern_count", exprs => graft.functions.MultiPatternCount(
      exprs.head,
      constantStringArray(exprs(1), "multi_pattern_count(_, array('a','b'))"))),
    ("scrub_lines", exprs => graft.functions.ScrubLines(
      exprs.head,
      constantStringArray(exprs(1), "scrub_lines(_, array('l1'), sep)"),
      constantString(exprs(2), "scrub_lines(_, lines, sep)"))),
    ("hist_sketch", exprs => graft.functions.HistogramSketchAgg(
      exprs.head,
      constantInt(exprs(1), "hist_sketch(_, numBuckets, lo, hi)"),
      constantDouble(exprs(2), "hist_sketch(_, numBuckets, lo, hi)"),
      constantDouble(exprs(3), "hist_sketch(_, numBuckets, lo, hi)"))),
    ("word_ngrams", exprs => graft.functions.WordNgrams(
      exprs.head, constantInt(exprs(1), "word_ngrams(toks, n)"))),
    ("char_shingles", exprs => graft.functions.CharShinglesExpr(
      exprs.head, constantInt(exprs(1), "char_shingles(canon, n)"))),
    ("decimal_cosine", exprs => graft.functions.DecimalCosine(exprs.head, exprs(1)))
  )

  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, build) =>
      registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }

  /** Confluent schema id: bytes [1,5) big-endian -> int (same tree as
    * [[graft.functions.ConfluentWire.schemaId]], in raw expression form
    * for the registry).
    */
  private def schemaIdExpr(e: Expression): Expression =
    Cast(
      Cast(Conv(Hex(Substring(e, Literal(2), Literal(4))), Literal(16), Literal(10)), LongType),
      IntegerType)

  /** Avro payload: bytes [5,..), null -> empty bytes. */
  private def payloadExpr(e: Expression): Expression =
    Coalesce(Seq(
      Substring(e, Literal(6), Greatest(Seq(Subtract(Length(e), Literal(5)), Literal(0)))),
      Literal(Array.empty[Byte])))

  private def constantInt(e: Expression, ctx: String): Int = e match {
    case other if other.foldable => other.eval(null).asInstanceOf[Number].intValue()
    case _ => throw new IllegalArgumentException(s"$ctx requires a constant integer argument")
  }

  private def constantDouble(e: Expression, ctx: String): Double = e match {
    // SQL decimal literals (e.g. `0.0`) fold to Catalyst Decimal, not
    // a java.lang.Number
    case other if other.foldable => other.eval(null) match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case v => throw new IllegalArgumentException(s"$ctx requires a constant numeric argument, got $v")
    }
    case _ => throw new IllegalArgumentException(s"$ctx requires a constant numeric argument")
  }

  private def constantString(e: Expression, ctx: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other if other.foldable => String.valueOf(other.eval(null))
    case _ => throw new IllegalArgumentException(s"$ctx requires a constant string schema argument")
  }

  /** A constant array<string> argument (e.g. `array('a','b')`),
    * evaluated once at registration so the needle set is hashed once
    * per executor inside the expression, never per row.
    */
  private def constantStringArray(e: Expression, ctx: String): Seq[String] = e match {
    case other if other.foldable =>
      // a foldable NULL (e.g. CAST(NULL AS ARRAY<STRING>)) evals to
      // null — same analysis-time error as a non-constant argument,
      // not an NPE
      other.eval(null) match {
        case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
          (0 until arr.numElements()).map(i =>
            if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString)
        case _ =>
          throw new IllegalArgumentException(s"$ctx requires a constant array argument")
      }
    case _ => throw new IllegalArgumentException(s"$ctx requires a constant array argument")
  }
}
