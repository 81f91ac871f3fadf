package graft

import graft.operators.UnigramLm

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer: hand-computed EM fixpoint on a tiny corpus
  * (seed substring counts, two hard-EM rounds, char floor, multi-piece
  * prune), exact quantized log-probs, Viterbi tie-breaks, and the
  * stateless streaming segment path.
  */
class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  // wt: ab:1 abab:3 abcd:1 cd:2  (11 corpus tokens, all <= 4 chars)
  private def corpus = Seq(
    (1L, "abab ab cd abcd"),
    (2L, "abab abab cd")).toDF("doc_id", "text")

  test("train reaches the hand-computed EM fixpoint with exact quantized lps") {
    val v = UnigramLm.train(corpus, "text", maxPieceLen = 3, topMulti = 4, emIters = 2)
    val got = v.pieces.sortBy(p => (-p._2, p._1))
    // EM concentrates all multi-piece mass on "ab" (8 uses: abab x3 -> 2
    // each, ab -> 1, abcd -> 1); c/d keep 3 each (cd x2 + abcd); a/b
    // drop to zero and are floored at 1. total = 16.
    def lp(n: Long) = math.floor(1e6 * math.log(n.toDouble / 16.0)).toLong
    assert(got == Seq(
      ("ab", 8L, lp(8)), ("c", 3L, lp(3)), ("d", 3L, lp(3)),
      ("a", 1L, lp(1)), ("b", 1L, lp(1))))
    assert(lp(8) == -693148L && lp(3) == -1673977L && lp(1) == -2772589L)
  }

  test("viterbi segmentation picks max-probability pieces; ties go to the longest piece") {
    val v = UnigramLm.train(corpus, "text", maxPieceLen = 3, topMulti = 4, emIters = 2)
    val segs = corpus
      .select(col("doc_id"), UnigramLm.segment(col("text"), v).as("ps"))
      .orderBy(col("doc_id"))
      .as[(Long, Seq[Seq[String]])].collect().toSeq
    assert(segs == Seq(
      (1L, Seq(Seq("ab", "ab"), Seq("ab"), Seq("c", "d"), Seq("ab", "c", "d"))),
      (2L, Seq(Seq("ab", "ab"), Seq("ab", "ab"), Seq("c", "d")))))
  }

  test("words above maxWordLen are dropped consistently") {
    val docs = Seq((1L, "abab verylongtokenhere cd")).toDF("doc_id", "text")
    val v = UnigramLm.train(corpus, "text", maxPieceLen = 3, topMulti = 4, emIters = 1)
    val seg = docs.select(UnigramLm.segment(col("text"), v, maxWordLen = 12).as("ps"))
      .as[Seq[Seq[String]]].head()
    assert(seg.size == 2, s"18-char token must be dropped: $seg")
  }

  test("segment is streaming-legal and equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val v = UnigramLm.train(corpus, "text", maxPieceLen = 3, topMulti = 4, emIters = 2)
    val in = MemoryStream[(Long, String)]
    val name = s"ulmseg_${System.nanoTime()}"
    val q = in.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), UnigramLm.segment(col("text"), v).as("ps"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData((1L, "abab ab cd abcd"), (2L, "abab abab cd"))
      q.processAllAvailable()
      val stream = spark.table(name).as[(Long, Seq[Seq[String]])].collect().sortBy(_._1).toSeq
      val batch = corpus.select(col("doc_id"), UnigramLm.segment(col("text"), v).as("ps"))
        .as[(Long, Seq[Seq[String]])].collect().sortBy(_._1).toSeq
      assert(stream == batch)
    } finally q.stop()
  }

  test("pruned training cuts the pieces EM stopped using; chars always survive") {
    val v = UnigramLm.train(corpus, "text", maxPieceLen = 3, topMulti = 4,
      emIters = 2, pruneMultiTo = Some(1))
    val (chars, multi) = v.pieces.partition(_._1.length == 1)
    assert(chars.map(_._1).sorted == Seq("a", "b", "c", "d"))
    assert(multi.map(_._1) == Seq("ab"), s"expected only 'ab' to survive: $multi")
  }

  test("trainToSize reaches the target vocabulary size") {
    val v = UnigramLm.trainToSize(corpus, "text", targetVocab = 6, maxPieceLen = 3)
    assert(v.pieces.size == 6, s"got ${v.pieces}")
    assert(v.pieces.count(_._1.length == 1) == 4) // alphabet a,b,c,d
    // lossless segmentation still holds under the shrunk vocab
    val segs = corpus.select(UnigramLm.segment(col("text"), v).as("ps"))
      .as[Seq[Seq[String]]].collect()
    val toks = corpus.select(split(lower(trim(col("text"))), "\\s+").as("t"))
      .as[Seq[String]].collect()
    segs.zip(toks).foreach { case (ps, ts) =>
      assert(ps.map(_.mkString) == ts, s"$ps vs $ts")
    }
  }

  test("max-match takes the longest piece greedily, unlike Viterbi") {
    // vocab: chars + "ab" + "abc" is absent but "bc" present: on "abc",
    // greedy takes "ab"+"c"; with skewed probs Viterbi could prefer
    // "a"+"bc" — max-match must ignore probabilities entirely.
    val pieces = Seq(
      ("a", 1L, -5000000L), ("b", 1L, -5000000L), ("c", 1L, -5000000L),
      ("d", 1L, -5000000L),
      ("ab", 1L, -6000000L), ("bc", 1L, -100000L))
    val v = UnigramLm.Vocab(pieces, maxPieceLen = 3)
    val docs = Seq((1L, "abc abcd dcba")).toDF("doc_id", "text")
    val got = docs.select(UnigramLm.maxMatchSegment(col("text"), v).as("ps"))
      .as[Seq[Seq[String]]].head()
    assert(got == Seq(
      Seq("ab", "c"),            // greedy: ab wins over a+bc despite lp
      Seq("ab", "c", "d"),
      Seq("d", "c", "b", "a")))  // unknown combos fall back to chars
    val viterbi = docs.select(UnigramLm.segment(col("text"), v).as("ps"))
      .as[Seq[Seq[String]]].head()
    assert(viterbi.head == Seq("a", "bc"), s"viterbi should prefer a+bc: $viterbi")
  }

  test("vocab save/load round-trips value-identically") {
    val v = UnigramLm.train(corpus, "text", maxPieceLen = 3, topMulti = 4, emIters = 2)
    val path = tmpDir("ulm-vocab")
    UnigramLm.save(v, spark, path)
    val loaded = UnigramLm.load(spark, path)
    assert(loaded.maxPieceLen == v.maxPieceLen)
    assert(loaded.pieces.sortBy(_._1) == v.pieces.sortBy(_._1))
    val a = corpus.select(UnigramLm.segment(col("text"), loaded).as("ps"))
      .as[Seq[Seq[String]]].collect().toSeq
    val b = corpus.select(UnigramLm.segment(col("text"), v).as("ps"))
      .as[Seq[Seq[String]]].collect().toSeq
    assert(a == b)
  }

  test("empty corpus fails loudly, not with NaN log-probs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      UnigramLm.train(empty, "text", maxPieceLen = 3, topMulti = 4, emIters = 1)
    }
    assert(e.getMessage.contains("vocabulary is empty"))
  }

  test("absorbIntoSaved == full retrain, and segmentation agrees") {
    val path = tmpDir("ulm-absorb")
    val base = Seq((1L, "abab ab cd abcd")).toDF("doc_id", "text")
    val inc = Seq((2L, "abab abab cd"), (3L, "dd abcd ab")).toDF("doc_id", "text")
    val full = base.unionByName(inc)
    UnigramLm.trainAndSave(base, "text", path,
      maxPieceLen = 3, topMulti = 4, emIters = 2, prefixBuckets = 8)
    val absorbed = UnigramLm.absorbIntoSaved(spark, path, inc, "text")
    val retrained = UnigramLm.train(full, "text",
      maxPieceLen = 3, topMulti = 4, emIters = 2)
    assert(absorbed.pieces.sortBy(_._1) == retrained.pieces.sortBy(_._1))
    // the persisted artifact serves the absorbed vocab
    val loaded = UnigramLm.load(spark, path)
    assert(loaded.pieces.sortBy(_._1) == retrained.pieces.sortBy(_._1))
    val a = full.select(UnigramLm.segment(col("text"), loaded).as("ps"))
      .as[Seq[Seq[String]]].collect().toSeq
    val b = full.select(UnigramLm.segment(col("text"), retrained).as("ps"))
      .as[Seq[Seq[String]]].collect().toSeq
    assert(a == b)
  }

  test("absorbIntoSaved preserves the prune parameter") {
    val path = tmpDir("ulm-absorb-p")
    val base = Seq((1L, "abab ab cd abcd")).toDF("doc_id", "text")
    val inc = Seq((2L, "abab abab cd")).toDF("doc_id", "text")
    UnigramLm.trainAndSave(base, "text", path,
      maxPieceLen = 3, topMulti = 6, emIters = 2,
      pruneMultiTo = Some(1), prefixBuckets = 8)
    val absorbed = UnigramLm.absorbIntoSaved(spark, path, inc, "text")
    val retrained = UnigramLm.train(base.unionByName(inc), "text",
      maxPieceLen = 3, topMulti = 6, emIters = 2, pruneMultiTo = Some(1))
    assert(absorbed.pieces.sortBy(_._1) == retrained.pieces.sortBy(_._1))
    assert(absorbed.pieces.count(_._1.length >= 2) <= 1)
  }

  test("emIters=0 serves the raw seed vocabulary") {
    val v = UnigramLm.train(corpus, "text", maxPieceLen = 3, topMulti = 4, emIters = 0)
    // seed multi pieces by (count desc, piece asc): ab:8(pos counts:
    // abab has 2 'ab' starts x3 + ab x1 + abcd x1), ba:3, aba:3, bab:3 -> top4 includes bc?
    // assert only structural properties: all chars present, 4 multi pieces
    val (chars, multi) = v.pieces.partition(_._1.length == 1)
    assert(chars.map(_._1).sorted == Seq("a", "b", "c", "d"))
    assert(multi.size == 4)
    assert(multi.map(_._1).contains("ab"))
  }
}
