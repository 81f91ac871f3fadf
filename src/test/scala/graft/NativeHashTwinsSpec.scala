package graft

import graft.operators.{TextDedup, Winnow}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The r18 native hash/sweep expressions must be bit-for-bit identical
  * to the interpreted HOF forms they replace — the oracle replays
  * those HOF semantics in SQL, so any divergence is an oracle break:
  *
  *   - [[graft.functions.Md5Long60Array]] vs
  *     `transform(arr, g => conv(substring(md5(g),1,15),16,10))`
  *   - [[graft.functions.SimHashFromHashes]] vs the two-`aggregate`
  *     bitCounts+sigFromCounts fold (`simhashFromHashesHof` below)
  *   - [[graft.functions.WindowMinima]] vs the slice-per-window sweep
  *     (`fingerprintArrayFromHashesHof` below)
  */
class NativeHashTwinsSpec extends SparkSpec {
  import spark.implicits._

  /** The interpreted HOF form of [[Winnow.fingerprintArrayFromHashes]]'s
    * window sweep (differential reference): a fresh w-slice per window.
    */
  private def fingerprintArrayFromHashesHof(hashes: Column, w: Int): Column =
    array_distinct(
      when(size(hashes) < w, array(array_min(hashes)))
        .otherwise(transform(
          sequence(lit(1), size(hashes) - (w - 1)),
          i => array_min(slice(hashes, i, lit(w))))))

  /** Per-bit one-counts over a token-hash array: ONE `aggregate` pass
    * maintaining a `bits`-counter accumulator (per hash: extract the
    * bits with a `transform` over bit indices, add into the
    * accumulator).
    */
  private def bitCounts(tokenHashes: Column, bits: Int): Column =
    aggregate(
      tokenHashes,
      array_repeat(lit(0L), bits),
      (acc, h) =>
        zip_with(
          acc,
          transform(sequence(lit(0), lit(bits - 1)), i => call_function("shiftright", h, i).bitwiseAND(1)),
          (a, b) => a + b))

  /** Fold per-bit one-counts + total count into the signature: bit i is
    * set when at least half the token hashes have bit i set.
    */
  private def sigFromCounts(counts: Column, n: Column, bits: Int): Column =
    aggregate(
      zip_with(counts, sequence(lit(0), lit(bits - 1)),
        (c, i) => when(c * 2 >= n, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x))

  /** HOF twin of the native [[graft.functions.SimHashFromHashes]] fold
    * — the differential reference.
    */
  private def simhashFromHashesHof(tokenHashes: Column, bits: Int): Column =
    sigFromCounts(bitCounts(tokenHashes, bits), size(tokenHashes), bits)

  private def md5Long60Native(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.Md5Long60Array(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  test("Md5Long60Array == the interpreted conv(substring(md5)) chain") {
    val df = Seq(
      (1L, Seq("alpha", "beta gamma", "", "x" * 300, "uniçode 日本語")),
      (2L, Seq[String]()),
      (3L, Seq("one", null, "two")))
      .toDF("id", "arr")
    val rows = df.select(
      col("id"),
      md5Long60Native(col("arr")).as("native"),
      transform(col("arr"),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Any]]("native") ==
        r.getAs[scala.collection.Seq[Any]]("hof"), s"row ${r.getLong(0)}")
    }
    // null input array -> null
    val nr = Seq((4L, Option.empty[Seq[String]])).toDF("id", "arr")
      .select(md5Long60Native(col("arr")).as("native")).collect().head
    assert(nr.isNullAt(0))
    // values are always in [0, 2^60)
    rows.flatMap(_.getAs[scala.collection.Seq[Any]]("native"))
      .filter(_ != null).map(_.asInstanceOf[Long])
      .foreach(v => assert(v >= 0L && v < (1L << 60)))
  }

  test("SimHashFromHashes == the HOF fold, both bit widths, all corners") {
    def native(c: org.apache.spark.sql.Column, bits: Int) =
      org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.SimHashFromHashes(
          org.apache.spark.sql.GraftColumnShim.expression(c), bits))
    val data = Seq(
      (1L, Seq(0L, 1L, 2L, 3L)),
      (2L, Seq(-1L, Long.MinValue, Long.MaxValue)), // sign bits exercised
      (3L, Seq(7L)),
      (4L, Seq[Long]()), // empty -> all bits set in both forms
      (5L, (1L to 100L).toSeq))
      .toDF("id", "th")
    for (bits <- Seq(60, 64)) {
      data.select(col("id"),
        native(col("th"), bits).as("native"),
        simhashFromHashesHof(col("th"), bits).as("hof"))
        .collect()
        .foreach(r => assert(r.getLong(1) == r.getLong(2),
          s"bits=$bits row ${r.getLong(0)}"))
    }
    // null element -> signature 0 in both forms
    val withNull = Seq((6L, Seq[java.lang.Long](1L, null, 2L))).toDF("id", "th")
    val nr = withNull.select(
      native(col("th"), 60).as("native"),
      simhashFromHashesHof(col("th"), 60).as("hof")).collect().head
    assert(nr.getLong(0) == nr.getLong(1) && nr.getLong(0) == 0L)
    // null array -> null in both
    val na = Seq((7L, Option.empty[Seq[Long]])).toDF("id", "th")
      .select(native(col("th"), 60).as("n"),
        simhashFromHashesHof(col("th"), 60).as("h")).collect().head
    assert(na.isNullAt(0) && na.isNullAt(1))
  }

  test("WindowMinima sweep == the HOF slice-per-window sweep") {
    val data = Seq(
      (1L, Seq(5L, 3L, 8L, 1L, 9L, 2L)), // ordinary
      (2L, Seq(4L, 4L, 4L)),             // ties
      (3L, Seq(2L)),                     // shorter than the window
      (4L, Seq[Long]()),                 // empty -> [null] in both
      (5L, (100L to 1L by -1L).toSeq),   // strictly decreasing
      (6L, (1L to 100L).toSeq))          // strictly increasing
      .toDF("id", "h")
    for (w <- Seq(1, 3, 8)) {
      data.select(col("id"),
        Winnow.fingerprintArrayFromHashes(col("h"), w).as("native"),
        fingerprintArrayFromHashesHof(col("h"), w).as("hof"))
        .collect()
        .foreach(r => assert(
          r.getAs[scala.collection.Seq[Any]]("native") ==
            r.getAs[scala.collection.Seq[Any]]("hof"),
          s"w=$w row ${r.getLong(0)}"))
    }
    // null elements: skipped like array_min; all-null window -> null
    val withNulls = Seq((7L, Seq[java.lang.Long](null, 5L, null, null, null, 2L)))
      .toDF("id", "h")
    for (w <- Seq(2, 3)) {
      val r = withNulls.select(
        Winnow.fingerprintArrayFromHashes(col("h"), w).as("native"),
        fingerprintArrayFromHashesHof(col("h"), w).as("hof")).collect().head
      assert(r.getAs[scala.collection.Seq[Any]]("native") ==
        r.getAs[scala.collection.Seq[Any]]("hof"), s"w=$w nulls")
    }
  }

  test("the gated pipelines produce identical results through the native twins") {
    // end-to-end: simhash pairs and winnow fingerprints on a small
    // corpus, native-twins path vs the HOF ground truth recomputed here
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog by the river bank truly"),
      (3L, "unrelated text about catalyst tungsten codegen and columnar batches"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.simhashCandidatePairs(
      docs, "doc_id", "text", maxHamming = 16, scheme = TextDedup.PortableMd5Simhash)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    val fps = Winnow.fingerprints(docs, "doc_id", "text", k = 6, w = 4,
      hashFn = Winnow.PortableMd5Hash)
    val hofFps = docs.repartition(4)
      .select(col("doc_id").as("id"),
        graft.functions.TextFunctions.charShingles(col("text"), 6).as("__g"))
      .select(col("id"), transform(col("__g"),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")).as("__h"))
      .select(col("id"),
        explode(fingerprintArrayFromHashesHof(col("__h"), 4)).as("fp"))
    assert(fps.orderBy("id", "fp").collect().toSeq ==
      hofFps.orderBy("id", "fp").collect().toSeq)
  }
}
