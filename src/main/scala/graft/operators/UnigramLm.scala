package graft.operators

import graft.functions.TextFunctions
import graft.sources.Store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) subword tokenizer (Kudo 2018,
  * arXiv:1804.10959), trained by hard (Viterbi) EM — the probabilistic
  * sibling of [[Lexicon.bpeTrain]]'s greedy merges, and the last
  * member of the tokenizer family: BPE grows a vocabulary bottom-up
  * by merging; unigram-LM starts from an over-complete substring
  * vocabulary and lets EM concentrate mass on the pieces that
  * actually explain the corpus.
  *
  *  - Seed: every substring of length 1..`maxPieceLen` of the distinct
  *    words, counted at every start position weighted by word
  *    frequency; the top `topMulti` multi-character pieces by
  *    (count desc, piece asc) plus ALL single characters.
  *  - E-step: each distinct word takes its single BEST segmentation
  *    under the current piece log-probs (Viterbi — a stateless column
  *    fold, below), and pieces are counted weighted by word frequency.
  *  - M-step: piece log-probs re-estimated from those counts. Multi
  *    pieces with zero count drop out (the unigram-LM prune); single
  *    characters are floored at count 1 so every word stays
  *    segmentable (SentencePiece's always-keep-chars rule).
  *
  * Determinism / SQL-replay contract (the repo's integer-space
  * discipline): log-probs are floor-quantized LONGs,
  * `floor(1e6 * ln(cnt / total))` — counts and totals are exact
  * integers, the division is one IEEE op, and the quantized values
  * feed integer Viterbi sums, so every EM iteration and every
  * segmentation replays bit-for-bit in SQL (the `ulm_train` /
  * `ulm_segment` oracles unroll the same DP per position and the same
  * EM rounds as CTEs). Viterbi ties break to (lower cost, lower start
  * position) — i.e. the LONGEST final piece among equal-cost paths —
  * in both engines.
  *
  * Scale shape (the [[Lexicon.bpeTrain]] trick): the corpus collapses
  * to its DISTINCT-WORD table first (one map-combinable count), so
  * every EM iteration is a stateless Viterbi projection over the
  * vocabulary-sized word table plus one piece-count aggregation and a
  * bounded (<= |alphabet| + topMulti rows) collect; corpus size enters
  * only through the initial count's weights. Segmentation ships the
  * piece table as ONE map literal in the plan (no join, no UDF — an
  * interpreted fold over array ops), so it runs on streams too.
  */
object UnigramLm {

  /** Scale of the quantized piece log-prob (the repo-wide µ-grid). */
  val LpScale: Double = 1e6

  /** A trained vocabulary: piece -> (count, quantized log-prob). */
  final case class Vocab(pieces: Seq[(String, Long, Long)], maxPieceLen: Int) {
    private[UnigramLm] def lpMap: Map[String, Long] = pieces.map(p => (p._1, p._3)).toMap
  }

  /** Distinct words of the corpus with frequencies, bounded to
    * `maxWordLen` characters (the DP-unroll bound the SQL oracle
    * shares; words above it are dropped by BOTH engines).
    */
  private def wordTable(docs: DataFrame, textCol: String, maxWordLen: Int): DataFrame =
    docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")).between(1, maxWordLen))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wn"))

  /** Quantized log-prob table from (piece, count) rows:
    * `floor(1e6 * ln(cnt / total))`. Driver-side arithmetic over a
    * vocabulary-sized list — java.lang.Math.log, the same function
    * Spark's `ln` resolves to.
    */
  private def lpOf(counts: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
    require(counts.nonEmpty,
      "unigram-LM vocabulary is empty — the corpus yielded no words within maxWordLen")
    val total = counts.map(_._2).sum.toDouble
    counts.map { case (p, n) =>
      (p, n, math.floor(LpScale * math.log(n.toDouble / total)).toLong)
    }
  }

  /** Seed piece counts: every substring of length 1..maxPieceLen at
    * every start position, weighted by word frequency; all single
    * chars plus the top `topMulti` multi-char pieces. The collect is
    * bounded by |alphabet| + topMulti.
    */
  private def seedCounts(words: DataFrame, maxPieceLen: Int, topMulti: Int): Seq[(String, Long)] = {
    val subs = words
      .select(col("wn"),
        explode(flatten(transform(
          sequence(lit(1), length(col("w"))),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i + 1)),
            l => col("w").substr(i, l))))).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("wn")).as("n"))
      .persist()
    val chars = subs.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val multi = subs.filter(length(col("piece")) >= 2)
      .orderBy(col("n").desc, col("piece").asc)
      .limit(topMulti)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    subs.unpersist()
    (chars ++ multi).toSeq
  }

  /** Viterbi best-path table over positions 1..len(w): an array of
    * (cost, back) structs, index p+1 = position p, cost = sum of
    * NEGATED quantized log-probs (minimized), back = start position of
    * the piece ending at p. Ties break to (cost, back) ascending —
    * the longest piece. MUST be staged as its own projection before
    * [[piecesFromBest]] (interpreted higher-order functions re-evaluate
    * inlined subtrees per element — the [[Winnow]] lesson).
    */
  private def bestArr(w: Column, lpLit: Column, maxPieceLen: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0L).as("cost"), lit(0).as("back"))),
      (acc, i) => {
        val cands = filter(
          transform(
            sequence(greatest(i - (maxPieceLen - 1), lit(1)), i),
            jj => struct(
              (element_at(acc, jj).getField("cost") -
                element_at(lpLit, w.substr(jj, i - jj + 1))).as("cost"),
              (jj - 1).as("back"))),
          c => c.getField("cost").isNotNull)
        concat(acc, array(array_min(cands)))
      })

  /** Reconstruct the best segmentation from a STAGED [[bestArr]]
    * column: walk the backpointers from the last position (at most
    * len(w) hops; iterations after reaching position 0 are no-ops).
    */
  private def piecesFromBest(w: Column, ba: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(length(w).as("pos"), array().cast("array<string>").as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val back = element_at(ba, pos + 1).getField("back")
        when(pos <= 0, acc).otherwise(struct(
          back.as("pos"),
          concat(array(w.substr(back + 1, pos - back)), acc.getField("ps")).as("ps")))
      },
      acc => acc.getField("ps"))

  /** Segment every row of `df`'s word column under `vocab`: adds
    * `pieces` (array of strings). Stateless — the vocab rides as one
    * map literal; streaming-legal.
    */
  def segmentWords(df: DataFrame, wCol: String, vocab: Vocab): DataFrame = {
    val lpLit = typedLit(vocab.lpMap)
    df.withColumn("__ba", bestArr(col(wCol), lpLit, vocab.maxPieceLen))
      .withColumn("pieces", piecesFromBest(col(wCol), col("__ba")))
      .drop("__ba")
  }

  /** One E+M round: Viterbi-segment the distinct words under `vocab`,
    * count pieces weighted by word frequency (multi pieces with zero
    * count drop; single chars floor at 1), and re-quantize log-probs.
    * With `pruneMultiTo` set, only the top-k multi pieces by
    * (count desc, piece asc) survive the round — the SentencePiece
    * prune that shrinks an over-complete seed toward a target
    * vocabulary, applied on the EM counts (the pieces EM stopped
    * using are exactly the ones cut first). The piece-count collect
    * is vocabulary-bounded.
    */
  private def emRound(
      words: DataFrame,
      vocab: Vocab,
      charSet: Seq[String],
      pruneMultiTo: Option[Int]): Vocab = {
    val counts = segmentWords(words, "w", vocab)
      .select(col("wn"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("wn")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val used = counts.filter { case (p, n) => p.length >= 2 && n > 0 }.toSeq
    val multi = pruneMultiTo match {
      case Some(k) => used.sortBy { case (p, n) => (-n, p) }.take(k)
      case None => used
    }
    val chars = charSet.map(c => (c, math.max(counts.getOrElse(c, 0L), 1L)))
    Vocab(lpOf((chars ++ multi).sortBy(_._1)), vocab.maxPieceLen)
  }

  /** Seed + EM over an already-built distinct-word table — the
    * vocabulary-sized half of training, shared by [[train]] and
    * [[absorbIntoSaved]] (the corpus-sized half is the word count).
    */
  private def trainFromWords(
      words: DataFrame,
      maxPieceLen: Int,
      topMulti: Int,
      emIters: Int,
      pruneMultiTo: Option[Int]): Vocab = {
    val seed = seedCounts(words, maxPieceLen, topMulti)
    val charSet = seed.filter(_._1.length == 1).map(_._1).sorted
    var vocab = Vocab(lpOf(seed), maxPieceLen)
    var it = 0
    while (it < emIters) {
      vocab = emRound(words, vocab, charSet, pruneMultiTo)
      it += 1
    }
    vocab
  }

  /** Train a unigram-LM vocabulary: seed from substrings, then
    * `emIters` hard-EM rounds over the distinct-word table.
    */
  def train(
      docs: DataFrame,
      textCol: String,
      maxPieceLen: Int = 4,
      topMulti: Int = 25,
      emIters: Int = 2,
      maxWordLen: Int = 12,
      pruneMultiTo: Option[Int] = None): Vocab = {
    require(maxPieceLen >= 1 && topMulti >= 0 && emIters >= 0, "bad unigram-LM params")
    val words = wordTable(docs, textCol, maxWordLen).persist()
    words.count()
    try trainFromWords(words, maxPieceLen, topMulti, emIters, pruneMultiTo)
    finally { words.unpersist(); () }
  }

  /** Train to a TARGET vocabulary size (SentencePiece's outer loop,
    * hard-EM form): seed over-complete (4x the multi-piece budget),
    * then let every EM round prune to `targetVocab - |alphabet|`
    * multi pieces — EM redistributes mass, the prune cuts the pieces
    * it stopped using. The alphabet always survives, so the result
    * has exactly `targetVocab` pieces whenever the corpus offers
    * enough used multi pieces (fewer only if it doesn't).
    */
  def trainToSize(
      docs: DataFrame,
      textCol: String,
      targetVocab: Int,
      maxPieceLen: Int = 4,
      emIters: Int = 2,
      maxWordLen: Int = 12): Vocab = {
    require(targetVocab >= 1, "targetVocab must be positive")
    val words = wordTable(docs, textCol, maxWordLen).persist()
    words.count()
    val nChars =
      try words.select(explode(split(col("w"), "")).as("c")).filter(length(col("c")) === 1)
        .distinct().count().toInt
      finally ()
    val budget = math.max(targetVocab - nChars, 0)
    try train(docs, textCol, maxPieceLen, topMulti = math.max(budget * 4, 4),
      emIters = emIters, maxWordLen = maxWordLen, pruneMultiTo = Some(budget))
    finally { words.unpersist(); () }
  }

  /** Trained-vocab table as a DataFrame: (piece, n, lp), count
    * descending then piece ascending — the serving artifact
    * `ulm_train` gates.
    */
  def vocabTable(docs: DataFrame, textCol: String, vocab: Vocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    vocab.pieces.toDF("piece", "n", "lp")
      .orderBy(col("n").desc, col("piece").asc)
  }

  /** WordPiece-style greedy longest-match segmentation under a
    * trained vocabulary (the third serving mode of the tokenizer
    * family: BPE applies ordered merges, unigram-LM maximizes path
    * probability, max-match takes the longest vocab piece at every
    * position). No probabilities consulted — only membership — so it
    * serves from the same [[Vocab]] artifact. Unknown characters pass
    * through as single-char pieces (the identity fallback; every
    * corpus character is in a trained vocab by construction). Pure
    * per-row fold like [[segment]]; stream-legal; replayed in SQL by
    * a greedy-piece table + recursive walk (`wordpiece_segment`).
    */
  def maxMatchSegment(textCol: Column, vocab: Vocab, maxWordLen: Int = 12): Column = {
    val lpLit = typedLit(vocab.lpMap)
    transform(
      filter(TextFunctions.tokens(textCol),
        t => length(t).between(1, maxWordLen)),
      w => maxMatchPieces(w, lpLit, vocab.maxPieceLen))
  }

  /** Greedy fold: one iteration per character position (no-ops once
    * past the end); at each step the longest full-length vocab match
    * wins, falling back to the single character.
    */
  private def maxMatchPieces(w: Column, lpLit: Column, maxPieceLen: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("pos"), array().cast("array<string>").as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val piece = coalesce(
          (maxPieceLen to 2 by -1).map { l =>
            val cand = w.substr(pos, lit(l))
            when(length(cand) === l && element_at(lpLit, cand).isNotNull, cand)
          } :+ w.substr(pos, lit(1)): _*)
        when(pos > length(w), acc).otherwise(struct(
          (pos + length(piece)).as("pos"),
          concat(acc.getField("ps"), array(piece)).as("ps")))
      },
      acc => acc.getField("ps"))

  /** Persist a trained vocabulary: one small parquet of
    * (piece, n, lp) plus the piece-length bound — the tokenizer
    * artifact a training pipeline trains once and ships everywhere
    * (the [[ProductQuantizer.save]] lifecycle).
    */
  def save(vocab: Vocab, spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Store.write(spark, path)(vocabOps(vocab, spark): _*)

  private def vocabOps(vocab: Vocab, spark: org.apache.spark.sql.SparkSession): Seq[Store.Op] = {
    import spark.implicits._
    Seq(
      Store.Put("pieces", vocab.pieces.toDF("piece", "n", "lp").repartition(1)),
      Store.meta(spark, "maxPieceLen" -> vocab.maxPieceLen))
  }

  /** Load a persisted vocabulary; piece order is canonicalized so the
    * round trip is value-identical to the trained artifact.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Vocab = {
    val st = Store(spark, path)
    val pieces = st.read("pieces")
      .collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("n"), r.getAs[Long]("lp")))
      .sortBy(_._1)
    Vocab(pieces.toSeq, st.meta.getAs[Int]("maxPieceLen"))
  }

  /** Train AND persist the full train state: the vocabulary artifact
    * ([[save]]'s layout, so [[load]] serves it unchanged) plus the
    * distinct-word table, hash-prefix-partitioned on the word, plus
    * the training parameters — everything [[absorbIntoSaved]] needs
    * to fold a corpus increment in later.
    */
  def trainAndSave(
      docs: DataFrame,
      textCol: String,
      path: String,
      maxPieceLen: Int = 4,
      topMulti: Int = 25,
      emIters: Int = 2,
      maxWordLen: Int = 12,
      pruneMultiTo: Option[Int] = None,
      prefixBuckets: Int = 64): Vocab = {
    require(maxPieceLen >= 1 && topMulti >= 0 && emIters >= 0 && prefixBuckets > 0,
      "bad unigram-LM params")
    val spark = docs.sparkSession
    val words = wordTable(docs, textCol, maxWordLen).persist()
    words.count()
    try {
      val vocab = trainFromWords(words, maxPieceLen, topMulti, emIters, pruneMultiTo)
      Store.write(spark, path)(vocabOps(vocab, spark) ++ Seq(
        Store.Put("words",
          words.withColumn("__kp", Store.prefix(prefixBuckets, col("w"))).repartition(col("__kp")),
          Some("__kp")),
        Store.row(spark, "params", "topMulti" -> topMulti, "emIters" -> emIters,
          "maxWordLen" -> maxWordLen, "pruneMultiTo" -> typedLit(pruneMultiTo.map(_.toLong)),
          "prefixBuckets" -> prefixBuckets)): _*)
      vocab
    } finally { words.unpersist(); () }
  }

  /** Fold a corpus increment into the SAVED train state and re-emit
    * the vocabulary — the [[Bm25.absorbIntoSaved]] lifecycle for the
    * tokenizer: the increment is word-counted (the only corpus-sized
    * work), its counts merge into the VOCABULARY-sized word table,
    * seeding + EM re-run over the merged table, and the touched word
    * partitions, the pieces and the meta swap in by ONE store write —
    * a killed absorb leaves the old words next to the old vocabulary,
    * never new words next to an old one. Because word counts are a
    * commutative monoid and everything downstream of the word table is
    * a deterministic function of it, absorb-then-train equals
    * retraining on the full corpus EXACTLY (UnigramLmSpec's
    * differential and the `ulm_absorb_train` oracle gate) — but the
    * 100 TB base corpus is never rescanned.
    */
  def absorbIntoSaved(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newDocs: DataFrame,
      textCol: String): Vocab = {
    val st = Store(spark, path)
    val p = st.read("params").head()
    val topMulti = p.getAs[Int]("topMulti")
    val emIters = p.getAs[Int]("emIters")
    val maxWordLen = p.getAs[Int]("maxWordLen")
    val pruneMultiTo = Option(p.getAs[java.lang.Long]("pruneMultiTo")).map(_.toInt)
    val buckets = p.getAs[Int]("prefixBuckets")
    val inc = wordTable(newDocs, textCol, maxWordLen)
      .withColumn("__kp", Store.prefix(buckets, col("w")))
      .persist()
    val words = st.read("words").drop("__kp")
      .join(inc.drop("__kp").withColumnRenamed("wn", "__wn2"), Seq("w"), "full_outer")
      .select(col("w"),
        (coalesce(col("wn"), lit(0L)) + coalesce(col("__wn2"), lit(0L))).as("wn"))
      .persist()
    words.count()
    try {
      val vocab = trainFromWords(words, st.meta.getAs[Int]("maxPieceLen"), topMulti, emIters,
        pruneMultiTo)
      val touched = Store.pruned(words.withColumn("__kp", Store.prefix(buckets, col("w"))),
        "__kp", inc.select(col("__kp")))
      Store.write(spark, path)(
        vocabOps(vocab, spark) :+ Store.Patch("words", touched.repartition(col("__kp")), "__kp"): _*)
      vocab
    } finally { words.unpersist(); inc.unpersist(); () }
  }

  /** Segment a text column under a trained vocab: tokens above
    * `maxWordLen` are dropped (the oracle's DP bound — a corpus-
    * dependent no-op here), each surviving token becomes its Viterbi
    * pieces. Pure per-row projection; runs on streams.
    */
  def segment(textCol: Column, vocab: Vocab, maxWordLen: Int = 12): Column = {
    val lpLit = typedLit(vocab.lpMap)
    transform(
      filter(TextFunctions.tokens(textCol),
        t => length(t).between(1, maxWordLen)),
      w => {
        // NOTE inlined bestArr: legal because `w` is a lambda variable
        // (evaluated per token, not re-derived per window element);
        // the O(L*maxPieceLen) candidate scan per position stands.
        piecesFromBest(w, bestArr(w, lpLit, vocab.maxPieceLen))
      })
  }
}
