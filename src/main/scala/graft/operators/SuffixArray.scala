package graft.operators

import graft.functions.TextFunctions
import graft.util.Staged

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed token-level suffix array by PREFIX DOUBLING
  * (Manber–Myers, the sort-based form every distributed construction
  * uses), plus LCP by binary descent over the retained doubling
  * tables — the substring-level dedup primitive behind "longest
  * repeated passage" analyses (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better"): ANY passage that
  * occurs twice anywhere in the corpus shows up as an adjacent
  * suffix pair with LCP >= its length, with no fixed shingle size
  * chosen in advance — the capability the k-gram span remover
  * ([[TextDedup.removeDupSpans]]) approximates from below.
  *
  * Scale shape: O(log maxDocLen) rounds, each ONE equi-join keyed by
  * (doc, pos+h) plus one distributed ordinal ranking (range-sort +
  * per-partition offsets — the two-job order-statistics primitive;
  * nothing is ever a single-partition window and no suffix string is
  * ever materialized). The LCP pass is 2 joins per round over the
  * ADJACENCY table (|positions| rows), descending through the same
  * tables the construction already built. Every round cuts lineage.
  *
  * Exactness: ranks are ordinals of range-sorted distinct keys, so
  * the suffix order is the exact lexicographic order of token
  * sequences (shorter-prefix-first via the -1 out-of-range sentinel)
  * and replays on any engine that sorts the same token lists — the
  * `suffix_array_ranks` / `suffix_repeats` oracle gates.
  */
object SuffixArray {

  /** A built index: `sa` is (doc_id, pos, sa_rank) — pos 1-based,
    * sa_rank the 1-based global lexicographic rank of the suffix
    * starting at pos, ties between IDENTICAL suffixes broken by
    * (doc_id, pos); `ranksByLen` retains each doubling round's
    * (prefix-length, (doc_id, pos, r)) table for the LCP descent;
    * `positions` is the (doc_id, pos, tok) universe — the checkpointed
    * frame itself, so [[unpersist]] releases its blocks (a derived
    * select would make the release a no-op) and span-rewrite consumers
    * can reassemble text from it.
    */
  final case class Index(
      sa: DataFrame,
      ranksByLen: Seq[(Long, DataFrame)],
      positions: DataFrame) {
    /** The adjacent-LCP table, memoized on first use: real suffix-array
      * deployments build SA and LCP together at ingest, and every
      * consumer ([[repeatedSpans]], [[removeRepeatedSpans]]) starts
      * from it — without the memo each call re-runs the whole binary
      * descent over `ranksByLen` (the dominant consumer cost).
      * Materialized eagerly (localCheckpoint) like the tables it
      * derives from; [[unpersist]] releases it.
      */
    lazy val lcp: DataFrame = {
      val t = computeAdjacentLcp(this).localCheckpoint(true)
      lcpMaterialized = true
      t
    }
    @volatile private var lcpMaterialized = false
    def unpersist(): Unit = {
      Staged.release(sa); Staged.release(positions)
      ranksByLen.foreach(r => Staged.release(r._2))
      if (lcpMaterialized) Staged.release(lcp)
      ()
    }
  }

  /** Ordinal of each distinct key row in range-sorted order — the
    * distributed dense-rank: range-repartition the distinct keys,
    * sort within partitions, then zipWithIndex (one count job for the
    * partition offsets + one map). The ONLY RDD use: Spark has no
    * Dataset-native order-statistics primitive, and a window without
    * a partition key would serialize the sort to one task.
    */
  private def ordinalRanks(
      d: DataFrame, keys: Seq[String], out: String, parts: Int): DataFrame = {
    val spark = d.sparkSession
    val sorted = d.select(keys.map(col): _*).distinct()
      .repartitionByRange(parts, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    val schema = sorted.schema.add(out, LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    spark.createDataFrame(rdd, schema)
  }

  /** Build the suffix array over the first `maxTokens` tokens of each
    * document (cap the per-document round count; Int.MaxValue for
    * uncapped).
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int = Int.MaxValue): Index = {
    val positions = TextDedup.spreadToCores(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(slice(TextFunctions.tokens(col(textCol)), 1, maxTokens)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("tok"))
      .localCheckpoint(true)
    val n = positions.count()
    val maxLen = if (n == 0) 0L
      else positions.agg(max(col("pos"))).head().getLong(0)
    // right-size the sort parallelism to the position count: a gate
    // fixture of a few thousand suffixes pays 32-task overhead per
    // round otherwise, while a real corpus still fans out fully
    val parts = math.max(1, math.min(
      docs.sparkSession.sparkContext.defaultParallelism,
      (n / 20000L).toInt + 1))
    // round 0: ordinal of the single token — prefix length 1
    var ranks = positions
      .join(ordinalRanks(positions, Seq("tok"), "__r", parts), Seq("tok"))
      .select(col("doc_id"), col("pos"), col("__r").as("r"))
      .localCheckpoint(true)
    val rounds = scala.collection.mutable.ArrayBuffer[(Long, DataFrame)]((1L, ranks))
    var h = 1L
    // ordinals are DENSE from 1, so the distinct-rank count is just
    // max(r) — a map-combinable agg instead of a distinct shuffle
    def nDistinct(r: DataFrame): Long =
      r.agg(coalesce(max(col("r")), lit(0L))).head().getLong(0)
    var distinctRanks = nDistinct(ranks)
    while (h < maxLen && distinctRanks < n) {
      // rank at pos+h rides back to pos through ONE co-keyed join;
      // suffixes shorter than h+1 pair with the -1 sentinel, which
      // sorts before every real ordinal — shorter-prefix-first
      val shifted = ranks.select(
        col("doc_id"), (col("pos") - h).as("pos"), col("r").as("__r2"))
      val paired = ranks
        .join(shifted, Seq("doc_id", "pos"), "left")
        .select(col("doc_id"), col("pos"), col("r"),
          coalesce(col("__r2"), lit(-1L)).as("r2"))
      ranks = paired
        .join(ordinalRanks(paired, Seq("r", "r2"), "__r", parts), Seq("r", "r2"))
        .select(col("doc_id"), col("pos"), col("__r").as("r"))
        .localCheckpoint(true)
      h = h * 2
      rounds += ((h, ranks))
      distinctRanks = nDistinct(ranks)
    }
    // final order with the deterministic (doc_id, pos) tie-break for
    // IDENTICAL suffixes
    val sa = ordinalRanks(ranks, Seq("r", "doc_id", "pos"), "sa_rank", parts)
      .select(col("doc_id"), col("pos"), col("sa_rank"))
      .localCheckpoint(true)
    Index(sa, rounds.toSeq, positions)
  }

  /** LCP between each pair of CONSECUTIVE suffixes in SA order, by
    * binary descent: walk the retained doubling tables from the
    * largest prefix length down; whenever both advanced positions
    * exist and carry the same rank, the 2^j-token blocks match and
    * the walk advances by that length. The overshoot an
    * entirely-equal shorter suffix causes is clamped to the real
    * tail lengths at the end.
    *
    * @return (doc_a, pos_a, doc_b, pos_b, lcp) — one row per adjacent
    *         pair, (doc_a, pos_a) the LOWER-ranked suffix and
    *         (doc_b, pos_b) the one immediately after it in SA order,
    *         lcp in tokens
    */
  def adjacentLcp(ix: Index): DataFrame = ix.lcp

  private def computeAdjacentLcp(ix: Index): DataFrame = {
    val a = ix.sa.select(
      col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("sa_rank"))
    val b = ix.sa.select(
      col("doc_id").as("doc_b"), col("pos").as("pos_b"),
      (col("sa_rank") - 1).as("sa_rank"))
    var pairs = a.join(b, Seq("sa_rank"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        lit(0L).as("__l"))
    ix.ranksByLen.reverse.foreach { case (len, rt) =>
      val ra = rt.select(col("doc_id").as("doc_a"), col("pos").as("__pa"),
        col("r").as("__ra"))
      val rb = rt.select(col("doc_id").as("doc_b"), col("pos").as("__pb"),
        col("r").as("__rb"))
      val next = pairs
        .withColumn("__pa", col("pos_a") + col("__l"))
        .withColumn("__pb", col("pos_b") + col("__l"))
        .join(ra, Seq("doc_a", "__pa"), "left")
        .join(rb, Seq("doc_b", "__pb"), "left")
        .withColumn("__l",
          col("__l") + when(
            col("__ra").isNotNull && col("__rb").isNotNull &&
              col("__ra") === col("__rb"), lit(len)).otherwise(lit(0L)))
        .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"), col("__l"))
        .localCheckpoint(true)
      // the superseded round's checkpoint is dead once `next` is
      // materialized (eager) — release its blocks instead of leaking
      // them until GC; the first `pairs` is a derived plan, which
      // Staged.release leaves alone by construction
      Staged.release(pairs)
      pairs = next
    }
    // clamp the equal-suffix overshoot to the true tail lengths
    val lens = ix.positions.groupBy(col("doc_id")).agg(max(col("pos")).as("__n"))
    pairs
      .join(lens.select(col("doc_id").as("doc_a"), col("__n").as("__na")), Seq("doc_a"))
      .join(lens.select(col("doc_id").as("doc_b"), col("__n").as("__nb")), Seq("doc_b"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        least(col("__l"),
          col("__na") - col("pos_a") + 1,
          col("__nb") - col("pos_b") + 1).as("lcp"))
  }

  /** Adjacent suffix pairs sharing at least `minLen` tokens — every
    * corpus passage that occurs twice (of length >= minLen) produces
    * at least one such pair, with no shingle size fixed in advance.
    */
  def repeatedSpans(ix: Index, minLen: Long): DataFrame = {
    require(minLen > 0, "minLen must be positive")
    adjacentLcp(ix).filter(col("lcp") >= minLen)
  }

  /** REMOVE the repeated passages [[repeatedSpans]] finds — the
    * consuming half of the Lee et al. 2022 ExactSubstr capability: a
    * corpus rewrite where every `minLen`-token window that occurs
    * twice anywhere loses all occurrences but one deterministic
    * canonical (`keepCanonical = true`, the paper's keep-one policy)
    * or all occurrences outright (`keepCanonical = false` — which
    * then equals [[TextDedup.removeDupSpans]] at `k = minLen`,
    * `minOccurrences = 2`, the SuffixArraySpec differential).
    *
    * Mechanics: suffixes sharing a full `minLen`-prefix form maximal
    * consecutive SA runs (adjacent LCP >= minLen pairwise ⟺ the whole
    * run shares the prefix), so the qualifying adjacent pairs are
    * exactly the edges of those runs; connected components over them
    * recover the occurrence groups in O(log run length) rounds, and
    * the component minimum under the (doc_id, pos) encoding IS the
    * canonical occurrence. Marked occurrences explode `minLen` wide
    * into covered token positions (no tail clamp needed: lcp is
    * already clamped to real tail lengths, so a qualifying suffix has
    * >= minLen tokens ahead of it); uncovered positions reassemble in
    * token order.
    *
    * Scale shape: the edge set is |repeated adjacent pairs| — the
    * boilerplate, not the corpus; CC chains are SA runs (log-bounded
    * rounds); the cover explode is minLen-wide over marked
    * occurrences only; the rewrite is one anti-join + one per-doc
    * aggregation over the positions table the index already carries.
    *
    * Docs with zero tokens never enter the index and do not appear in
    * the output (the index has no row to reassemble them from).
    *
    * @return (id, n_tokens, removed_tokens, clean_text), one row per
    *         indexed document; fully-removed docs get clean_text = "".
    */
  def removeRepeatedSpans(
      ix: Index,
      minLen: Long,
      keepCanonical: Boolean = true): DataFrame = {
    val spans = repeatedSpans(ix, minLen)
    val maxPos = ix.positions.agg(coalesce(max(col("pos")), lit(0L))).head().getLong(0)
    // (doc_id, pos) packs into one long key for the CC pass: pos rides
    // the low bits, so the numeric minimum is the lexicographic
    // (doc_id, pos) minimum — the canonical-occurrence rule for free
    val mult = java.lang.Long.highestOneBit(math.max(1L, maxPos)) * 2L
    val bits = java.lang.Long.numberOfTrailingZeros(mult)
    // the packing must not wrap: doc ids ride the high 63-bits bits
    val maxDoc = ix.positions.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
    require(maxDoc < (1L << (63 - bits)) && bits < 63,
      s"removeRepeatedSpans: doc_id $maxDoc with $maxPos-token documents " +
        s"overflows the (doc, pos) packing — re-key doc ids densely below 2^${63 - bits}")
    def enc(d: org.apache.spark.sql.Column, p: org.apache.spark.sql.Column) =
      shiftleft(d, bits).plus(p)
    val edges = spans.select(
      enc(col("doc_a"), col("pos_a")).as("id_a"),
      enc(col("doc_b"), col("pos_b")).as("id_b"))
    val groups = Clustering.connectedComponents(edges, "id_a", "id_b")
    val marked = (if (keepCanonical) groups.filter(col("id") =!= col("cluster"))
      else groups)
      .select(shiftright(col("id"), bits).as("doc_id"),
        col("id").bitwiseAND(lit(mult - 1L)).as("p0"))
    val covered = marked
      .select(col("doc_id"),
        explode(sequence(col("p0"), col("p0") + (minLen - 1L))).as("pos"))
      .distinct()
    val kept = ix.positions.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("__kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")),
          " ").as("clean_text"))
    // positions are dense 1..n per doc, so max(pos) is the token count
    ix.positions.groupBy(col("doc_id")).agg(max(col("pos")).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id").as("id"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("removed_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
