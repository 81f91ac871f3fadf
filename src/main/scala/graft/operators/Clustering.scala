package graft.operators

import graft.sources.Store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components — the last step of a near-dup
  * pipeline: candidate PAIRS (from MinHash/SimHash/embedding LSH)
  * become duplicate GROUPS, so a keep-one policy ("keep the smallest
  * id, drop the rest") can be applied per component.
  *
  * Synchronous min-label propagation: every node starts labeled with
  * its own id; each round every node takes the minimum of its label
  * and its neighbors' labels; converges when a round changes nothing —
  * after at most `diameter` rounds, each component is labeled with its
  * minimum member id. Each round is one keyed join + one map-side
  * combinable min aggregation, eagerly lineage-truncated
  * (localCheckpoint), so round N plans against round N-1's stored rows,
  * not the whole accumulated plan.
  *
  * Scale notes: near-dup components are clique-ish (tiny diameter —
  * 2-3 rounds in practice), so rounds, not round cost, stay small; the
  * per-round shuffle is O(|edges|). Each round also pointer-jumps the
  * adopted label one hop through the previous label table (an O(|V|)
  * join, cheap next to the O(|E|) neighbor join), so remaining chain
  * depth roughly halves per round — O(log d) rounds on adversarially
  * deep graphs without the edge-rewriting cost of the full
  * large-star/small-star scheme (Kiveris et al. 2014).
  */
object Clustering {

  /** @param pairs one row per undirected edge (order irrelevant,
    *              duplicates tolerated)
    * @param broadcastThresholdRows when the node count is at or below
    *              this, each round's label lookups ride broadcast hash
    *              joins — one shuffle per round (the min aggregation)
    *              instead of three. Above it, shuffled joins: the label
    *              table no longer fits an executor, and the per-round
    *              shuffles are the intended O(|edges|) scale shape.
    * @param driverMaxEdges edge sets at or below this size with
    *              integral ids are solved by one bounded collect + a
    *              driver union-find (the broadcast-join analogy: a
    *              subproblem that fits one machine should not pay a
    *              shuffle barrier per graph-diameter hop — min-label
    *              propagation needs O(diameter) rounds, and a 20-hop
    *              chain costs 20 barrier-synchronized rounds for work
    *              a path-compressed union-find does in microseconds).
    *              1M deduped edges collect to ~16 MB — the same memory
    *              class as a broadcast side. 0 disables the path; at
    *              corpus scale the edge set blows past it and the
    *              distributed loop below is the intended shape.
    * @return (id, cluster) — every node that appears in some edge,
    *         labeled with its component's minimum id. Nodes with no
    *         edges are their own singleton cluster and are not emitted
    *         (the caller's id space is unbounded; left-join the result
    *         and coalesce to the id for keep-one policies).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25,
      broadcastThresholdRows: Long = 4L << 20,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    // TRUNCATE LINEAGE every round (eager localCheckpoint — stores the
    // rows, replaces the plan with a LogicalRDD leaf). Persist alone is
    // NOT enough for an iterative DataFrame loop: round N's logical
    // plan nests every earlier round plus the caller's pair plan, and
    // the analyzer/optimizer re-walks that superlinearly-growing tree
    // on every action — measured 2.4s -> 7.3s per round by round TWO
    // on a 369-edge input, 25x the truncated form. On a multi-tenant
    // cluster swap localCheckpoint for reliable `checkpoint` (executor
    // loss kills local-checkpointed lineage-free blocks).
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true) // the caller's pair plan runs exactly once
    val idType = edges.schema("src").dataType
    val integral = idType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (integral && driverMaxEdges > 0 && edges.count() <= driverMaxEdges)
      return driverUnionFind(edges, idType)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    // the label table is one row per node in the PAIR graph — in a
    // near-dup pipeline a small fraction of the corpus — so it usually
    // broadcasts; count() is free, labels is already materialized
    val small = labels.count() <= broadcastThresholdRows
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val neighborMin = edges
        .join(side(labels.select(col("id").as("dst"), col("label"))), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nlabel"))
      // carry the previous label through the round so convergence is a
      // plain filter-count over the checkpointed rows — two jobs per
      // round total (checkpoint materialization + count), no extra join
      val stepped = labels
        .join(side(neighborMin), Seq("id"), "left")
        .select(
          col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("mid"),
          col("label").as("prev"))
      // POINTER JUMP through the (materialized) previous label table:
      // a candidate label is itself a node id, so follow it one hop —
      // label := min(mid, prevLabel(mid)). Labels only decrease, so
      // prevLabel(mid) <= mid and a round is a no-op only when every
      // adopted label is a ROOT (self-labeled): remaining chain depth
      // roughly halves per round, O(log diameter) rounds on the long
      // chains that cost min-propagation O(diameter), at the price of
      // one O(|V|) join per round against the O(|E|) neighbor join —
      // same fixpoint (component minimum) either way, since labels
      // stay component-internal node ids and only shrink.
      val next = stepped
        .join(side(labels.select(col("id").as("mid"), col("label").as("hop"))),
          Seq("mid"), "left")
        .select(
          col("id"),
          least(col("mid"), coalesce(col("hop"), col("mid"))).as("label"),
          col("prev"))
        .localCheckpoint(true)
      val changed = next.filter(col("label") =!= col("prev")).count()
      labels = next.select(col("id"), col("label"))
      done = changed == 0L
      iter += 1
    }
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Bounded fast path for [[connectedComponents]]: collect the
    * (deduped, already-materialized) edge list and run a
    * path-compressed union-find with min-value roots — the component
    * root is always its minimum member id, matching the distributed
    * loop's fixpoint exactly. Memory is O(|edges|), gated by the
    * caller's `driverMaxEdges`.
    */
  private def driverUnionFind(
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val nodes = scala.collection.mutable.HashSet.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression: point the walked chain at the root
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.collect().foreach { row =>
      val a = row.get(0).asInstanceOf[Number].longValue
      val b = row.get(1).asInstanceOf[Number].longValue
      nodes += a; nodes += b
      val (ra, rb) = (find(a), find(b))
      // min-value root: the smaller root absorbs, so every component's
      // root is its minimum member id
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val out = nodes.toSeq.map(id => (id, find(id)))
    out.toDF("id", "cluster")
      .select(col("id").cast(idType).as("id"),
        col("cluster").cast(idType).as("cluster"))
  }

  /** Synchronous label-propagation communities (Raghavan, Albert,
    * Kumara 2007, made deterministic): every node starts labeled with
    * its own id; each round every node adopts the MOST FREQUENT label
    * among its neighbors, ties to the smallest label; a FIXED round
    * count replaces the usual random-order convergence loop, so the
    * result is a pure function of the graph (and replays in SQL as
    * `rounds` unrolled CTEs — the `graph_communities` gate).
    *
    * This is the community detector [[connectedComponents]] is not:
    * components merge through ANY path, so one stray bridge edge
    * fuses two dense groups; majority voting keeps densely-connected
    * groups separate because a bridge is always outvoted by the
    * community's internal edges.
    *
    * Scale shape: per round, one edge-keyed join (O(|edges|) shuffle),
    * one map-combinable (node, label) count, and one node-keyed
    * window for the argmax — the [[connectedComponents]] round shape
    * plus a window, with the same per-round lineage truncation.
    *
    * `convergeWhenStable` turns `rounds` into a CEILING: the loop
    * stops early once a round changes no label (one extra
    * map-combinable changed-row count per round — an anti-equi join
    * of consecutive labelings). Determinism is unchanged — the
    * synchronous update is a pure function of the previous labeling,
    * so stopping at a fixed point yields exactly the fixed-round
    * result for any larger round count.
    *
    * @return (id, community) for every node that appears in an edge
    */
  def labelPropagation(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      rounds: Int = 2,
      convergeWhenStable: Boolean = false): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      val w = Window.partitionBy(col("id"))
        .orderBy(col("__n").desc, col("label").asc)
      val next = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"), col("label"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("id"), col("label"))
        .localCheckpoint(true)
      if (convergeWhenStable) {
        stable = next.join(labels.withColumnRenamed("label", "__prev"), Seq("id"))
          .filter(col("label") =!= col("__prev"))
          .isEmpty
      }
      labels = next
      r += 1
    }
    labels.select(col("id"), col("label").as("community"))
  }

  // ----- incremental component store (the AggStore.absorbIntoSaved
  // lifecycle applied to cluster labels) -----

  /** A loaded component store: `labels` is the persisted (id, cluster,
    * __kp) table, id-hash-prefix-partitioned so endpoint lookups prune
    * at the directory level; `relabels` is the tiny (old_cluster,
    * new_cluster) root-forwarding table lazy merges accumulate into —
    * the distributed form of union-find's deferred path compression.
    * Resolve to final labels with [[resolvedLabels]]; fold the
    * forwarding table away with [[compactClusters]].
    */
  final case class ClusterStore(
      labels: DataFrame,
      relabels: DataFrame,
      prefixBuckets: Int)

  /** Persist a (id, cluster) label table (e.g.
    * [[connectedComponents]]'s output) as a component store. Ids ride
    * as longs — the repo-wide key convention.
    */
  def saveClusters(
      labels: DataFrame,
      path: String,
      prefixBuckets: Int = 64): Unit = {
    val spark = labels.sparkSession
    Store.write(spark, path)(labelOps(spark,
      labels.select(col("id").cast("long").as("id"), col("cluster").cast("long").as("cluster")),
      prefixBuckets) :+ Store.meta(spark, "prefixBuckets" -> prefixBuckets): _*)
  }

  /** A full label table and an empty forwarding table. */
  private def labelOps(spark: SparkSession, labels: DataFrame, buckets: Int): Seq[Store.Op] = {
    import spark.implicits._
    Seq(
      Store.Put("labels",
        labels.withColumn("__kp", Store.prefix(buckets, col("id"))).repartition(col("__kp")),
        Some("__kp")),
      Store.Put("relabels", Seq.empty[(Long, Long)].toDF("old_cluster", "new_cluster").repartition(1)))
  }

  /** Load a persisted component store (lazy — absorbs and probes read
    * only the label partitions they prune to; the relabel table is
    * root-move-sized, broadcastable by construction until
    * [[compactClusters]] folds it away).
    */
  def loadClusters(spark: SparkSession, path: String): ClusterStore = {
    val st = Store(spark, path)
    ClusterStore(st.read("labels"), st.read("relabels"), st.meta.getAs[Int]("prefixBuckets"))
  }

  /** Fold new edges into the SAVED component store at O(increment):
    * components untouched by the increment are neither read, written,
    * nor re-propagated.
    *
    * The algorithm is union-find with deferred path compression, kept
    * distributed end to end:
    *  1. the increment's endpoints look up their current labels via a
    *     directory-PRUNED read of the id-partitioned label table (the
    *     bounded-prefix-collect contract of every graft store), and
    *     existing root forwards apply via the broadcast relabel table;
    *  2. each touched component CONTRACTS to its root, so component
    *     re-propagation runs [[connectedComponents]] on a graph of
    *     increment size — roots + brand-new ids — never on the
    *     accumulated edge set;
    *  3. roots whose contracted component gained a smaller member
    *     forward to the new minimum in the relabel table (composed
    *     transitively, so reads stay one hop), and unseen endpoints
    *     APPEND into their hash partitions — no existing label row is
    *     rewritten (stale rows resolve through the forwarding table at
    *     read time).
    *
    * Because every root is its component's minimum member id
    * (established by [[connectedComponents]], preserved inductively
    * here: the contracted minimum is the union's minimum), absorb
    * equals a from-scratch rebuild over the accumulated edges EXACTLY
    * — ClusteringSpec's differential and the `dedup_clusters_
    * incremental` oracle gate both assert it.
    *
    * `autoCompactAtRelabels` > 0 bounds the forwarding table: when an
    * absorb would leave more than that many relabel rows, it writes
    * the compacted store ([[compactClusters]]'s layout) in the same
    * commit, so an arbitrarily long absorb sequence never outgrows the
    * broadcast budget. 0 (the default) never auto-compacts.
    */
  def absorbEdges(
      spark: SparkSession,
      path: String,
      newEdges: DataFrame,
      aCol: String,
      bCol: String,
      autoCompactAtRelabels: Int = 0): Unit = {
    val st = loadClusters(spark, path)
    val edges = newEdges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .persist()
    val endpoints = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id")))
      .distinct()
      .persist()
    val known = Store.pruned(st.labels, "__kp",
        endpoints.select(Store.prefix(st.prefixBuckets, col("id"))))
      .join(endpoints, "id")
      .join(broadcast(st.relabels), col("cluster") === col("old_cluster"), "left")
      .select(col("id"), coalesce(col("new_cluster"), col("cluster")).as("root"))
      .persist()
    val contracted = edges
      .join(known.select(col("id").as("a"), col("root").as("__ra")), Seq("a"), "left")
      .join(known.select(col("id").as("b"), col("root").as("__rb")), Seq("b"), "left")
      .select(
        coalesce(col("__ra"), col("a")).as("src"),
        coalesce(col("__rb"), col("b")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val comp = connectedComponents(contracted, "src", "dst")
      .select(col("id").as("node"), col("cluster").as("newroot"))
    val rootMoves = known.select(col("root")).distinct()
      .join(comp, col("root") === col("node"))
      .filter(col("newroot") =!= col("root"))
      .select(col("root").as("from_root"), col("newroot"))
    // compose the existing forwards through this round's root moves so
    // resolution stays ONE broadcast hop
    val relabels = st.relabels
      .join(broadcast(rootMoves), col("new_cluster") === col("from_root"), "left")
      .select(col("old_cluster"),
        coalesce(col("newroot"), col("new_cluster")).as("new_cluster"))
      .unionByName(rootMoves.select(
        col("from_root").as("old_cluster"), col("newroot").as("new_cluster")))
      .distinct()
      .repartition(1)
      .persist()
    val newLabels = endpoints
      .join(known.select(col("id")), Seq("id"), "left_anti")
      .join(comp, col("id") === col("node"), "left")
      .select(col("id"), coalesce(col("newroot"), col("id")).as("cluster"))
    // The forwarding table must stay broadcastable: when a long absorb
    // sequence has grown it past the caller's budget, this absorb
    // writes the compacted store instead (the MicroBatchMerger
    // autoCompactEvery lifecycle, keyed on the durable store signal —
    // relabel row count — instead of a per-JVM batch counter, so the
    // trigger survives restarts and fires exactly when the broadcast
    // actually grew).
    val ops =
      if (autoCompactAtRelabels > 0 && relabels.count() > autoCompactAtRelabels)
        labelOps(spark, resolvedLabels(st.copy(
          labels = st.labels.drop("__kp").unionByName(newLabels), relabels = relabels)),
          st.prefixBuckets)
      else Seq(
        Store.Put("relabels", relabels),
        Store.Add("labels",
          newLabels.withColumn("__kp", Store.prefix(st.prefixBuckets, col("id")))
            .repartition(col("__kp")),
          Some("__kp")))
    Store.write(spark, path)(ops: _*)
    relabels.unpersist(); known.unpersist(); endpoints.unpersist(); edges.unpersist()
    ()
  }

  /** Final (id, cluster) labels of a loaded store: one broadcast hop
    * through the root-forwarding table.
    */
  def resolvedLabels(store: ClusterStore): DataFrame =
    store.labels
      .join(broadcast(store.relabels), col("cluster") === col("old_cluster"), "left")
      .select(col("id"), coalesce(col("new_cluster"), col("cluster")).as("cluster"))

  /** Fold the forwarding table into the label rows (full rewrite) and
    * reset it to empty — run when the relabel table outgrows the
    * broadcast budget, the compaction half of the store lifecycle.
    */
  def compactClusters(spark: SparkSession, path: String): Unit = {
    val st = loadClusters(spark, path)
    Store.write(spark, path)(labelOps(spark, resolvedLabels(st), st.prefixBuckets): _*)
  }
}
