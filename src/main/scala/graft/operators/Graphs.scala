package graft.operators

import graft.util.Staged

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting and local clustering coefficients over the
  * similarity/dedup graphs the other operators emit — the standard
  * cohesion diagnostics: a near-dup cluster whose members all pair
  * with each other (high coefficient) is one duplicated document; a
  * star of pairs through one hub (coefficient ~0) is a template
  * matching many distinct pages — different cleanup actions, same
  * edge count.
  *
  * Algorithm: the compact-forward/wedge-check scheme every
  * distributed triangle counter uses. Edges canonicalize to a < b;
  * wedges (a < b < c with a-b, a-c present) form by ONE self-join on
  * the lower endpoint; a second join against the canonical edge set
  * checks the closing b-c edge. Every shuffle is keyed by a node id;
  * nothing is ever broadcast or collected. Cost is sum of per-node
  * C(deg, 2) for wedge formation — the optimal-ordering refinements
  * (degree-ordered direction) exist but the canonical a < b form is
  * what replays trivially in SQL, and the dedup-graph degrees this
  * engine feeds it are bounded by construction (bucket guards upstream
  * cap cluster sizes).
  */
object Graphs {

  /** Canonical undirected edge set: a < b, self-loops and duplicate /
    * reversed edges collapsed.
    */
  private def canonical(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(
      least(col(aCol), col(bCol)).as("a"),
      greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b"))
      .distinct()

  private def integralIds(edges: DataFrame): Boolean =
    edges.schema("a").dataType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

  private def collectedEdges(edges: DataFrame): Array[(Long, Long)] =
    edges.collect().map(r => (
      r.get(0).asInstanceOf[Number].longValue,
      r.get(1).asInstanceOf[Number].longValue))

  /** Batagelj-Zaversnik core decomposition on collected canonical
    * edges: peel the minimum-degree node, its core number is the
    * running maximum of the peel threshold; O(|E| log |V|) with a
    * lazy-deletion heap. Ties peel the smaller id first — coreness is
    * order-invariant, so this only fixes iteration order.
    */
  private def driverCoreNumbers(
      edges: DataFrame): scala.collection.Map[Long, Long] = {
    val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    collectedEdges(edges).foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    val deg = scala.collection.mutable.HashMap.empty[Long, Long]
    adj.foreach { case (id, ns) => deg(id) = ns.size.toLong }
    val core = scala.collection.mutable.HashMap.empty[Long, Long]
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](
      Ordering.by[(Long, Long), (Long, Long)](identity).reverse)
    deg.foreach { case (id, d) => heap.enqueue((d, id)) }
    var k = 0L
    while (heap.nonEmpty) {
      val (d, id) = heap.dequeue()
      if (!core.contains(id) && deg(id) == d) { // lazy deletion
        k = math.max(k, d)
        core(id) = k
        adj(id).foreach { n =>
          if (!core.contains(n)) {
            deg(n) -= 1L
            heap.enqueue((deg(n), n))
          }
        }
      }
    }
    core
  }

  /** Per-node triangle participation counts; nodes in no triangle are
    * absent.
    *
    * @return (id, triangles)
    */
  def nodeTriangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = canonical(pairs, aCol, bCol).persist()
    // wedges a < b < c rooted at the minimum node
    val wedges = e.select(col("a"), col("b"))
      .join(e.select(col("a"), col("b").as("c")), Seq("a"))
      .filter(col("b") < col("c"))
    // closing edge (b, c) is canonical by construction
    val triangles = wedges
      .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
      .persist()
    val perNode = triangles.select(col("a").as("id"))
      .unionAll(triangles.select(col("b").as("id")))
      .unionAll(triangles.select(col("c").as("id")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("triangles"))
    val out = Staged.materialized(perNode, Seq(triangles))
    e.unpersist()
    out
  }

  /** Per-node local clustering coefficient on the 1e-6 grid:
    * `2·triangles div (deg·(deg-1))`, 0 for degree < 2 nodes; every
    * node of the graph appears.
    *
    * @return (id, degree, triangles, lcc_micro)
    */
  def clusteringCoefficient(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = canonical(pairs, aCol, bCol).persist()
    val deg = e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val out = deg
      .join(nodeTriangles(e, "a", "b"), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        expr("CASE WHEN degree >= 2 THEN " +
          "coalesce(triangles, 0L) * 2000000 div (degree * (degree - 1)) " +
          "ELSE 0L END").as("lcc_micro"))
    Staged.materialized(out, Seq(e))
  }

  /** k-core of the graph: the maximal subgraph in which every node
    * keeps degree >= k, found by the standard peeling iteration (drop
    * all nodes below k, recompute degrees, repeat until stable) — the
    * density lens on a dedup/similarity graph that [[nodeTriangles]]
    * complements: a k-core is a tightly duplicated region even when
    * its triangles are sparse (bipartite-ish template families), and
    * peeling is how "remove the boilerplate cluster, keep the long
    * tail" decisions bound their blast radius.
    *
    * Scale shape: each round is one map-combinable degree count and
    * two node-keyed semi-joins over the CURRENT edge set (shrinking
    * monotonically); rounds cut lineage. Convergence is detected by
    * edge count (one job per round); a graph peels in at most
    * |nodes| rounds but real graphs converge in a handful —
    * `maxRounds` caps the pathological chain.
    *
    * @return (id, degree) of the surviving nodes with their degree
    *         INSIDE the core (>= k by construction); empty when the
    *         graph has no k-core
    */
  def kCore(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxRounds: Int = 100,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(maxRounds >= 1, "maxRounds must be at least 1")
    var edges = canonical(pairs, aCol, bCol).localCheckpoint(true)
    var nEdges = edges.count()
    if (integralIds(edges) && driverMaxEdges > 0 && nEdges <= driverMaxEdges) {
      // bounded fast path (the Clustering.connectedComponents
      // analogy): distributed peeling pays one barrier round per peel
      // wave; Batagelj-Zaversnik on the collected edges is O(|E|).
      // The k-core is exactly {v : coreness(v) >= k}; degrees are
      // recounted inside the induced subgraph.
      val core = driverCoreNumbers(edges)
      val keep = core.collect { case (id, c) if c >= k => id }.toSet
      val deg = scala.collection.mutable.HashMap.empty[Long, Long]
      collectedEdges(edges).foreach { case (a, b) =>
        if (keep(a) && keep(b)) {
          deg(a) = deg.getOrElse(a, 0L) + 1L
          deg(b) = deg.getOrElse(b, 0L) + 1L
        }
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return deg.toSeq.toDF("id", "degree")
        .select(col("id").cast(edges.schema("a").dataType).as("id"), col("degree"))
    }
    var r = 0
    var stable = false
    while (!stable && r < maxRounds && nEdges > 0) {
      val keep = edges.select(col("a").as("id"))
        .unionAll(edges.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("id"))
      val pruned = edges
        .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      val n2 = pruned.count()
      stable = n2 == nEdges
      edges = pruned
      nEdges = n2
      r += 1
    }
    // at the fixpoint every surviving degree is >= k by construction;
    // if maxRounds capped an unconverged pathological chain, this is
    // the partially peeled subgraph's honest degrees (documented cap)
    edges.select(col("a").as("id"))
      .unionAll(edges.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
  }

  /** Multi-source BFS hop distances over an undirected edge list —
    * the classic beside PageRank/coreness/triangles: distance from a
    * seed set (ego networks, contamination blast radius, link-distance
    * features for dedup cluster auditing). Pregel-style frontier
    * expansion: each round joins the frontier to the symmetric
    * adjacency and anti-joins the settled set, so a round is ONE
    * node-keyed shuffle join plus one anti-join; the adjacency is
    * built once and reused (at cluster scale, pre-bucket it by source
    * node and every round's join is shuffle-free on the edge side).
    * Each fresh frontier is localCheckpoint'd — lineage stays flat
    * across high-diameter graphs instead of stacking one plan per
    * round. Unreached nodes are ABSENT (infinite distance), matching
    * the coreness family's absent zero-core nodes.
    *
    * @param seeds   one column of node ids, distance 0
    * @param maxDepth hard cap on rounds (the honest partial result if
    *                 the diameter exceeds it, like kCore's maxRounds)
    * @return (id, dist): minimal hop count from any seed
    */
  def bfsDistances(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      seeds: DataFrame,
      maxDepth: Int = 64): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be at least 1")
    val e = canonical(pairs, aCol, bCol)
    val und = e.select(col("a").as("s"), col("b").as("t"))
      .unionAll(e.select(col("b").as("s"), col("a").as("t")))
      .distinct()
      .localCheckpoint(true)
    var settled = seeds.toDF("id").distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var frontier = settled.select(col("id"))
    var d = 0L
    var n = frontier.count()
    while (n > 0 && d < maxDepth) {
      val fresh = frontier.withColumnRenamed("id", "s")
        .join(und, Seq("s"))
        .select(col("t").as("id"))
        .distinct()
        .join(settled, Seq("id"), "left_anti")
        .localCheckpoint(true)
      n = fresh.count()
      d += 1
      if (n > 0) {
        // the union of checkpointed pieces stays a flat plan: each
        // round's anti-join scans materialized frontiers, not lineage
        settled = settled.unionByName(fresh.withColumn("dist", lit(d)))
        frontier = fresh
      }
    }
    settled
  }

  /** Approximate neighborhood function via HyperBall (Boldi-Vigna,
    * "HyperANF: approximating the neighbourhood function of very
    * large graphs on a budget" / the HyperBall register-update
    * formulation; Palmer et al.'s ANF is the ancestor): every node
    * carries an m-register HyperLogLog of its ball, initialized to
    * {itself}, and each round every node maxes its registers with its
    * neighbours' — after t rounds node v's sketch estimates
    * |ball(v, t)|, and the per-round total estimates the neighborhood
    * function N(t) = |{(v, u) : dist(v, u) <= t}|. THIS is how graph
    * diameters and centralities are measured on graphs where all-pairs
    * BFS (O(V·E)) is unthinkable: O(m·V) state, one node-keyed
    * aggregation per round.
    *
    * Spark shape: registers live SPARSE as (id, idx, reg) rows — a
    * round is one join of the register table to the adjacency plus one
    * map-combinable groupBy max, so hub nodes cost a combiner, never a
    * per-node array collect. Register ranks are exact integer algebra:
    * bucket = hash mod m, rank = length(bin(lowest set bit of
    * hash div m)) — no floating log in the sketch itself. Rounds stop
    * at the register fixpoint (t = the graph's diameter) or maxDepth.
    *
    * @return one row per depth t = 0..diameter: (t, est_pairs), the
    *         HLL estimate of N(t) (alpha-corrected harmonic mean with
    *         the standard small-range linear counting)
    */
  def hyperBall(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      m: Int = 64,
      maxDepth: Int = 64): DataFrame = {
    require(m >= 16 && Integer.bitCount(m) == 1, "m must be a power of two >= 16")
    require(maxDepth >= 1, "maxDepth must be at least 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = canonical(pairs, aCol, bCol)
    val und = e.select(col("a").as("s"), col("b").as("t"))
      .unionAll(e.select(col("b").as("s"), col("a").as("t")))
      .distinct()
      .localCheckpoint(true)
    val nodes = und.select(col("s").as("id")).distinct()
    // one sparse register per node to start: its own hash. Bucket is
    // the low log2(m) bits; the rank is ntz+1 of the UNSIGNED-shifted
    // suffix (geometric(1/2), same law as leading zeros) — computed by
    // exact integer algebra: length(bin(lowest set bit)) = ntz + 1.
    val log2m = Integer.numberOfTrailingZeros(m)
    val hash = xxhash64(col("id"), lit("hyperball"))
    val suffix = shiftrightunsigned(hash, log2m)
    var regs = nodes
      .withColumn("idx", pmod(hash, lit(m.toLong)).cast("int"))
      .withColumn("reg",
        when(suffix === 0, lit(65 - log2m))
          .otherwise(length(bin(suffix.bitwiseAND(-suffix)))).cast("int"))
      .select(col("id"), col("idx"), col("reg"))
      .localCheckpoint(true)
    // standard HLL bias constants: the asymptotic formula only holds
    // from m = 64 up; 16 and 32 have their own published values
    // (using the asymptotic one there is a systematic 1-4% bias on
    // top of the sketch error)
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    // ONE aggregation per round serves both the N(t) estimate and the
    // fixpoint test (registers only grow, so unchanged (row count,
    // register sum) means no register moved). Absent sparse registers
    // are zeros: they add 2^0 = 1 each to the harmonic sum, and they
    // ARE the linear-counting zero count.
    def roundStats(r: DataFrame): (Double, Long, Long) = {
      val row = r.groupBy(col("id"))
        .agg(sum(pow(lit(2.0), -col("reg"))).as("harm"),
          count(lit(1)).as("present"),
          sum(col("reg")).as("regsum"))
        .select(
          (lit(alpha * m * m) /
            (col("harm") + (lit(m.toDouble) - col("present")))).as("raw"),
          (lit(m.toLong) - col("present")).as("zeros"),
          col("present"), col("regsum"))
        // small-range correction: linear counting when zeros remain
        // and raw is under 2.5m (the standard HLL regime split)
        .select(when(col("zeros") > 0 && col("raw") < lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("raw")).as("est"),
          col("present"), col("regsum"))
        .agg(sum(col("est")), sum(col("present")), sum(col("regsum"))).head
      (row.getDouble(0), row.getLong(1), row.getLong(2))
    }
    val s0 = roundStats(regs)
    val out = scala.collection.mutable.ArrayBuffer((0L, s0._1))
    var prev = (s0._2, s0._3)
    var t = 0L
    var stable = false
    while (!stable && t < maxDepth) {
      val contrib = regs.join(und, regs("id") === und("s"))
        .select(und("t").as("id"), col("idx"), col("reg"))
      val merged = regs.unionAll(contrib)
        .groupBy(col("id"), col("idx")).agg(max(col("reg")).as("reg"))
        .localCheckpoint(true)
      val cur = roundStats(merged)
      stable = (cur._2, cur._3) == prev
      prev = (cur._2, cur._3)
      regs = merged
      t += 1
      if (!stable) out += ((t, cur._1))
    }
    out.toSeq.toDF("t", "est_pairs")
  }

  /** EXACT neighborhood function by simultaneous all-sources BFS over
    * (src, node) pairs — the O(V^2) ground truth [[hyperBall]]
    * estimates. Only for clamped fixtures and tests: the pair table is
    * quadratic in nodes by definition (that being unthinkable at scale
    * is exactly why HyperBall exists).
    *
    * @return one row per depth t = 0..diameter: (t, exact_pairs),
    *         cumulative |{(v, u) : dist(v, u) <= t}|
    */
  def ballSizesExact(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxDepth: Int = 64): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = canonical(pairs, aCol, bCol)
    val und = e.select(col("a").as("s"), col("b").as("t"))
      .unionAll(e.select(col("b").as("s"), col("a").as("t")))
      .distinct()
      .localCheckpoint(true)
    var settled = und.select(col("s").as("src")).distinct()
      .select(col("src"), col("src").as("node"))
      .localCheckpoint(true)
    var frontier = settled
    val out = scala.collection.mutable.ArrayBuffer((0L, settled.count()))
    var t = 0L
    var n = 1L
    while (n > 0 && t < maxDepth) {
      val fresh = frontier.withColumnRenamed("node", "s")
        .join(und, Seq("s"))
        .select(col("src"), col("t").as("node"))
        .distinct()
        .join(settled, Seq("src", "node"), "left_anti")
        .localCheckpoint(true)
      n = fresh.count()
      t += 1
      if (n > 0) {
        settled = settled.unionByName(fresh)
        frontier = fresh
        out += ((t, out.last._2 + n))
      }
    }
    out.toSeq.toDF("t", "exact_pairs")
  }

  /** FULL coreness decomposition: every node's core number (the
    * largest k for which it survives in the k-core) in one
    * monotonically shrinking peeling pass — the whole-spectrum density
    * map [[kCore]] samples at a single k. Phases run k = 1, 2, …: each
    * phase peels the current subgraph to its k-core fixpoint (the
    * [[kCore]] inner loop), and the nodes that vanish during phase k
    * are exactly the (k-1)-core members outside the k-core — core
    * number k-1. Terminates when the edge set empties; the phase
    * count is the graph's degeneracy + 1, and every inner round is one
    * map-combinable degree count plus two node-keyed semi-joins over
    * an edge set that only ever shrinks. Nodes with no edge are absent
    * (their core number is 0 and they never enter the edge table).
    *
    * @return (id, coreness), one row per node with at least one edge;
    *         coreness >= 1
    */
  /** Diagnostic telemetry of the LAST distributed [[coreness]] run in
    * this JVM (peel phases completed / degree-agg rounds executed; -1
    * until a distributed run happens). Drill/bench instrumentation
    * only — racy under concurrent coreness calls, never read by the
    * operator itself.
    */
  private[graft] val lastPeelPhases = new java.util.concurrent.atomic.AtomicLong(-1L)
  private[graft] val lastPeelRounds = new java.util.concurrent.atomic.AtomicLong(-1L)

  def coreness(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 1000,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be at least 1")
    def nodesOf(e: DataFrame): DataFrame =
      e.select(col("a").as("id")).unionAll(e.select(col("b").as("id"))).distinct()
    var edges = canonical(pairs, aCol, bCol).localCheckpoint(true)
    var nEdges = edges.count()
    if (integralIds(edges) && driverMaxEdges > 0 && nEdges <= driverMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      return driverCoreNumbers(edges).toSeq.toDF("id", "coreness")
        .select(col("id").cast(edges.schema("a").dataType).as("id"), col("coreness"))
    }
    var live = nodesOf(edges).localCheckpoint(true)
    val phases = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var k = 1L
    var rounds = 0
    while (nEdges > 0 && rounds < maxRounds) {
      // peel the current subgraph to its k-core fixpoint; the fixpoint
      // degree agg doubles as the JUMP probe — when the surviving
      // minimum degree d exceeds k, phases k+1..d would each peel
      // nothing (a clique of m pays m-1 no-op phases otherwise), so
      // the next threshold starts at d+1 directly. A node's coreness
      // is still the threshold that removed it minus 1: nothing is
      // removed during a jump.
      var stable = false
      var minDeg = k
      while (!stable && nEdges > 0 && rounds < maxRounds) {
        val deg = edges.select(col("a").as("id"))
          .unionAll(edges.select(col("b").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("__d"))
          .persist()
        minDeg = deg.agg(coalesce(min(col("__d")), lit(0L))).head().getLong(0)
        if (minDeg >= k) stable = true
        else {
          val keep = deg.filter(col("__d") >= k).select(col("id"))
          val pruned = edges
            .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
            .select(col("a"), col("b"))
            .localCheckpoint(true)
          nEdges = pruned.count()
          Staged.release(edges)
          edges = pruned
        }
        deg.unpersist()
        rounds += 1
      }
      val survivors = nodesOf(edges).localCheckpoint(true)
      val dropped = live
        .join(survivors, Seq("id"), "left_anti")
        .select(col("id"), lit(k - 1L).cast("long").as("coreness"))
        .localCheckpoint(true)
      phases += dropped
      Staged.release(live)
      live = survivors
      // advance only when the phase COMPLETED: everything still alive
      // then has degree >= minDeg, so jump past the no-op thresholds.
      // A maxRounds-truncated phase proves nothing beyond (k-1)-core
      // membership — k must NOT move, or the exhaustion tail below
      // would overstate the survivors' coreness.
      if (stable) k = math.max(k + 1, minDeg + 1)
    }
    lastPeelPhases.set(phases.size.toLong)
    lastPeelRounds.set(rounds.toLong)
    // maxRounds exhaustion on a pathological chain leaves `live`
    // un-assigned; give those nodes their last PROVEN level (k-1: they
    // are in the (k-1)-core, the k-peel never finished) so the output
    // is total over every peeled-or-surviving node
    val tail =
      if (nEdges > 0) Seq(live.select(col("id"), lit(k - 1L).cast("long").as("coreness")))
      else Seq.empty
    (phases.toSeq ++ tail).reduceOption(_ unionAll _)
      .getOrElse(live.select(col("id"), lit(0L).as("coreness")).limit(0))
  }

  /** Whole-graph totals: triangle count, wedge (open-path) count, and
    * the global clustering coefficient `3·triangles div wedges` on the
    * 1e-6 grid (0 when the graph has no wedge).
    *
    * @return one row (n_nodes, n_edges, n_wedges, n_triangles,
    *         gcc_micro)
    */
  def triangleStats(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = canonical(pairs, aCol, bCol).persist()
    val deg = e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__d"))
    val wedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("__d * (__d - 1) div 2")), lit(0L)).as("n_wedges"))
    val tri = nodeTriangles(e, "a", "b")
      .agg(coalesce(sum(col("triangles")), lit(0L)).as("__t3"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    val out = wedges
      .crossJoin(broadcast(edges))
      .crossJoin(broadcast(tri))
      .select(
        col("n_nodes"), col("n_edges"), col("n_wedges"),
        expr("__t3 div 3").as("n_triangles"),
        expr("CASE WHEN n_wedges > 0 THEN __t3 * 1000000 div n_wedges " +
          "ELSE 0L END").as("gcc_micro"))
    Staged.materialized(out, Seq(e))
  }
}
