package graft

import graft.operators.Clustering

import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Clustering.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** Reference union-find on the driver. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chains, cliques, and singleton-free output") {
    // chain 5-4-3-2-1 (worst diameter), separate triangle, separate pair
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val got = components(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("differential vs union-find on a 1k-edge random graph") {
    val rnd = new scala.util.Random(99)
    val edges = Seq.fill(1000)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter(e => e._1 != e._2)
    assert(components(edges) == unionFind(edges))
  }

  test("duplicate and reversed edges are tolerated") {
    val got = components(Seq((1L, 2L), (2L, 1L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("distributed loop == driver fast path on chains and random graphs") {
    val rnd = new scala.util.Random(7)
    val chain = (1L until 40L).map(i => (i + 1, i))
    val random = Seq.fill(800)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(e => e._1 != e._2)
    for (edges <- Seq(chain, random)) {
      val viaDriver = Clustering
        .connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      val viaLoop = Clustering
        .connectedComponents(edges.toDF("a", "b"), "a", "b", driverMaxEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(viaDriver == viaLoop)
      assert(viaDriver == unionFind(edges))
    }
  }

  test("driver fast path preserves integer id types and self-loops") {
    val got = Clustering
      .connectedComponents(
        Seq((1, 2), (2, 3), (7, 7)).toDF("a", "b"), "a", "b")
    assert(got.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(got.as[(Int, Int)].collect().toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7))
  }

  test("non-integral ids take the distributed loop and still label minima") {
    val got = Clustering
      .connectedComponents(
        Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("u", "v"), "u", "v")
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("empty pair set yields empty labeling") {
    val empty = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    assert(Clustering.connectedComponents(empty, "a", "b").count() == 0)
  }

  private def resolved(path: String): Map[Long, Long] =
    Clustering.resolvedLabels(Clustering.loadClusters(spark, path))
      .as[(Long, Long)].collect().toMap

  test("absorbEdges == rebuild across batches with cross-component merges") {
    val dir = tmpDir("clstore")
    val rnd = new scala.util.Random(7)
    val all = Seq.fill(900)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(e => e._1 != e._2)
    // batch 1 builds the store; batches 2-3 absorb — the random graph
    // guarantees merges across existing components and brand-new nodes
    val (b1, rest) = all.splitAt(300)
    val (b2, b3) = rest.splitAt(300)
    Clustering.saveClusters(
      Clustering.connectedComponents(b1.toDF("a", "b"), "a", "b"),
      dir, prefixBuckets = 16)
    Clustering.absorbEdges(spark, dir, b2.toDF("a", "b"), "a", "b")
    Clustering.absorbEdges(spark, dir, b3.toDF("a", "b"), "a", "b")
    assert(resolved(dir) == unionFind(all))
    // compaction folds the forwarding table away without changing labels
    Clustering.compactClusters(spark, dir)
    val st = Clustering.loadClusters(spark, dir)
    assert(st.relabels.count() == 0)
    assert(resolved(dir) == unionFind(all))
  }

  test("auto-compaction keeps the forwarding table bounded over a long absorb run") {
    val dir = tmpDir("clstore-auto")
    // every batch links a new SMALLER id onto the chain, so each absorb
    // moves the component root and grows the forwarding table by a row
    // — the worst case for relabel accumulation
    Clustering.saveClusters(
      Clustering.connectedComponents(Seq((100L, 101L)).toDF("a", "b"), "a", "b"),
      dir, prefixBuckets = 8)
    val threshold = 10
    var edges = Seq((100L, 101L))
    (1 to 50).foreach { k =>
      val e = (100L - k, 100L - k + 1)
      edges = edges :+ e
      Clustering.absorbEdges(spark, dir, Seq(e).toDF("a", "b"), "a", "b",
        autoCompactAtRelabels = threshold)
      val n = Clustering.loadClusters(spark, dir).relabels.count()
      assert(n <= threshold, s"after batch $k the relabel table held $n rows")
    }
    assert(resolved(dir) == unionFind(edges))
    // the whole chain collapsed to one root: the global minimum id
    assert(resolved(dir).values.toSet == Set(50L))
  }

  test("absorbEdges handles intra-component and self edges as no-ops") {
    val dir = tmpDir("clstore2")
    Clustering.saveClusters(
      Clustering.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b"),
      dir, prefixBuckets = 8)
    // an edge inside {1,2,3}, a self edge, and a lone new self edge
    Clustering.absorbEdges(spark, dir,
      Seq((3L, 1L), (2L, 2L), (42L, 42L)).toDF("a", "b"), "a", "b")
    assert(resolved(dir) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 42L -> 42L))
  }

  test("labelPropagation keeps bridged cliques apart where CC fuses them") {
    // two 5-cliques bridged by one edge: one component, two communities
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(1L to 5L) ++ clique(11L to 15L) :+ ((5L, 11L)))
      .toDF("a", "b")
    assert(Clustering.connectedComponents(edges, "a", "b")
      .select("cluster").distinct().count() == 1)
    val lpa = Clustering.labelPropagation(edges, "a", "b", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).map(lpa).toSet.size == 1, s"left clique split: $lpa")
    assert((11L to 15L).map(lpa).toSet.size == 1, s"right clique split: $lpa")
    assert(lpa(1L) != lpa(12L), s"bridge fused the communities: $lpa")
  }

  test("labelPropagation convergeWhenStable stops at the fixed point") {
    // 4-clique with a pendant chain: labels need ~5 synchronous rounds
    // to flood to the chain tip, so 2 rounds are NOT converged but a
    // generous ceiling is
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ++
      Seq((4L, 5L), (5L, 6L), (6L, 7L))).toDF("a", "b")
    def run(rounds: Int, converge: Boolean) =
      Clustering.labelPropagation(edges, "a", "b", rounds, converge)
        .as[(Long, Long)].collect().toMap
    val converged = run(rounds = 20, converge = true)
    assert(converged == run(rounds = 20, converge = false),
      "early stop must equal the full fixed-round result")
    assert(converged.values.toSet == Set(1L), "the flood must reach the chain tip")
    assert(run(rounds = 2, converge = false) != converged,
      "fixture must NOT be converged at 2 rounds")
    // stopping exactly at the fixed point: any larger ceiling is identical
    assert(run(rounds = 6, converge = true) == converged)
  }

  test("labelPropagation rounds are deterministic with min-label ties") {
    // a 3-clique: round 1 gives every node the min of the OTHERS,
    // round 2 settles all on the global min
    val edges = Seq((7L, 8L), (8L, 9L), (7L, 9L)).toDF("a", "b")
    val got = Clustering.labelPropagation(edges, "a", "b", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(7L -> 7L, 8L -> 7L, 9L -> 7L))
    val r0 = Clustering.labelPropagation(edges, "a", "b", rounds = 0)
      .as[(Long, Long)].collect().toMap
    assert(r0 == Map(7L -> 7L, 8L -> 8L, 9L -> 9L))
  }

  test("absorbEdges bridges two existing components through a new node") {
    val dir = tmpDir("clstore3")
    Clustering.saveClusters(
      Clustering.connectedComponents(
        Seq((5L, 6L), (20L, 21L)).toDF("a", "b"), "a", "b"),
      dir, prefixBuckets = 8)
    Clustering.absorbEdges(spark, dir,
      Seq((6L, 100L), (100L, 21L)).toDF("a", "b"), "a", "b")
    assert(resolved(dir) ==
      Map(5L -> 5L, 6L -> 5L, 20L -> 5L, 21L -> 5L, 100L -> 5L))
  }
}
