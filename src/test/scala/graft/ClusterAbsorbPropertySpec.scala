package graft

import graft.operators.Clustering

import scala.util.Random

/** Property check of the incremental-component-store invariant: over
  * seeded-random graphs split into random numbers of absorb batches
  * (including batches that are pure no-ops, pure merges, or entirely
  * new nodes), the resolved labels after the final absorb must equal
  * the from-scratch union-find — the min-root induction exercised
  * across arbitrary interleavings.
  */
class ClusterAbsorbPropertySpec extends SparkSpec {
  import spark.implicits._

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

  test("random graphs, random batch splits: resolved labels == union-find") {
    val rnd = new Random(811L)
    for (trial <- 1 to 4) {
      val nNodes = 60 + rnd.nextInt(120)
      val nEdges = 80 + rnd.nextInt(200)
      val all = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      val nBatches = 2 + rnd.nextInt(4)
      val batches = all.grouped(math.max(all.size / nBatches, 1)).toSeq
      val dir = tmpDir(s"clprop$trial")
      Clustering.saveClusters(
        Clustering.connectedComponents(batches.head.toDF("a", "b"), "a", "b"),
        dir, prefixBuckets = 8)
      batches.tail.foreach { b =>
        Clustering.absorbEdges(spark, dir, b.toDF("a", "b"), "a", "b")
      }
      val got = Clustering
        .resolvedLabels(Clustering.loadClusters(spark, dir))
        .as[(Long, Long)].collect().toMap
      val want = unionFind(all.filter(e => e._1 != e._2))
      assert(got == want, s"trial $trial diverged")
    }
  }
}
