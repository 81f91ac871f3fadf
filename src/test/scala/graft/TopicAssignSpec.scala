package graft

import graft.operators.TopicAssign

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class TopicAssignSpec extends SparkSpec {
  import spark.implicits._

  /** HOF twin of [[TopicAssign.assigned]] — k interpreted distance
    * folds + a struct-min argmin: the differential reference for the
    * native expression; the SQL gate replays this exact shape.
    */
  private def assignedHof(vec: Column, centroids: Seq[(Int, Seq[Long])]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val q = TopicAssign.quantize(vec)
    val dists = centroids.sortBy(_._1).map { case (label, c) =>
      val d = aggregate(
        zip_with(q, typedLit(c), (a, b) => (a - b) * (a - b)),
        lit(0L),
        (acc, x) => acc + x)
      struct(d.as("d"), lit(label).as("l"))
    }
    array_min(array(dists: _*)).getField("l")
  }

  // three planted clusters around (1,0), (0,1), (-1,-1) with small
  // deterministic jitter; 2 dims keep the math inspectable
  private lazy val planted = (0 until 30).map { i =>
    val label = i % 3
    val j = (i / 3).toFloat / 100f
    val (x, y) = label match {
      case 0 => (1f + j, j)
      case 1 => (j, 1f - j)
      case _ => (-1f - j, -1f + j)
    }
    (i.toLong, label, Seq(x, y))
  }.toDF("vec_id", "label", "embedding")

  test("labelCentroids: exact integer-grid means, one row per label") {
    val cents = TopicAssign.collectCentroids(
      TopicAssign.labelCentroids(planted, "label", "embedding"))
    assert(cents.map(_._1) == Seq(0, 1, 2))
    // label 0 xs: 1 + j for j in 0.00..0.09 -> grid sum known exactly
    val xs = (0 until 10).map(k => math.floor((1f + k / 100f).toDouble * 1e6).toLong)
    assert(cents.head._2.head == math.floor(xs.sum.toDouble / 10).toLong)
  }

  test("assign: planted clusters recover their labels exactly") {
    val cents = TopicAssign.collectCentroids(
      TopicAssign.labelCentroids(planted, "label", "embedding"))
    val out = TopicAssign.assign(planted, "vec_id", "label", "embedding", cents)
    assert(out.filter(!col("correct")).count() == 0)
  }

  test("native and HOF assignment agree row-for-row (incl. tie to lower label)") {
    val cents = Seq(
      (5, Seq(0L, 0L)),
      (7, Seq(2000000L, 0L)),
      (9, Seq(2000000L, 0L))) // duplicate centroid: tie must go to 7
    val vecs = Seq(
      (1L, Seq(0.1f, 0.1f)),
      (2L, Seq(1.9f, -0.2f)),
      (3L, Seq(1.0f, 0.0f)), // equidistant 5 vs 7 on the grid: lower label wins
      (4L, Seq(2.0f, 0.0f))) // exact duplicate-centroid hit: 7 beats 9
      .toDF("vec_id", "embedding")
    val native = vecs.select(col("vec_id"),
      TopicAssign.assigned(col("embedding"), cents).as("a"))
    val hof = vecs.select(col("vec_id"),
      assignedHof(col("embedding"), cents).as("a"))
    assert(native.collect().map(_.toSeq).toSet == hof.collect().map(_.toSeq).toSet)
    val byId = native.as[(Long, Int)].collect().toMap
    assert(byId(3L) == 5, s"equidistant tie must take the lower label, got ${byId(3L)}")
    assert(byId(4L) == 7, s"duplicate centroid tie must take the lower label, got ${byId(4L)}")
  }

  test("assignment is a shuffle-free stateless projection") {
    val cents = TopicAssign.collectCentroids(
      TopicAssign.labelCentroids(planted, "label", "embedding"))
    val out = planted.select(TopicAssign.assigned(col("embedding"), cents).as("a"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }
}
