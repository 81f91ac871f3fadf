package graft

import graft.operators.IvfAnn

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native [[graft.functions.ProbeListsArray]] must emit
  * LIST-FOR-LIST the probe lists of the interpreted HOF composition it
  * replaced (`probeListsColHof` below): same members, same order,
  * same ties-to-lower-index, same corner semantics. Differential over
  * DataFrames so both forms run their real (codegen) paths.
  */
class ProbeListsNativeSpec extends SparkSpec {
  import spark.implicits._

  /** The interpreted HOF form of [[IvfAnn.probeListsCol]] (differential
    * reference): cosine to every centroid, an array sort per row, the
    * first `nprobe` indices.
    */
  private def probeListsColHof(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column = {
    require(nprobe > 0, "nprobe must be positive")
    val cents = typedLit(centroids.map(_.toSeq).toSeq)
    val idx = sequence(lit(0), lit(centroids.length - 1))
    val scored = zip_with(cents, idx, (c, i) =>
      struct((-graft.functions.VectorFunctions.cosine(vec, c)).as("negcos"), i.as("idx")))
    transform(
      slice(array_sort(scored), 1, math.min(nprobe, centroids.length)),
      s => s.getField("idx"))
  }

  private def randCentroids(k: Int, dims: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(k)(Array.fill(dims)(((rng.nextDouble() * 4 - 2).toFloat).toDouble))
  }

  private def randVecs(n: Int, dims: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dims)((rng.nextDouble() * 4 - 2).toFloat)))
  }

  private def both(vecs: Seq[(Long, Seq[Float])], cents: Array[Array[Double]],
      nprobe: Int): (Map[Long, Seq[Int]], Map[Long, Seq[Int]]) = {
    val df = vecs.toDF("id", "v")
    val native = df.select(col("id"), IvfAnn.probeListsCol(col("v"), cents, nprobe).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    val hof = df.select(col("id"), probeListsColHof(col("v"), cents, nprobe).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    (native, hof)
  }

  test("pruned path (k >= 128): native equals HOF list-for-list") {
    val cents = randCentroids(180, 32, 42L)
    val (n, h) = both(randVecs(250, 32, 7L), cents, nprobe = 4)
    assert(n == h)
  }

  test("flat path (k < 128) and nprobe >= k: native equals HOF") {
    val cents = randCentroids(24, 16, 5L)
    val (n1, h1) = both(randVecs(120, 16, 9L), cents, nprobe = 3)
    assert(n1 == h1)
    val (n2, h2) = both(randVecs(60, 16, 13L), cents, nprobe = 50)
    assert(n2 == h2)
  }

  test("duplicate centroids: ties resolve to the lower index in both forms") {
    val base = randCentroids(160, 16, 11L)
    base(131) = base(17).clone() // exact duplicate -> identical cosine
    base(90) = base(2).clone()
    val queries = randVecs(100, 16, 21L) ++
      Seq((1000L, base(17).map(_.toFloat).toSeq), (1001L, base(2).map(_.toFloat).toSeq))
    val (n, h) = both(queries, base, nprobe = 6)
    assert(n == h)
    assert(n(1000L).contains(17))
    assert(n(1001L).contains(2))
  }

  test("corner rows: null element and dimension mismatch match the HOF result") {
    val cents = randCentroids(150, 8, 3L)
    val df = Seq(
      (1L, Seq[Option[Float]](Some(1f), Some(2f), None, Some(0f), Some(1f), Some(1f), Some(1f), Some(1f))),
      (2L, Seq[Option[Float]](Some(1f), Some(2f))) // wrong dims
    ).toDF("id", "v")
    val native = df.select(col("id"), IvfAnn.probeListsCol(col("v"), cents, 3).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    val hof = df.select(col("id"), probeListsColHof(col("v"), cents, 3).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(native == hof)
    assert(native(1L) == Seq(0, 1, 2)) // all-null cosines order by idx
  }

  test("zero-norm query throws in both forms (ANSI divide-by-zero)") {
    val cents = randCentroids(150, 8, 17L)
    val zeros = Seq((1L, Seq.fill(8)(0f))).toDF("id", "v")
    val eN = intercept[Throwable] {
      zeros.select(IvfAnn.probeListsCol(col("v"), cents, 2)).collect()
    }
    val eH = intercept[Throwable] {
      zeros.select(probeListsColHof(col("v"), cents, 2)).collect()
    }
    def msg(t: Throwable): String =
      (Option(t.getMessage).toSeq ++ Option(t.getCause).map(_.getMessage).toSeq).mkString(" ")
    assert(msg(eN).contains("DIVIDE_BY_ZERO") || msg(eN.getCause).contains("DIVIDE_BY_ZERO"))
    assert(msg(eH).contains("DIVIDE_BY_ZERO") || msg(eH.getCause).contains("DIVIDE_BY_ZERO"))
  }
}
