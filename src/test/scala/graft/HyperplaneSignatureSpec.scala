package graft

import graft.functions.VectorFunctions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native HyperplaneSignature expression must be bit-for-bit
  * identical to the HOF formulation it replaced — same xxhash64-derived
  * components, same null/empty semantics — across dims, bits and seeds.
  */
class HyperplaneSignatureSpec extends SparkSpec {
  import spark.implicits._

  /** Higher-order-function formulation of
    * [[VectorFunctions.hyperplaneSignature]] (differential reference):
    * bit i is the sign of the projection onto hyperplane i, whose
    * components are `xxhash64(i, j, seed)` mapped to [-1, 1).
    */
  private def hyperplaneSignatureHof(vec: Column, bits: Int, seed: Int): Column = {
    require(bits > 0 && bits < 64, "bits must be in [1, 63]")
    def hashToUnit(i: Column, j: Column): Column =
      (pmod(xxhash64(i, j, lit(seed)), lit(1000003L)).cast("double") / lit(500001.5)) - lit(1.0)
    val bitCols = (0 until bits).map { i =>
      // projection_i = sum_j vec[j] * h(i, j)
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, j) => x.cast("double") * hashToUnit(lit(i), j)),
        lit(0.0),
        (acc, x) => acc + x)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_.bitwiseOR(_))
  }

  private def vectors(dims: Int, n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n)
      .map(i => (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "vec")
  }

  test("native expression matches the HOF reference bit-for-bit") {
    for (dims <- Seq(1, 3, 32, 64); bits <- Seq(1, 16, 32, 63)) {
      val df = vectors(dims, 50, seed = dims * 100 + bits)
      val mismatches = df
        .select(
          VectorFunctions.hyperplaneSignature(col("vec"), bits, seed = 41).as("native"),
          hyperplaneSignatureHof(col("vec"), bits, seed = 41).as("hof"))
        .filter(col("native") =!= col("hof"))
        .count()
      assert(mismatches == 0, s"dims=$dims bits=$bits: native != HOF")
    }
  }

  test("seed changes the signature; same seed reproduces it") {
    val df = vectors(16, 20, seed = 7)
    val a = df.select(VectorFunctions.hyperplaneSignature(col("vec"), 32, 41).as("s"))
      .as[Long].collect().toSeq
    val b = df.select(VectorFunctions.hyperplaneSignature(col("vec"), 32, 41).as("s"))
      .as[Long].collect().toSeq
    val c = df.select(VectorFunctions.hyperplaneSignature(col("vec"), 32, 42).as("s"))
      .as[Long].collect().toSeq
    assert(a == b)
    assert(a != c)
  }

  test("edge cases: empty vector, null element, null vector, double input") {
    val df = Seq(
      (1L, Some(Array(0.5f, -0.25f))),
      (2L, Some(Array.empty[Float])),
      (3L, None))
      .toDF("id", "vec")
    val withNullElem = df.union(
      Seq((4L, Option(Array(1.0f)))).toDF("id", "vec")
        .select(col("id"), array(lit(null).cast("float"), lit(2.0f)).as("vec")))
    val out = withNullElem
      .select(col("id"),
        VectorFunctions.hyperplaneSignature(col("vec"), 8, 41).as("native"),
        hyperplaneSignatureHof(col("vec"), 8, 41).as("hof"))
      .orderBy("id")
      .collect()
    out.filter(_.getLong(0) != 3L).foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"nullability diverged for id=${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getLong(1) == r.getLong(2), s"value diverged for id=${r.getLong(0)}")
    }
    // empty vector -> 0 in both
    assert(out.find(_.getLong(0) == 2L).get.getLong(1) == 0L)
    // null vector: the native expression propagates null (documented
    // divergence); the HOF form degenerated to 0L
    val nullRow = out.find(_.getLong(0) == 3L).get
    assert(nullRow.isNullAt(1) && !nullRow.isNullAt(2) && nullRow.getLong(2) == 0L)

    // array<double> accepted
    val dbl = Seq((1L, Array(0.1, -0.9, 0.4))).toDF("id", "vec")
      .select(
        VectorFunctions.hyperplaneSignature(col("vec"), 16, 41).as("native"),
        hyperplaneSignatureHof(col("vec"), 16, 41).as("hof"))
      .collect().head
    assert(dbl.getLong(0) == dbl.getLong(1))
  }
}
