package graft

import graft.operators.QuantileSketch

import org.apache.spark.sql.functions._

/** Log-bucket quantile sketch: bucket arithmetic, the relative-error
  * bound, merge==rebuild, and quantile queries vs exact order
  * statistics.
  */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private val m = 7

  test("bucketOf is the identity below 2^(m+1) and truncates above") {
    val vs = Seq(1L, 2L, 200L, 255L, 256L, 257L, 511L, 512L, 1000L,
      123456789L, Long.MaxValue)
    val got = vs.toDF("v").select(col("v"),
      QuantileSketch.bucketOf(col("v"), m).as("b"))
      .as[(Long, Long)].collect().toMap
    // below 2^8 = 256 the value carries <= m+1 significant bits: exact
    assert(got(1L) == 1L && got(200L) == 200L && got(255L) == 255L)
    assert(got(256L) == 256L && got(257L) == 256L)
    assert(got(511L) == 510L) // 511 = 0b111111111 -> drop lowest bit
    assert(got(512L) == 512L)
    // reference model: zero everything below the top m+1 bits
    def ref(v: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val s = math.max(0, e - m)
      (v >> s) << s
    }
    vs.foreach(v => assert(got(v) == ref(v), s"v=$v"))
  }

  test("bucketOf is monotone and within the relative-error bound") {
    val rnd = new scala.util.Random(42)
    val vs = (Seq(1L, 2L, 3L, Long.MaxValue) ++
      (1 to 500).map(_ => math.abs(rnd.nextLong()) % (1L << 60) + 1)).distinct.sorted
    val bs = vs.toDF("v")
      .select(QuantileSketch.bucketOf(col("v"), m).as("b"), col("v"))
      .orderBy(col("v"))
      .as[(Long, Long)].collect()
    bs.sliding(2).foreach {
      case Array((b1, _), (b2, _)) => assert(b1 <= b2)
      case _ =>
    }
    bs.foreach { case (b, v) =>
      assert(b <= v && v - b <= (b >> m), s"v=$v b=$b")
    }
  }

  test("merge of two halves equals the sketch of the union") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 2000).map(i =>
      (s"k${i % 3}", math.abs(rnd.nextLong()) % 1000000L + 1))
    val (h1, h2) = rows.splitAt(900)
    val all = QuantileSketch.build(rows.toDF("k", "v"), Seq("k"), col("v"), m)
    val merged = QuantileSketch.merge(
      QuantileSketch.build(h1.toDF("k", "v"), Seq("k"), col("v"), m),
      QuantileSketch.build(h2.toDF("k", "v"), Seq("k"), col("v"), m),
      Seq("k"))
    val a = all.orderBy(col("k"), col("__qb")).as[(String, Long, Long)].collect().toSeq
    val b = merged.orderBy(col("k"), col("__qb")).as[(String, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("quantiles are exact when every value fits an exact bucket") {
    // 1..100 all below 256: bucket == value, so estimates ARE the
    // type-1 order statistics
    val df = (1L to 100L).map(("k", _)).toDF("k", "v")
    val sk = QuantileSketch.build(df, Seq("k"), col("v"), m)
    val q = QuantileSketch.quantiles(sk, Seq("k"),
      Seq(("p50", 1, 2), ("p95", 19, 20), ("p100", 1, 1)))
      .as[(String, Long, Long, Long)].collect().head
    assert(q == (("k", 50L, 95L, 100L)), s"got $q")
  }

  test("quantile estimates respect the error bound vs exact ranks") {
    val rnd = new scala.util.Random(11)
    // heavy-tailed spread across many exponents
    val rows = (1 to 5000).map { i =>
      val mag = rnd.nextInt(40)
      (s"g${i % 2}", (math.abs(rnd.nextLong()) % (1L << mag)) + 1)
    }
    val df = rows.toDF("k", "v")
    val sk = QuantileSketch.build(df, Seq("k"), col("v"), m)
    val qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
    val est = QuantileSketch.quantiles(sk, Seq("k"), qs)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    for ((k, grp) <- rows.groupBy(_._1)) {
      val sorted = grp.map(_._2).sorted
      def exact(num: Int, den: Int): Long =
        sorted((num.toLong * sorted.size + den - 1).toInt / den - 1)
      val (e50, e90, e99) = (exact(1, 2), exact(9, 10), exact(99, 100))
      val (a50, a90, a99) = est(k)
      for ((a, e) <- Seq((a50, e50), (a90, e90), (a99, e99)))
        assert(a <= e && e - a <= (a >> m), s"k=$k est=$a exact=$e")
    }
  }

  test("persisted store: absorb == rebuild, untouched partitions unread") {
    val dir = tmpDir("qsk-store")
    val rnd = new scala.util.Random(3)
    val base = (1 to 3000).map(i => (s"k${i % 8}", math.abs(rnd.nextLong()) % 500000L + 1))
    val inc = (1 to 500).map(i => (s"k${i % 2}", math.abs(rnd.nextLong()) % 500000L + 1))
    QuantileSketch.save(
      QuantileSketch.build(base.toDF("k", "v"), Seq("k"), col("v"), m),
      Seq("k"), m, dir, prefixBuckets = 16)
    def files(): Map[String, Set[String]] = {
      val root = java.nio.file.Paths.get(dir, "sketch")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent.getFileName.toString)
        .map { case (d, ps) => d -> ps.map(_.getFileName.toString).toSet }
    }
    val before = files()
    QuantileSketch.absorbIntoSaved(spark, dir, inc.toDF("k", "v"), col("v"))
    val after = files()
    // increment keys k0/k1 hash into a strict subset of the 16 dirs:
    // every untouched dir keeps its exact file set
    val touchedDirs = after.keySet.filter(d => before.get(d) != after.get(d))
    assert(touchedDirs.nonEmpty && touchedDirs.size < before.size,
      s"expected a strict subset of dirs rewritten, got $touchedDirs of ${before.size}")
    val st = QuantileSketch.load(spark, dir)
    val absorbed = st.sketch.drop("__kp")
      .orderBy(col("k"), col("__qb")).as[(String, Long, Long)].collect().toSeq
    val rebuilt = QuantileSketch
      .build((base ++ inc).toDF("k", "v"), Seq("k"), col("v"), m)
      .orderBy(col("k"), col("__qb")).as[(String, Long, Long)].collect().toSeq
    assert(absorbed == rebuilt)
    assert(st.mantissaBits == m && st.keyCols == Seq("k"))
  }

  test("non-positive and null values are rejected in-plan") {
    val bad = Seq(("k", 5L), ("k", 0L)).toDF("k", "v")
    val ex = intercept[Exception] {
      QuantileSketch.build(bad, Seq("k"), col("v"), m).collect()
    }
    assert(ex.getMessage.contains("positive"), ex.getMessage)
    val nul = Seq(("k", Some(5L)), ("k", None)).toDF("k", "v")
    val ex2 = intercept[Exception] {
      QuantileSketch.build(nul, Seq("k"), col("v"), m).collect()
    }
    assert(ex2.getMessage.contains("positive"), ex2.getMessage)
  }
}
