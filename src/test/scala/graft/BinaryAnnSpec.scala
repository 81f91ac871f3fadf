package graft

import graft.functions.{VectorFunctions => VF}
import graft.operators.BinaryAnn

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class BinaryAnnSpec extends SparkSpec {

  import spark.implicits._

  /** HOF formulation of [[BinaryAnn.packSignBits]] (differential reference). */
  private def packSignBitsHof(vec: Column): Column = {
    val nWords = ceil(size(vec).cast("double") / lit(32.0)).cast("int")
    when(size(vec) === 0, array().cast("array<bigint>"))
      .otherwise(
        transform(sequence(lit(0), nWords - 1), w =>
          aggregate(
            sequence(w * 32, least(w * 32 + 31, size(vec) - 1)),
            lit(0L),
            (acc, j) => acc +
              when(
                element_at(vec, (j + 1).cast("int")).cast("double") > 0,
                // 2^(j mod 32) — exact in double for exponents <= 31,
                // and engine-portable (no column-shift builtin needed)
                pow(lit(2.0), (j - w * 32).cast("double")).cast("long"))
                .otherwise(lit(0L)))))
  }

  /** HOF formulation of [[BinaryAnn.hammingWords]] (differential reference). */
  private def hammingWordsHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L),
      (acc, x) => acc + x)

  private def vecsDF(vecs: Seq[(Long, Seq[Float])]) =
    vecs.toDF("vec_id", "embedding")

  test("packSignBits packs strict-positive signs into 32-bit words") {
    val df = vecsDF(Seq(
      // bit 0 set (0.5 > 0), bit 1 clear (-0.5), bit 2 clear (0.0 NOT > 0)
      (1L, Seq(0.5f, -0.5f, 0.0f)),
      (2L, Seq.fill(33)(1.0f)), // spills into a second word
      (3L, Seq.empty[Float])))
    val out = df
      .select(col("vec_id"), BinaryAnn.packSignBits(col("embedding")).as("w"))
      .orderBy("vec_id")
      .as[(Long, Seq[Long])]
      .collect()
    assert(out(0)._2 == Seq(1L))
    assert(out(1)._2 == Seq(0xFFFFFFFFL, 1L))
    assert(out(2)._2 == Seq.empty[Long])
    // no word ever reaches a long's sign bit
    assert(out.flatMap(_._2).forall(w => w >= 0 && w <= 0xFFFFFFFFL))
  }

  test("native SignBits/HammingWords == HOF differential forms") {
    val vecs = (0L until 50L).map { id =>
      id -> (0 until 65).map { j => // 65 dims: exercises the partial word
        val h = (id * 65 + j) * 0x9E3779B97F4A7C15L
        (((h % 7 + 7) % 7).toInt - 3).toFloat / 3.0f
      }
    }
    val df = vecsDF(vecs)
    val q = df.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val rows = df
      .crossJoin(broadcast(q))
      .select(
        BinaryAnn.packSignBits(col("embedding")).as("native"),
        packSignBitsHof(col("embedding")).as("hof"),
        BinaryAnn.hammingWords(
          BinaryAnn.packSignBits(col("embedding")),
          BinaryAnn.packSignBits(col("qv"))).as("ham_native"),
        hammingWordsHof(
          packSignBitsHof(col("embedding")),
          packSignBitsHof(col("qv"))).as("ham_hof"))
      .as[(Seq[Long], Seq[Long], Long, Long)]
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { case (native, hof, hn, hh) =>
      assert(native == hof)
      assert(hn == hh)
    }
  }

  test("popcount-of-XOR Hamming == count of differing strict-positive signs") {
    // deterministic pseudo-random vectors incl. exact zeros
    val vecs = (0L until 40L).map { id =>
      id -> (0 until 64).map { j =>
        val h = (id * 64 + j) * 2654435761L
        val v = ((h % 101 + 101) % 101).toInt - 50
        v.toFloat / 50.0f // includes exact 0.0f values
      }
    }
    val df = vecsDF(vecs)
    val q = df.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val rows = df
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        BinaryAnn.hammingWords(
          BinaryAnn.packSignBits(col("embedding")),
          BinaryAnn.packSignBits(col("qv"))).as("ham_packed"),
        aggregate(
          zip_with(col("embedding"), col("qv"),
            (x, y) => when((x > 0.0f) =!= (y > 0.0f), 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("ham_direct"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}")
    }
  }

  test("topK recovers planted sign-identical neighbors ahead of noise") {
    // query + 5 planted copies with tiny positive jitter (signs agree on
    // every dim with |x| > jitter), plus sign-scrambled noise
    val base = (0 until 64).map(j => if (j % 3 == 0) -0.8f else 0.7f)
    val planted = (1L to 5L).map { i =>
      (1000L + i) -> base.map(x => x + i.toFloat * 1e-4f)
    }
    val noise = (1L until 30L).map { id =>
      id -> (0 until 64).map { j =>
        val h = (id * 997 + j) * 1099511628211L
        (((h % 19 + 19) % 19).toInt - 9).toFloat / 9.0f
      }
    }
    val corpus = vecsDF(noise ++ planted :+ (0L -> base.map(identity)))
    val query = corpus.filter(col("vec_id") === 0L)
    val top = BinaryAnn
      .topK(corpus, query, "vec_id", "embedding", k = 6, poolSize = 10)
      .as[(Long, Long, Double)]
      .collect()
    val ids = top.map(_._1).toSet
    assert(ids.contains(0L) && (1001L to 1005L).forall(ids.contains),
      s"top ids were ${ids.mkString(",")}")
    // planted copies sit at Hamming 0 from the query
    assert(top.filter(t => t._1 >= 1001L).forall(_._2 == 0L))
    // rerank is by cosine descending
    assert(top.map(_._3).sliding(2).forall(p => p.head >= p.last - 1e-12))
  }

  test("Hamming pool scan stays inside whole-stage codegen") {
    // inputs must derive from range()'s id (constant folding would
    // evaluate at plan time) and be built WITHOUT higher-order
    // functions (HOFs are interpreted and eject the enclosing stage);
    // a fused projection renders with the `*(n)` stage marker
    val scan = spark.range(64).select(
      BinaryAnn.hammingWords(
        BinaryAnn.packSignBits(array((0 until 64).map(j =>
          lit(j).cast("float") - col("id").cast("float")): _*)),
        BinaryAnn.packSignBits(array((0 until 64).map(j =>
          col("id").cast("float") - lit(j).cast("float")): _*))).as("ham"))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"Hamming scan not whole-stage-codegen'd:\n$plan")
    assert(scan.agg(sum(col("ham"))).collect().head.getLong(0) > 0)
  }
}
