package graft

import graft.operators.Salting

import org.apache.spark.sql.functions._

class StreamingAggSaltSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals plain join") {
    val left = (1 to 1000).map(i => (i % 3, i)).toDF("k", "v") // hot keys 0,1,2
    val right = Seq((0, "x"), (1, "y"), (2, "z"), (3, "w")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).select("k", "v", "name")
    val salted = Salting.saltedJoin(left, right, Seq("k"), saltFactor = 8)
      .select("k", "v", "name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedSum equals plain sum") {
    val df = (1 to 2000).map(i => (i % 2, i.toDouble)).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("total"))
      .as[(Int, Double)].collect().toMap
    val salted = Salting.saltedSum(df, Seq("k"), col("v"), saltFactor = 16)
      .as[(Int, Double)].collect().toMap
    assert(salted == plain)
  }
}
