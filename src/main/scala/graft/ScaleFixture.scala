package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic scale-rehearsal fixture generator: writes `documents`
  * and `embeddings` parquet tables shaped like the driver's testdata
  * (TESTDATA.md) at an arbitrary row count, so the dedup/ANN/span
  * operator family can be exercised one order of magnitude above the
  * largest driver scale factor (the round-7 sf1 rehearsal).
  *
  * Everything is hash-derived (seeded xxhash64 per cell — the same
  * no-RNG-state discipline as sampling/LSH), so any two runs produce
  * byte-identical tables. Duplicate structure is planted so the dedup
  * operators do real work at every size:
  *   - 2% of docs are EXACT copies of a doc in the first 1000
  *     (`doc_id % 100 < 2` copies `doc_id % 1000`'s text);
  *   - 2% are NEAR-duplicates of the same base with a 3-token tail
  *     (`doc_id % 100 in [2,3]`);
  *   - everything else is an independent word-soup whose length varies
  *     30..69 tokens.
  *
  * Usage: `runMain graft.ScaleFixture <outDir> <nDocs> <nVecs> [full N]`
  * (sf1 rehearsal: 50000 docs / 20000 vecs — 10x the driver's sf0.1).
  * With `full N`, ALSO writes the TPC-H-ish star tables + `events` at
  * N times the driver's sf0.1 row counts (domain-matched: same string
  * domains, value ranges, key relationships and ~4 lineitems/order),
  * so the ENTIRE query board can run at a rehearsal scale, not just
  * the documents/embeddings families.
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleFixture <outDir> <nDocs> <nVecs> [full N]")
    val outDir = args(0)
    val nDocs = args(1).toLong
    val nVecs = args(2).toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, outDir, nDocs, nVecs)
    if (args.length >= 5 && args(3) == "full") writeStar(spark, outDir, args(4).toInt)
    spark.stop()
  }

  /** Testable core: writes `<outDir>/documents.parquet` and
    * `<outDir>/embeddings.parquet`.
    */
  def write(spark: SparkSession, outDir: String, nDocs: Long, nVecs: Long): Unit = {
    val vocab = array(Seq(
      "spark", "batch", "part", "line", "column", "order", "small", "sort",
      "fast", "value", "scan", "query", "agg", "table", "hash", "stream",
      "filter", "customer", "key", "group", "vector", "slow", "join",
      "merge", "shuffle", "page", "index", "row", "cache", "disk").map(lit): _*)
    val langs = array(Seq("en", "zh", "de", "fr", "es").map(lit): _*)

    // exact/near dups copy a base doc's text; the base is the word
    // soup of `baseId`, a pure function, so no join is needed
    val baseId = when(pmod(col("id"), lit(100)) < 4, pmod(col("id"), lit(1000)))
      .otherwise(col("id"))
    val nTokens = (pmod(xxhash64(lit("len"), baseId), lit(40)) + 30).cast("int")
    val soup = concat_ws(" ",
      transform(sequence(lit(1), nTokens),
        i => element_at(vocab, pmod(xxhash64(baseId, i), lit(30)).cast("int") + 1)))
    val text = when(pmod(col("id"), lit(100)).between(2, 3),
        concat(soup, lit(" near duplicate tail")))
      .otherwise(soup)

    spark.range(nDocs)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("id").as("doc_id"),
        text.as("text"),
        element_at(langs, pmod(xxhash64(lit("lang"), col("id")), lit(5)).cast("int") + 1).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    spark.range(nVecs)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (pmod(xxhash64(col("id"), d), lit(2000)).cast("double") / 1000.0 - 1.0)
            .cast("float")).as("embedding"),
        pmod(col("id"), lit(3)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** The TPC-H-ish star tables + `events` at `scale` times the
    * driver's sf0.1 row counts, hash-derived like [[write]]. Same
    * column types, string domains and value ranges as the driver
    * testdata (TESTDATA.md; see Tables for the `ts` read path), the
    * same ~4 lineitems per order, and key domains that actually join
    * (l_orderkey -> orders, o_custkey -> customer, *_nationkey ->
    * nation -> region).
    */
  private def writeStar(spark: SparkSession, outDir: String, scale: Int): Unit = {
    require(scale > 0, "scale must be positive")
    val par = spark.sparkContext.defaultParallelism
    def h(seed: String, n: Long): org.apache.spark.sql.Column =
      pmod(xxhash64(lit(seed), col("id")), lit(n))

    val nCust = 15000L * scale
    val nSupp = 1000L * scale
    val nPart = 20000L * scale
    val nOrders = 150000L * scale
    val nLines = 600000L * scale
    val nEvents = 100000L * scale

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    import spark.implicits._
    regions.zipWithIndex.map { case (r, i) => (i, r) }
      .toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/region.parquet")
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/nation.parquet")

    val segments = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      .map(lit): _*)
    spark.range(nCust).repartition(par).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h("cn", 25).cast("int").as("c_nationkey"),
      round(h("cb", 1100000L).cast("double") / 100.0 - 1000.0, 2).as("c_acctbal"),
      element_at(segments, h("cs", 5).cast("int") + 1).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    spark.range(nSupp).repartition(par).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h("sn", 25).cast("int").as("s_nationkey"),
      round(h("sb", 1100000L).cast("double") / 100.0 - 1000.0, 2).as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

    val adjs = array(Seq("large", "hot", "blue", "old", "cold", "small", "red", "new").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "plate", "cap", "wheel", "gear", "pin", "rod").map(lit): _*)
    val types = array(Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM").map(lit): _*)
    spark.range(nPart).repartition(par).select(
      col("id").as("p_partkey"),
      concat(element_at(adjs, h("pa", 8).cast("int") + 1), lit(" "),
        element_at(nouns, h("pn", 8).cast("int") + 1)).as("p_name"),
      format_string("Brand#%d", h("pb", 25) + 1).as("p_brand"),
      element_at(types, h("pt", 5).cast("int") + 1).as("p_type"),
      (h("ps", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + h("pr", 1000L).cast("double") / 10.0, 2).as("p_retailprice"))
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")

    val statuses = array(Seq("O", "F", "P").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      .map(lit): _*)
    spark.range(nOrders).repartition(par).select(
      col("id").as("o_orderkey"),
      h("oc", nCust).as("o_custkey"),
      element_at(statuses, h("os", 3).cast("int") + 1).as("o_orderstatus"),
      round(lit(1000.0) + h("op", 49900000L).cast("double") / 100.0, 2).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")), h("od", 2400L).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      element_at(prios, h("opr", 5).cast("int") + 1).as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    val rflags = array(Seq("A", "N", "R").map(lit): _*)
    val lstats = array(Seq("O", "F").map(lit): _*)
    spark.range(nLines).repartition(par).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      h("lp", nPart).as("l_partkey"),
      h("ls", nSupp).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h("lq", 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + h("le", 10410000L).cast("double") / 100.0, 2).as("l_extendedprice"),
      (h("ld", 11).cast("double") / 100.0).as("l_discount"),
      (h("lt", 9).cast("double") / 100.0).as("l_tax"),
      element_at(rflags, h("lr", 3).cast("int") + 1).as("l_returnflag"),
      element_at(lstats, h("ll", 2).cast("int") + 1).as("l_linestatus"),
      date_add(to_date(lit("1995-01-02")), h("lsd", 2498L).cast("int"))
        .cast("timestamp").as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val etypes = array(Seq("error", "view", "purchase", "signup", "click").map(lit): _*)
    spark.range(nEvents).repartition(par).select(
      col("id").as("event_id"),
      timestamp_micros(
        (lit(1704067200000000L) + h("ets", 2591940L) * 1000000L + h("etu", 1000000L)))
        .as("ts"),
      h("eu", 150L * scale).as("user_id"),
      element_at(etypes, h("ee", 5).cast("int") + 1).as("event_type"),
      round(h("ev", 56021L).cast("double") / 100.0, 2).as("value"),
      format_string("{\"k\": %d}", h("ek", 100L)).as("props"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }
}
