package graft.perfbench

import graft.SparkEntry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.nio.file.{Files, Paths}
import scala.util.Random

/** The analytics board workload: a fixed mix of SparkEntry queries over
  * a fixed sf0.1-sized fixture. Every call, cold and warm, is checked
  * against a committed golden fingerprint, so the data cannot depend on
  * the seed; the seed orders the calls instead (the cold pass and each
  * warm pass are shuffled), which changes which stage caches and JIT
  * state each query meets.
  */
object Board {

  /** The mix: ANN top-k over stage-cached indexes, the settled-frame
    * `zorder_layout`, and `MergeEngine` driven from the batch side. Three
    * queries, because a run's JVM start and warm-up already cost ~20 s.
    */
  val Queries: Seq[String] = Seq("knn_classify_ann", "zorder_layout", "q07_cdc_merge")

  /** Per-query metric names of the traced run. */
  private def queryLayerNames(q: String): Seq[String] =
    Seq("cold_s", "warm_s", "plan_s", "driver_s", "task_cpu_s", "shuffle_bytes").map(m => s"q.$q.$m")

  /** Per-layer metrics of this workload; cdc_steady reports them as 0. */
  val LayerNames: Seq[String] = Queries.flatMap(queryLayerNames) :+ "stage.misses_warm"

  /** Row count and sum of 64-bit row hashes over one canonical string
    * per row: columns in name order, doubles at 9 significant digits so
    * summation order cannot move the result.
    */
  def fingerprint(df: DataFrame, plantDefect: Boolean = false): (Long, BigDecimal) = {
    val parts = df.columns.sorted.map { c =>
      val v = df.schema(c).dataType match {
        case DoubleType | FloatType => format_string("%.9g", col(s"`$c`").cast("double") + 0.0)
        case _ => col(s"`$c`").cast("string")
      }
      coalesce(v, lit("␀"))
    }
    val rows0 = df.select(concat_ws("\u001f", parts.toIndexedSeq: _*).as("c"))
    // planted defect: change one value of one row
    val rows =
      if (!plantDefect) rows0
      else rows0.withColumn("__n", row_number().over(org.apache.spark.sql.expressions.Window.orderBy("c")))
        .select(when(col("__n") === 1, concat(col("c"), lit("~"))).otherwise(col("c")).as("c"))
    val r = rows.agg(count(lit(1)), sum(xxhash64(col("c")).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** `{"name": {"rows": n, "hash": "h"}, ...}` — the committed goldens. */
  def readGolden(path: String): Map[String, (Long, BigDecimal)] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    val entry = """"([A-Za-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"(-?\d+)"\s*\}""".r
    entry.findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, BigDecimal(m.group(3)))).toMap
  }

  def run(a: Main.Args): Result = {
    val golden =
      if (Files.isRegularFile(Paths.get(a.golden))) readGolden(a.golden) else Map.empty[String, (Long, BigDecimal)]
    val dir = a.fixture
    // run.py generates the fixture in a JVM of its own beforehand, so
    // set-up here is the session and a warm-up scan, never the fixture
    require(Fixture.ready(dir), s"no board fixture in $dir")
    val spark = Main.session(a)
    val li = graft.sources.Tables(spark, dir, "lineitem")
    li.groupBy(li.columns.head).count().count()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val rec = new Recorder(spark)
    val rnd = new Random(a.seed)

    def call(name: String, phase: String): Op = {
      val (out, op) = rec.time(s"$phase:$name") {
        fingerprint(SparkEntry.queries(name)(spark, dir), a.plant == "board_value")
      }
      out.foreach { fp =>
        golden.get(name) match {
          case Some(g) => rec.check(fp == g, s"$name ($phase) fingerprint $fp != golden $g")
          case None => rec.check(ok = false, s"$name has no golden fingerprint; this call gave $fp")
        }
      }
      op
    }

    val heap = new Jvm.HeapPeak
    val gc0 = Jvm.gcSeconds()
    val coldOrder = rnd.shuffle(Queries)
    val firstCold = coldOrder.head
    val cold = coldOrder.map(q => q -> call(q, "cold")).toMap
    val readOps = (1 to 5).map { _ =>
      rec.time("read") {
        val li = graft.sources.Tables(spark, dir, "lineitem")
        li.agg(count(lit(1)), sum(col("l_quantity"))).head()
      }._2
    }
    val m0 = graft.util.SessionScopedCache.totalMisses
    val warm = scala.collection.mutable.ArrayBuffer.empty[(String, Op)]
    // a fixed number of shuffled warm passes, sized from --seconds by a
    // pass's nominal 6 s on 3 cores
    val passes = math.max(1, math.round(a.seconds / 6.0).toInt)
    (1 to passes).foreach(_ => rnd.shuffle(Queries).foreach(q => warm += q -> call(q, "warm")))
    val warmMisses = graft.util.SessionScopedCache.totalMisses - m0
    val heapMb = heap.stop()
    val gcS = Jvm.gcSeconds() - gc0

    def warmOf(q: String) = warm.filter(_._1 == q).map(_._2).toSeq
    val warmWall = warm.map(_._2.wallS).sum
    val e2e = Seq(
      "setup_s" -> Main.setupSeconds(cold(firstCold), 0.0),
      "op_p50_s" -> Queries.map(q => Stats.median(warmOf(q).map(_.wallS))).sum,
      "throughput_per_s" -> warm.size / warmWall,
      "cold_s" -> cold.values.map(_.wallS).sum,
      "read_p50_s" -> Stats.median(readOps.map(_.wallS)),
      "op_cpu_s" -> Queries.map(q => Stats.median(warmOf(q).map(_.cpuS))).sum,
      "heap_peak_mb" -> heapMb)
    val counts = Seq("passes" -> passes.toDouble, "jvm.gc_s" -> gcS, "stage.misses_warm" -> warmMisses.toDouble)

    val layers = tracer.map { t =>
      t.drain()
      val perQuery = Queries.flatMap { q =>
        val ws = warmOf(q)
        def wm(f: Op => Double) = Stats.median(ws.map(f))
        queryLayerNames(q).zip(Seq(
          cold(q).wallS,
          wm(_.wallS),
          wm(o => t.qesIn(o).map(_.planS).sum),
          wm(t.driverS),
          wm(t.taskCpuS),
          wm(t.shuffleBytes)))
      }
      a.traceOut.foreach(p => Files.writeString(Paths.get(p), t.json(rec.ops.toSeq, e2e ++ counts ++ perQuery)))
      t.stop()
      perQuery ++ Cdc.LayerNames.map(_ -> 0.0)
    }.getOrElse(Seq.empty)
    val failedFrac = rec.failed.toDouble / math.max(1, rec.attempted)
    val res = Result(rec.checksOk, math.max(1, rec.attempted), rec.failed,
      e2e ++ layers ++ counts :+ ("ops_failed_frac" -> failedFrac))
    spark.stop()
    res
  }
}

/** The board's input tables at sf0.1 row counts (15k customers, 150k
  * orders, 600k lineitems, 100k events, 5k documents, 2k embeddings),
  * with the column types, string domains, value ranges and key
  * relationships of the repository's sf0.1 test data. Every cell is a hash of the row
  * id under a fixed salt, so every checkout generates identical tables.
  * The benchmark owns this generator so that a change to the program's
  * own fixture tools cannot move the benchmark's inputs.
  */
object Fixture {
  private val Salt = "perfbench-board-v1"
  private val Marker = "_PERFBENCH_FIXTURE_COMPLETE"

  def ready(dir: String): Boolean = new java.io.File(s"$dir/$Marker").exists()

  /** Generates the fixture into `--fixture` unless it is there already;
    * takes the same arguments as [[Main]].
    */
  def main(argv: Array[String]): Unit = {
    val a = Main.parse(argv)
    if (!ready(a.fixture)) {
      val spark = Main.session(a)
      write(spark, a.fixture)
      Files.writeString(Paths.get(s"${a.fixture}/$Marker"), Salt)
      spark.stop()
    }
  }

  private def h(tag: String, n: Long): Column = pmod(xxhash64(lit(Salt), lit(tag), col("id")), lit(n))
  private def pick(tag: String, xs: String*): Column =
    element_at(array(xs.map(lit): _*), h(tag, xs.size.toLong).cast("int") + 1)

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    def out(df: DataFrame, name: String): Unit = df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val (nCust, nSupp, nPart, nOrders, nLines, nEvents) = (15000L, 1000L, 20000L, 150000L, 600000L, 100000L)

    out(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map(_.swap)
      .toDF("r_regionkey", "r_name").coalesce(1), "region")
    out((0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1), "nation")
    out(spark.range(nCust).repartition(par).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h("cn", 25).cast("int").as("c_nationkey"),
      round(h("cb", 1100000L).cast("double") / 100.0 - 1000.0, 2).as("c_acctbal"),
      pick("cs", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")),
      "customer")
    out(spark.range(nSupp).repartition(par).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h("sn", 25).cast("int").as("s_nationkey"),
      round(h("sb", 1100000L).cast("double") / 100.0 - 1000.0, 2).as("s_acctbal")),
      "supplier")
    out(spark.range(nPart).repartition(par).select(
      col("id").as("p_partkey"),
      concat(pick("pa", "large", "hot", "blue", "old", "cold", "small", "red", "new"), lit(" "),
        pick("pn", "ring", "bolt", "plate", "cap", "wheel", "gear", "pin", "rod")).as("p_name"),
      format_string("Brand#%d", h("pb", 25) + 1).as("p_brand"),
      pick("pt", "LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM").as("p_type"),
      (h("ps", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + h("pr", 1000L).cast("double") / 10.0, 2).as("p_retailprice")),
      "part")
    out(spark.range(nOrders).repartition(par).select(
      col("id").as("o_orderkey"),
      h("oc", nCust).as("o_custkey"),
      pick("os", "O", "F", "P").as("o_orderstatus"),
      round(lit(1000.0) + h("op", 49900000L).cast("double") / 100.0, 2).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")), h("od", 2400L).cast("int")).cast("timestamp").as("o_orderdate"),
      pick("opr", "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")),
      "orders")
    out(spark.range(nLines).repartition(par).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      h("lp", nPart).as("l_partkey"),
      h("ls", nSupp).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h("lq", 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + h("le", 10410000L).cast("double") / 100.0, 2).as("l_extendedprice"),
      (h("ld", 11).cast("double") / 100.0).as("l_discount"),
      (h("lt", 9).cast("double") / 100.0).as("l_tax"),
      pick("lr", "A", "N", "R").as("l_returnflag"),
      pick("ll", "O", "F").as("l_linestatus"),
      date_add(to_date(lit("1995-01-02")), h("lsd", 2498L).cast("int")).cast("timestamp").as("l_shipdate")),
      "lineitem")
    out(spark.range(nEvents).repartition(par).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + h("ets", 2591940L) * 1000000L + h("etu", 1000000L)).as("ts"),
      h("eu", 150L).as("user_id"),
      pick("ee", "error", "view", "purchase", "signup", "click").as("event_type"),
      round(h("ev", 56021L).cast("double") / 100.0, 2).as("value"),
      format_string("{\"k\": %d}", h("ek", 100L)).as("props")),
      "events")

    val vocab = Seq("spark", "batch", "part", "line", "column", "order", "small", "sort",
      "fast", "value", "scan", "query", "agg", "table", "hash", "stream",
      "filter", "customer", "key", "group", "vector", "slow", "join",
      "merge", "shuffle", "page", "index", "row", "cache", "disk")
    // 2% exact and 2% near copies of a doc among the first 1000, so the
    // dedup queries find real duplicates
    val baseId = when(pmod(col("id"), lit(100)) < 4, pmod(col("id"), lit(1000))).otherwise(col("id"))
    val nTokens = (pmod(xxhash64(lit(Salt), lit("len"), baseId), lit(40)) + 30).cast("int")
    val soup = concat_ws(" ", transform(sequence(lit(1), nTokens), i =>
      element_at(array(vocab.map(lit): _*), pmod(xxhash64(lit(Salt), baseId, i), lit(vocab.size)).cast("int") + 1)))
    val text = when(pmod(col("id"), lit(100)).between(2, 3), concat(soup, lit(" near duplicate tail")))
      .otherwise(soup)
    out(spark.range(5000L).repartition(par).select(
      col("id").as("doc_id"),
      text.as("text"),
      pick("lang", "en", "zh", "de", "fr", "es").as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text"))), "documents")
    out(spark.range(2000L).repartition(par).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (pmod(xxhash64(lit(Salt), col("id"), d), lit(2000)).cast("double") / 1000.0 - 1.0).cast("float"))
        .as("embedding"),
      pmod(col("id"), lit(3)).cast("int").as("label")), "embeddings")
  }
}
