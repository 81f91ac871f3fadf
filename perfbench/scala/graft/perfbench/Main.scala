package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark runner: one workload per JVM. `perfbench/run.py` builds
  * the classes and starts this main; it prints every metric it measured
  * as the last stdout line, and run.py keeps the ones BENCHMARK.json
  * names for the requested mode.
  *
  * Usage: `graft.perfbench.Main --workload <cdc_steady|board_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --cores <n> --work <dir>
  *   --fixture <dir> --golden <file> [--size full|tiny]
  *   [--plant none|drop_delete|stale_row|board_value] [--trace-out <file>]`
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      work: String,
      fixture: String,
      golden: String,
      tiny: Boolean,
      plant: String,
      traceOut: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toDouble,
      trace = req("trace") == "1",
      cores = kv.getOrElse("cores", "4").toInt,
      work = req("work"),
      fixture = kv.getOrElse("fixture", ""),
      golden = kv.getOrElse("golden", ""),
      tiny = kv.get("size").contains("tiny"),
      plant = kv.getOrElse("plant", "none"),
      traceOut = kv.get("trace-out"))
    require(Set("none", "drop_delete", "stale_row", "board_value").contains(a.plant),
      s"unknown --plant ${a.plant}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result: Result = a.workload match {
      case "cdc_steady" => Cdc.steady(a)
      case "board_mix" => Board.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    println(result.json)
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f] $msg")

  /** A `local[cores]` session; `extra` adds or overrides configuration. */
  def session(a: Args, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    val s = extra.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up time: JVM start to the start of the first timed operation,
    * less the seconds spent generating inputs, which the trace reports
    * as `input.gen_s`. It covers JVM and class loading, the session
    * build and the workload's warm-up calls into the program.
    */
  def setupSeconds(firstOp: Op, inputGenS: Double): Double =
    (firstOp.startMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - inputGenS
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Process-level probes: CPU, GC and a sampled heap peak. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val mem = ManagementFactory.getMemoryMXBean

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Samples used heap every 10 ms on a daemon thread until `stop`. */
  final class HeapPeak {
    @volatile private var running = true
    @volatile private var peak = mem.getHeapMemoryUsage.getUsed
    private val t = new Thread(() => {
      while (running) {
        peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
        Thread.sleep(10)
      }
    })
    t.setDaemon(true)
    t.start()
    def stop(): Double = { running = false; t.join(); peak / (1024.0 * 1024.0) }
  }
}

/** One timed call into a layer, on the runner's thread. */
final case class Op(
    id: Int,
    name: String,
    parent: Int,
    startMs: Long,
    endMs: Long,
    wallS: Double,
    cpuS: Double,
    ok: Boolean)

/** Times each call into the program, labels its Spark jobs with a job
  * group named after the call, and counts attempted and failed
  * operations. A call that throws is recorded as failed and its error
  * printed to stderr; the caller decides whether to go on.
  */
final class Recorder(spark: SparkSession) {
  val ops = ArrayBuffer.empty[Op]
  var attempted = 0
  var failed = 0
  var checksOk = true

  def time[T](name: String, parent: Int = -1, counted: Boolean = true)(f: => T): (Option[T], Op) = {
    val id = ops.size
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis()
    val c0 = Jvm.cpuSeconds()
    val t0 = System.nanoTime()
    val out =
      try Some(f)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    val op = Op(id, name, parent, ms0, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9, Jvm.cpuSeconds() - c0, out.isDefined)
    sc.clearJobGroup()
    ops += op
    if (counted) {
      attempted += 1
      if (out.isEmpty) { failed += 1; checksOk = false }
    }
    Main.log(f"$name%s ${op.wallS}%.3f s, ${op.cpuS}%.2f CPU-s${if (op.ok) "" else " FAILED"}")
    (out, op)
  }

  /** Records the outcome of an output check made after the operation ran. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      checksOk = false
      System.err.println(s"[perfbench] check failed: $what")
    }
}

final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double)]) {
  def json: String = {
    val ms = metrics.map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      "\"" + k + "\":" + num
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}
