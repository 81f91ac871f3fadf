package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long)
final case class TaskRec(stageId: Int, cpuNs: Long, shuffleWriteBytes: Long)

/** One successful SQL execution: its planning time (analysis +
  * optimization + planning from `QueryExecution.tracker`), and what its
  * write command or file scans reported through their SQL metrics.
  */
final case class QeRec(
    id: Long,
    startMs: Long,
    durationS: Double,
    planS: Double,
    isWrite: Boolean,
    isCompaction: Boolean,
    filesWritten: Long,
    rowsWritten: Long,
    partsWritten: Long,
    filesScanned: Long)

/** The traced run's collectors, all registered from outside the
  * program through Spark's public listener interfaces: a SparkListener
  * for jobs, tasks and SQL executions, a QueryExecutionListener for
  * plan phases and write/scan metrics, and a StreamingQueryListener for
  * per-trigger phase durations. Events are attributed to the runner's
  * [[Op]]s by time window: the runner makes one call at a time, and the
  * streaming thread only runs while the runner waits on it.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, Int]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val qes = ArrayBuffer.empty[QeRec]
  private val sqlStart = TrieMap.empty[Long, Long]
  val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.put(e.jobId, JobRec(e.jobId, group, e.time, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) tasks.synchronized {
        tasks += TaskRec(e.stageId, e.taskMetrics.executorCpuTime,
          e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val writes = collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
      def m(name: String) = writes.flatMap(_.cmd.metrics.get(name)).map(_.value).sum
      // MergeEngine.compact rewrites a partition through repartition(n);
      // the merge's own writes shuffle only to meet join requirements
      val compaction = writes.nonEmpty && collect(qe.executedPlan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }.nonEmpty
      val scanned = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      qes.synchronized {
        qes += QeRec(qe.id, start, durationNs / 1e9, planMs / 1e3, writes.nonEmpty, compaction,
          m("numFiles"), m("numOutputRows"), m("numParts"), scanned)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def within(t: Long, op: Op) = t >= op.startMs && t <= op.endMs

  def jobsIn(op: Op): Seq[JobRec] = jobs.values.filter(j => within(j.startMs, op)).toSeq

  /** Seconds covered by the union of the op's job intervals. */
  def jobBusyS(op: Op): Double = {
    val iv = jobsIn(op).map(j => (j.startMs, math.min(math.max(j.endMs, j.startMs), op.endMs))).sortBy(_._1)
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (iv.nonEmpty) busy += curE - curS
    busy / 1e3
  }

  /** The driver's share of the op: wall time minus job-busy time. */
  def driverS(op: Op): Double = math.max(0.0, op.wallS - jobBusyS(op))

  private def tasksIn(op: Op): Seq[TaskRec] = {
    val ids = jobsIn(op).map(_.id).toSet
    tasks.synchronized(tasks.filter(t => stageJob.get(t.stageId).exists(ids.contains)).toSeq)
  }

  def taskCpuS(op: Op): Double = tasksIn(op).map(_.cpuNs).sum / 1e9
  def shuffleBytes(op: Op): Double = tasksIn(op).map(_.shuffleWriteBytes).sum.toDouble

  def sqlExecsIn(op: Op): Int = sqlStart.values.count(within(_, op))

  /** Executions of the op, by SQL execution start when the listener saw
    * it, otherwise by the start of the execution's first planning phase.
    */
  def qesIn(op: Op): Seq[QeRec] =
    qes.synchronized(qes.filter(q => within(sqlStart.getOrElse(q.id, q.startMs), op)).toSeq)

  /** The spans, jobs and per-trigger progress as JSON, for the trace file. */
  def json(ops: Seq[Op], counts: Seq[(String, Double)]): String = {
    def q(s: String) = "\"" + Option(s).getOrElse("").replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spans = ops.map { o =>
      s"""{"id":${o.id},"name":${q(o.name)},"parent":${o.parent},"start_ms":${o.startMs},"end_ms":${o.endMs},""" +
        s""""wall_s":${o.wallS},"cpu_s":${o.cpuS},"ok":${o.ok},"jobs":${jobsIn(o).size},"sql_execs":${sqlExecsIn(o)},""" +
        s""""job_busy_s":${jobBusyS(o)},"task_cpu_s":${taskCpuS(o)},"shuffle_bytes":${shuffleBytes(o)}}"""
    }.mkString("[", ",\n", "]")
    val js = jobs.values.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"group":${q(j.group)},"start_ms":${j.startMs},"end_ms":${j.endMs}}""").mkString("[", ",", "]")
    val prog = progress.synchronized(progress.toSeq).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      s"""{"batch":${p.batchId},"rows":${p.numInputRows},"duration_ms":$d}"""
    }.mkString("[", ",", "]")
    val cs = counts.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    s"""{"spans":$spans,\n"jobs":$js,\n"progress":$prog,\n"counts":$cs}"""
  }
}
