package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did between two [[Recorder.take]] calls. Times are in
  * seconds, byte counts in MB. */
final case class Counters(
    jobs: Int = 0,
    schemaJobs: Int = 0,
    stages: Int = 0,
    singleTaskStages: Int = 0,
    tasks: Long = 0,
    jobS: Double = 0,
    taskS: Double = 0,
    gcS: Double = 0,
    shuffleWriteMb: Double = 0,
    shuffleReadMb: Double = 0,
    spillMb: Double = 0,
    scanRows: Long = 0,
    scanMb: Double = 0,
    optimizeS: Double = 0,
    physicalS: Double = 0) {

  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, schemaJobs + o.schemaJobs, stages + o.stages,
    singleTaskStages + o.singleTaskStages, tasks + o.tasks, jobS + o.jobS,
    taskS + o.taskS, gcS + o.gcS, shuffleWriteMb + o.shuffleWriteMb,
    shuffleReadMb + o.shuffleReadMb, spillMb + o.spillMb, scanRows + o.scanRows,
    scanMb + o.scanMb, optimizeS + o.optimizeS, physicalS + o.physicalS)
}

/** Walks an executed plan through AQE stages, subqueries and command
  * wrappers, so a noop write's scans are found under its write node. */
private object PlanWalk extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => Seq(s)
      case c: CommandResultExec => scans(c.commandPhysicalPlan)
    }.flatten
}

/** SparkListener + QueryExecutionListener for the traced run. Events
  * are buffered as they arrive; [[take]] drains the listener bus and
  * folds everything since the previous call into one [[Counters]]. The
  * benchmark is a closed loop, so the events between two takes belong
  * to the one call in between. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private case class Job(start: Long, end: Long, schema: Boolean)
  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, (Long, Boolean)]
  private val jobs = ArrayBuffer.empty[Job]
  private var acc = Counters()

  private def mb(b: Long): Double = b / 1048576.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the short call site names the first non-Spark frame: a schema or
    // footer job started by graft.Tables reads "parquet at Tables.scala:N"
    val schema = e.stageInfos.exists(_.name.contains("at Tables.scala:"))
    jobStarts(e.jobId) = (e.time, schema)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (start, schema) =>
      jobs += Job(start, e.time, schema)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val m = Option(info.taskMetrics)
    acc = acc + Counters(
      stages = 1,
      singleTaskStages = if (info.numTasks == 1) 1 else 0,
      tasks = info.numTasks,
      taskS = m.map(_.executorRunTime / 1000.0).getOrElse(0.0),
      gcS = m.map(_.jvmGCTime / 1000.0).getOrElse(0.0),
      shuffleWriteMb = m.map(x => mb(x.shuffleWriteMetrics.bytesWritten)).getOrElse(0.0),
      shuffleReadMb = m.map(x => mb(x.shuffleReadMetrics.totalBytesRead)).getOrElse(0.0),
      spillMb = m.map(x => mb(x.memoryBytesSpilled + x.diskBytesSpilled)).getOrElse(0.0))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phaseS(name: String): Double =
      phases.get(name).map(p => (p.endTimeMs - p.startTimeMs) / 1000.0).getOrElse(0.0)
    val scans = try PlanWalk.scans(qe.executedPlan) catch { case _: Throwable => Nil }
    def metric(s: SparkPlan, key: String): Long = s.metrics.get(key).map(_.value).getOrElse(0L)
    val c = Counters(
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      scanMb = mb(scans.map(metric(_, "filesSize")).sum),
      optimizeS = phaseS("optimization"),
      physicalS = phaseS("planning"))
    synchronized { acc = acc + c }
  }

  /** Union length of the job intervals: time covered by at least one
    * running job. */
  private def covered(js: Seq[Job]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    js.sortBy(_.start).foreach { j =>
      if (j.start > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = j.start; curEnd = j.end
      } else curEnd = math.max(curEnd, j.end)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1000.0
  }

  def take(): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = acc.copy(
        jobs = jobs.size,
        schemaJobs = jobs.count(_.schema),
        jobS = covered(jobs.toSeq))
      jobs.clear()
      acc = Counters()
      out
    }
  }
}

/** In-memory span log: name, start, end, parent, written out at the end
  * of the run. Each query sample gets its own span id; its build and
  * exec calls are child spans. */
final class Spans {
  case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val origin = System.nanoTime()
  private val buf = ArrayBuffer.empty[Span]
  private var next = 1

  def apply[T](name: String, parent: Int = 0)(body: Int => T): T = {
    val id = next
    next += 1
    val t0 = System.nanoTime()
    try body(id)
    finally buf += Span(id, parent, name, t0 - origin, System.nanoTime() - origin)
  }

  def json: String = buf.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f}"""
  }.mkString("[", ",\n", "]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
