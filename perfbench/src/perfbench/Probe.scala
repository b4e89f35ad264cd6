package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts Spark work from outside the program: one SparkListener for
  * jobs and tasks, one QueryExecutionListener for planning time. It is
  * registered only in traced runs. Readers call [[mark]] at span
  * boundaries; a mark drains the listener bus first, so the counters
  * between two marks belong to the code that ran between them.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  private val taskMs = ArrayBuffer.empty[Long]
  private var busyMs = 0L
  private var shuffleBytes = 0L
  private var spillBytes = 0L
  private var planMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans += ((jobStarts.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      busyMs += m.executorRunTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def mark(): Probe.Mark = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      Probe.Mark(System.currentTimeMillis(), jobSpans.size, taskMs.size, busyMs,
        shuffleBytes, spillBytes, planMs)
    }
  }

  /** Counters of the work between two marks. */
  def between(a: Probe.Mark, b: Probe.Mark): Map[String, Double] = synchronized {
    val jobs = jobSpans.slice(a.jobs, b.jobs)
    val tasks = taskMs.slice(a.tasks, b.tasks)
    Map(
      "jobs" -> jobs.size.toDouble,
      "tasks" -> tasks.size.toDouble,
      "task_busy_s" -> (b.busyMs - a.busyMs) / 1e3,
      "max_task_s" -> (if (tasks.isEmpty) 0.0 else tasks.max / 1e3),
      "driver_gap_s" -> Probe.uncovered(a.wallMs, b.wallMs, jobs.toSeq) / 1e3,
      "plan_s" -> (b.planMs - a.planMs) / 1e3,
      "shuffle_mb" -> (b.shuffleBytes - a.shuffleBytes) / 1048576.0,
      "spill_mb" -> (b.spillBytes - a.spillBytes) / 1048576.0)
  }
}

object Probe {
  final case class Mark(wallMs: Long, jobs: Int, tasks: Int, busyMs: Long,
      shuffleBytes: Long, spillBytes: Long, planMs: Long)

  /** Milliseconds of [from, to] that no job interval covers. */
  def uncovered(from: Long, to: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = from
    for ((s, e) <- jobs.map { case (s, e) => (s.max(from), e.min(to)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > reach) { covered += e - s.max(reach); reach = e }
    }
    (to - from - covered).max(0L)
  }
}

/** In-memory span log, written out once when the run ends. A span has a
  * name, start, end, parent span and the id of the pass or op it
  * belongs to; `attrs` holds the listener counters attributed to it. */
final class Trace {
  import Trace.Span

  val spans = ArrayBuffer.empty[Span]

  def add(name: String, parent: Int, unit: Int, startNs: Long, endNs: Long,
      attrs: Map[String, Double]): Int = {
    spans += Span(spans.size + 1, name, parent, unit, startNs, endNs, attrs)
    spans.size
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")
      w.println(s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""unit": ${s.unit}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""attrs": {$attrs}}""")
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, unit: Int,
      startNs: Long, endNs: Long, attrs: Map[String, Double]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
