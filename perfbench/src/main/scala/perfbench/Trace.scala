package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds with System.nanoTime resolution, so the benchmark's
  * own spans line up with the epoch-millisecond times Spark's listener
  * events carry. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long, op: Long) {
  def json: String = Json.obj("id" -> id, "name" -> name,
    "start_us" -> startUs, "end_us" -> endUs, "parent" -> parent, "op" -> op)
}

/** Layer counters of one op, filled by the listeners below. */
final class OpAcc(val id: Long) {
  var analysisMs, optimizationMs, planningMs = 0L
  var kernelNodes, jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWriteBytes, shuffleReadBytes = 0L
  var spillBytes, scanBytes, scanRows = 0L

  def fields: Seq[(String, Any)] = Seq(
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "kernel_nodes" -> kernelNodes, "jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "scan_bytes" -> scanBytes, "scan_rows" -> scanRows)
}

/** The traced run's span recorder. Spans stay in memory and are written
  * as JSON lines at exit. Every span carries the id of the op it belongs
  * to; Spark jobs find their op through the `perfbench.op` local
  * property the harness sets before each call. */
object Trace extends AdaptiveSparkPlanHelper {
  val OpProperty = "perfbench.op"

  /** Recording is on only during traced rounds; listeners stay
    * registered but return at once while it is off. */
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  private val spans = mutable.ArrayBuffer[Span]()
  def add(s: Span): Unit = synchronized { spans += s }
  def allSpans: Seq[Span] = synchronized { spans.toList }

  /** The op that is running (one client, one op at a time). */
  @volatile private var current: OpAcc = null
  def begin(acc: OpAcc): Unit = current = acc
  def end(): Unit = current = null

  def span[T](name: String, parent: Long, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val t0 = Clock.nowUs
      try body finally add(Span(id, name, t0, Clock.nowUs, parent, op))
    }

  private val kernelExecs =
    Set("ProbePreAggExec", "LowCardPreAggExec", "FrameStatsExec")

  /** Custom kernel operators in a final (adaptive) physical plan,
    * including query stages and subqueries. */
  def kernelNodes(plan: SparkPlan): Int =
    collectWithSubqueries(plan) {
      case p if kernelExecs(p.getClass.getSimpleName) => 1
    }.size

  private[perfbench] def onQueryExecution(qe: QueryExecution): Unit = {
    val acc = current
    if (!enabled || acc == null) return
    qe.tracker.phases.foreach { case (phase, p) =>
      val ms = p.endTimeMs - p.startTimeMs
      phase match {
        case "analysis" => acc.analysisMs += ms
        case "optimization" => acc.optimizationMs += ms
        case "planning" => acc.planningMs += ms
        case _ =>
      }
      if (phase != "parsing")
        add(Span(nextId(), s"plans.$phase", p.startTimeMs * 1000L,
          p.endTimeMs * 1000L, acc.id, acc.id))
    }
    acc.kernelNodes += (try kernelNodes(qe.executedPlan)
      catch { case _: Exception => 0 })
  }

  private final case class JobOf(acc: OpAcc, spanId: Long, startUs: Long)
  private val jobs = new ConcurrentHashMap[Int, JobOf]()
  private val stageJob = new ConcurrentHashMap[Int, JobOf]()

  /** Spark-side events: jobs, stages and task metrics per op. */
  final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val acc = current
      if (!enabled || acc == null) return
      val prop = Option(e.properties).flatMap(p =>
        Option(p.getProperty(OpProperty)))
      if (!prop.contains(acc.id.toString)) return
      acc.jobs += 1
      val j = JobOf(acc, nextId(), e.time * 1000L)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.remove(e.jobId)
      if (j != null)
        add(Span(j.spanId, "exec.job", j.startUs, e.time * 1000L,
          j.acc.id, j.acc.id))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val j = stageJob.get(info.stageId)
      if (j == null) return
      j.acc.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        add(Span(nextId(), "exec.stage", s * 1000L, c * 1000L, j.spanId,
          j.acc.id))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j == null || m == null) return
      val acc = j.acc
      acc.synchronized {
        acc.tasks += 1
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        acc.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        acc.scanBytes += m.inputMetrics.bytesRead
        acc.scanRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Forget per-op job/stage bookkeeping once an op's events are drained. */
  def clearOpState(): Unit = { jobs.clear(); stageJob.clear() }
}

/** Registered through `spark.sql.queryExecutionListeners` in traced runs,
  * so sessions the engine clones internally report too. */
final class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = Trace.onQueryExecution(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = Trace.onQueryExecution(qe)
}
