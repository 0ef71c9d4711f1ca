package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call counters the traced run collects. Written by listener-bus
  * threads under the [[Tracer]] lock; read after the bus is drained. */
final class CallStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  var batches = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's tracer: a SparkListener for jobs, tasks and streaming
  * progress, and a QueryExecutionListener ([[PlanListener]]) for Catalyst
  * planning time. Work is attributed to the call that issued it through
  * the `perfbench.call` local property, which Spark copies to the threads
  * a call starts (broadcasts, streaming micro-batches); events that carry
  * no property fall back to the call running when they are delivered. */
object Tracer extends SparkListener {
  val CallProperty = "perfbench.call"

  @volatile var enabled = false
  @volatile var current: String = ""
  @volatile var taskFailures = 0L

  private val stats = mutable.Map.empty[String, CallStats]
  private val jobCall = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageCall = mutable.Map.empty[Int, String]

  private def of(key: String): CallStats = stats.getOrElseUpdate(key, new CallStats)

  def take(key: String): CallStats = synchronized(stats.remove(key).getOrElse(new CallStats))

  def attach(sc: SparkContext): Unit = { enabled = true; sc.addSparkListener(this) }

  def detach(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    enabled = false
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(CallProperty))).getOrElse(current)
    jobCall(e.jobId) = key
    jobStart(e.jobId) = e.time
    e.stageInfos.foreach(s => stageCall(s.stageId) = key)
    of(key).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (key <- jobCall.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      of(key).jobSpans += ((t0, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageCall.getOrElse(e.stageId, current))
    s.tasks += 1
    if (e.reason != Success) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.runMs += m.executorRunTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: StreamingQueryListener.QueryProgressEvent => synchronized(of(current).batches += 1)
    case _ =>
  }

  private[perfbench] def addPlan(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    synchronized(of(current).planMs += ms)
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every session
  * the engine creates (streaming and GLPR code use their own) reports its
  * query executions to the [[Tracer]]. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Tracer.addPlan(qe)
}
