package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Executor-side work summed over a set of tasks. */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var schedWaitMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var peakTaskMemBytes = 0L

  def cpuS: Double = cpuNs / 1e9
  /** Executor run time not spent on the CPU: I/O, locks, page faults. */
  def blockedS: Double = math.max(0.0, runMs / 1e3 - cpuNs / 1e9)
}

/** Listener that books every finished task to the span that launched it.
  *
  * The harness sets the local property [[SpanKey]] before each traced call;
  * job-start and stage-submit events carry the caller's local properties, so
  * the ledger maps stage -> span and adds each task's metrics to that span.
  * Totals over all tasks are kept whether tracing is on or not: the
  * end-to-end CPU and peak-memory metrics come from them.
  *
  * Lives under `org.apache.spark` only to drain `listenerBus` before a read
  * (listener events are delivered asynchronously).
  */
final class TaskLedger(sc: SparkContext) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  // written on the listener-bus thread, swapped out by take(); both sides
  // synchronize on the ledger
  private var total = new TaskTotals
  private val bySpan = mutable.HashMap.empty[Int, TaskTotals]

  sc.addSparkListener(this)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(TaskLedger.SpanKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    spanOf(e.properties).foreach { s =>
      bySpan.getOrElseUpdate(s, new TaskTotals).jobs += 1
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    e.stageInfo.submissionTime.foreach(stageSubmitMs.put(id, _))
    spanOf(e.properties).foreach(stageSpan.put(id, _))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val submit = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
      val wait = math.max(0L, e.taskInfo.launchTime - submit)
      add(total, m, wait)
      Option(stageSpan.get(e.stageId)).foreach { s =>
        add(bySpan.getOrElseUpdate(s, new TaskTotals), m, wait)
      }
    }
  }

  private def add(t: TaskTotals, m: org.apache.spark.executor.TaskMetrics,
                  waitMs: Long): Unit = {
    t.tasks += 1
    t.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
    t.runMs += m.executorRunTime + m.executorDeserializeTime
    t.schedWaitMs += waitMs
    t.gcMs += m.jvmGCTime
    t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    t.spillBytes += m.diskBytesSpilled
    t.inputBytes += m.inputMetrics.bytesRead
    t.outputBytes += m.outputMetrics.bytesWritten
    t.peakTaskMemBytes = math.max(t.peakTaskMemBytes, m.peakExecutionMemory)
  }

  /** Wait until every event posted so far has been delivered. */
  private def drain(): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Drain, then return and reset the totals and the per-span books. */
  def take(): (TaskTotals, Map[Int, TaskTotals]) = {
    drain()
    synchronized {
      val out = (total, bySpan.toMap)
      total = new TaskTotals
      bySpan.clear()
      out
    }
  }
}

object TaskLedger {
  val SpanKey = "perfbench.span"
}
