package graft.perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.{TaskLedger, TaskTotals}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

/** One timed interval: a pass, an op inside it, or a layer call inside an op.
  * `planNs` is set for calls that return a DataFrame: the time from the call
  * until its executed plan was ready.
  */
final case class Span(id: Int, parent: Int, kind: String, layer: String,
                      name: String, runId: String, startNs: Long) {
  var endNs: Long = startNs
  var planNs: Long = -1L
  var ok: Boolean = true
  /** Whether this op's latency is a sample of the op-latency metric. */
  var sampled: Boolean = true
  def durNs: Long = endNs - startNs
}

/** Spans recorded from the benchmark's side of each public call.
  *
  * Pass and op spans are always kept: the end-to-end metrics are their
  * durations. Layer-call spans, and the local property that lets the
  * [[TaskLedger]] book Spark tasks to them, exist only while `traced` is set.
  * Spans stay in memory until the run writes them out.
  */
final class Tracer(spark: SparkSession, val ledger: TaskLedger, runId: String) {
  var traced = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  private def within[T](kind: String, layer: String, name: String)(body: => T): (Span, T) = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, parent, kind, layer, name, runId, System.nanoTime())
    spans += s
    open = s :: open
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TaskLedger.SpanKey)
    if (traced) sc.setLocalProperty(TaskLedger.SpanKey, s.id.toString)
    try {
      val out = body
      (s, out)
    } catch {
      case e: Throwable => s.ok = false; throw e
    } finally {
      s.endNs = System.nanoTime()
      open = open.tail
      if (traced) sc.setLocalProperty(TaskLedger.SpanKey, prev)
    }
  }

  def pass(name: String)(body: => Unit): Span = within("pass", "", name)(body)._1

  /** One op: failures are caught, logged and returned as `ok = false`.
    * An op that is not `sampled` counts toward the pass time only.
    */
  def op(name: String, sampled: Boolean = true)(body: => Unit): Span = {
    val id = spans.size
    val s =
      try within("op", "", name)(body)._1
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $name failed: $e")
          spans(id)
      }
    s.sampled = sampled
    s
  }

  /** A call into `layer`; recorded as a span only when tracing. */
  def call[T](layer: String, name: String)(body: => T): T =
    if (traced) within("call", layer, name)(body)._2 else body

  /** A call that returns a DataFrame, forced to its sink: the plan is built
    * (`planNs`), then every row of every partition is drained through the
    * same executed plan, as the noop sink would, without planning twice.
    * Returns the query execution, whose plan carries the scan metrics.
    */
  def query(layer: String, name: String)(mk: => DataFrame): QueryExecution = {
    val run = () => {
      val t0 = System.nanoTime()
      val qe = mk.queryExecution
      qe.executedPlan
      val planned = System.nanoTime() - t0
      SQLExecution.withNewExecutionId(qe, Some(s"perfbench $name"))(
        qe.toRdd.foreach(_ => ()))
      (planned, qe)
    }
    if (traced) {
      val (s, (planned, qe)) = within("call", layer, name)(run())
      s.planNs = planned
      qe
    } else run()._2
  }
}

/** Per-layer numbers for one pass, from its spans and the ledger's books. */
object LayerMetrics {
  private val MB = 1024.0 * 1024.0

  /** Time in `s` not covered by any of its children. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    var covered = 0L
    var reach = s.startNs
    children.sortBy(_.startNs).foreach { c =>
      val from = math.max(c.startNs, reach)
      val to = math.min(c.endNs, s.endNs)
      if (to > from) covered += to - from
      reach = math.max(reach, c.endNs)
    }
    s.durNs - covered
  }

  def forPass(pass: Span, spans: Seq[Span],
              books: Map[Int, TaskTotals]): Map[String, Double] = {
    val inPass = spans.filter(s => s.startNs >= pass.startNs && s.endNs <= pass.endNs)
    val children = inPass.groupBy(_.parent)
    val calls = inPass.filter(_.kind == "call")
    calls.groupBy(_.layer).flatMap { case (layer, cs) =>
      val t = cs.flatMap(c => books.get(c.id))
      def sum(f: TaskTotals => Double) = t.map(f).sum
      val plan = cs.filter(_.planNs >= 0).map(_.planNs).sum / 1e9
      val busy = cs.map(_.durNs).sum / 1e9
      Map(
        "calls" -> cs.size.toDouble,
        "busy_s" -> busy,
        "self_s" -> cs.map(c => selfNs(c, children.getOrElse(c.id, Nil))).sum / 1e9,
        "plan_s" -> plan,
        "exec_s" -> (busy - plan),
        "cpu_s" -> sum(_.cpuS),
        "blocked_s" -> sum(_.blockedS),
        "sched_wait_s" -> sum(_.schedWaitMs / 1e3),
        "jobs" -> sum(_.jobs.toDouble),
        "tasks" -> sum(_.tasks.toDouble),
        "shuffle_write_mb" -> sum(_.shuffleWriteBytes / MB),
        "fetch_wait_s" -> sum(_.fetchWaitMs / 1e3),
        "spill_mb" -> sum(_.spillBytes / MB),
        "gc_s" -> sum(_.gcMs / 1e3),
        "bytes_written_mb" -> sum(_.outputBytes / MB),
        "ddl_s" -> cs.filter(_.name == "ddl").map(_.durNs).sum / 1e9,
      ).map { case (k, v) => s"$layer.$k" -> v }
    }
  }
}
