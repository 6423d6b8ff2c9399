package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.perfbench.TaskLedger
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What a workload sees: the session, the tracer, its generated inputs
  * (`data`, read-only) and a scratch directory (`work`).
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, data: String,
                     work: String, seed: Long) {
  def table(name: String): String = s"$data/$name.parquet"
}

/** Outcome of one output check, made outside the timed windows. */
final case class Check(name: String, ok: Boolean, detail: String)

object Check {
  /** Evaluates `body` to (passed, detail); an exception fails the check. */
  def run(name: String)(body: => (Boolean, String)): Check = {
    val t0 = System.nanoTime()
    val (ok, detail) =
      try body catch { case e: Throwable => (false, s"error: $e") }
    Check(name, ok, f"$detail, ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }
}

trait Workload {
  /** Input tables the session warmup touches. */
  def tables: Seq[String]
  /** Length of one warm pass on a 4-core box: a window of `--seconds`
    * runs round(seconds / passSeconds) timed passes, at least two.
    */
  def passSeconds: Double
  /** Untimed preparation before the first pass. */
  def prepare(ctx: Ctx): Unit = ()
  /** One pass of ops; `p` numbers the pass, 0 being the untimed warm-up. */
  def pass(ctx: Ctx, p: Int): Unit
  /** Output checks, after the timed passes. */
  def checks(ctx: Ctx): Seq[Check]
  /** Layer-specific per-layer metrics, measured after the timed passes. */
  def extras(ctx: Ctx): Map[String, Double] = Map.empty
}

/** Benchmark JVM: sets a session up three times (the median is `setup_s`),
  * runs the workload's untimed preparation and one untimed warm-up pass,
  * then a fixed number of timed passes for the `--seconds` window, checks
  * the outputs and writes everything the Python front end reports to `--out`.
  *
  * The warm-up pass takes the first-run costs (class loading, JIT
  * compilation, code generation) out of the timed passes: how long those
  * take depends on how much CPU the box leaves the JVM, so a cold pass
  * magnifies the box's load in every reading, CPU time included.
  *
  * With `--trace 1` as many traced passes precede the untraced ones, so one
  * run yields both the per-layer numbers and the tracing overhead.
  *
  * Usage: Main --workload <name> --data <dir> --work <dir> --out <file>
  *   --seconds <n> --trace <0|1> --cores <n> --seed <n>
  */
object Main {
  val SetupRuns = 3
  val MinPasses = 2
  private val MB = 1024.0 * 1024.0
  private val threads = ManagementFactory.getThreadMXBean

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val w: Workload = a("workload") match {
      case "hive_etl" => new HiveEtl
      case "llm_corpus" => new LlmCorpus
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    var ledger: TaskLedger = null
    val setups = (1 to SetupRuns).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.hiveBuilder(s"local[$cores]", "perfbench", s"$work/warehouse$i")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      ledger = new TaskLedger(spark.sparkContext)
      val t1 = System.nanoTime()
      spark.sql("CREATE DATABASE IF NOT EXISTS perfbench")
      val t2 = System.nanoTime()
      w.tables.foreach(t => spark.read.parquet(s"${a("data")}/$t.parquet").count())
      spark.range(1000000).selectExpr("sum(id) AS s").collect()
      val t3 = System.nanoTime()
      val tot = ledger.take()._1
      Json.obj("total_s" -> (t3 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
        "metastore_s" -> (t2 - t1) / 1e9, "warmup_s" -> (t3 - t2) / 1e9,
        "cpu_s" -> tot.cpuS, "jobs" -> tot.jobs, "tasks" -> tot.tasks,
        "gc_s" -> tot.gcMs / 1e3)
    }

    val runId = s"${a("workload")}-${a("seed")}-${if (traceRun) "traced" else "plain"}"
    val tracer = new Tracer(spark, ledger, runId)
    val ctx = Ctx(spark, tracer, a("data"), work, a("seed").toLong)
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phase("prepare")(w.prepare(ctx))
    ledger.take()

    def runPass(p: Int, traced: Boolean): String = {
      tracer.traced = traced
      val driver0 = threads.getCurrentThreadCpuTime
      val ps = tracer.pass(s"pass$p")(w.pass(ctx, p))
      val driver1 = threads.getCurrentThreadCpuTime
      val (tot, books) = ledger.take()
      tracer.traced = false
      val ops = tracer.spans.filter(s => s.kind == "op" && s.parent == ps.id)
      val sampled = ops.filter(s => s.ok && s.sampled)
      Json.obj("pass" -> p, "traced" -> traced, "wall_s" -> ps.durNs / 1e9,
        "cpu_s" -> tot.cpuS, "driver_cpu_s" -> (driver1 - driver0) / 1e9,
        "peak_task_mem_mb" -> tot.peakTaskMemBytes / MB,
        "ops_ms" -> sampled.map(_.durNs / 1e6), "ops" -> ops.size,
        "ops_failed" -> ops.count(!_.ok),
        "layers" -> (if (traced) LayerMetrics.forPass(ps, tracer.spans.toSeq, books)
                     else Map.empty[String, Double]))
    }

    val passes = Seq.newBuilder[String]
    phase("warmup")(passes += runPass(0, traced = false))
    var p = 1
    // A fixed pass count, not a deadline: a pass that straddles a deadline
    // would make the count, and with it the median, differ between runs.
    val n = math.max(MinPasses, math.round(seconds / w.passSeconds).toInt)
    // Traced passes come first, so the per-layer numbers are taken in the
    // same JVM state as the untraced runs' passes.
    phase("passes") {
      if (traceRun) (1 to n).foreach(_ => { passes += runPass(p, traced = true); p += 1 })
      (1 to n).foreach(_ => { passes += runPass(p, traced = false); p += 1 })
    }
    val checks = phase("checks")(w.checks(ctx))
    val extras = phase("extras")(w.extras(ctx))
    writeSpans(s"$work/spans.jsonl", tracer.spans.toSeq)
    val out = Json.obj(
      "workload" -> a("workload"), "seed" -> ctx.seed, "run_id" -> runId,
      "setup" -> Json.Raw(setups.mkString("[", ",", "]")),
      "passes" -> Json.Raw(passes.result().mkString("[", ",", "]")),
      "checks" -> Json.Raw(checks.map(c => Json.obj("name" -> c.name,
        "ok" -> c.ok, "detail" -> c.detail)).mkString("[", ",", "]")),
      "extras" -> extras, "phases_s" -> phases.toMap)
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "layer" -> s.layer, "name" -> s.name, "run_id" -> s.runId,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "plan_ns" -> s.planNs, "ok" -> s.ok))
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
