package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one workload run; every value comes from run.py. */
final case class Args(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def dbl(k: String): Double = apply(k).toDouble
  val workload: String = apply("workload")
  val seed: Long = long("seed")
  val seconds: Double = dbl("seconds")
  val trace: Boolean = apply("trace") == "1"
  val cores: Int = int("cores")
  val work: String = apply("work")
}

object Args {
  def parse(argv: Array[String]): Args =
    Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)
}

/** What one run reports: operation counts, named correctness checks,
  * end-to-end metrics, per-layer metrics, and free-form detail. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val detail = mutable.LinkedHashMap[String, Any]()
  val errors = mutable.ArrayBuffer[String]()

  def error(what: String, e: Throwable): Unit = errors.synchronized {
    if (errors.length < 20)
      errors += (what + ": " + Option(e.getMessage).getOrElse(e.getClass.getName)).take(300)
  }

  def json: String = {
    def obj(m: Iterable[(String, Any)]): String =
      m.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }.mkString("{", ",", "}")
    obj(Seq("attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.toMap, "e2e" -> e2e.toMap, "layers" -> layers.toMap,
      "detail" -> detail.toMap, "errors" -> errors.toSeq))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile (p in [0, 100]). */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** The highest of the usual tail percentiles that still has at least
    * ten samples beyond it; with fewer than twenty samples none has, and
    * the slowest sample stands in (reported as percentile 100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => n - math.ceil(p / 100.0 * n) >= 10)
      .map(p => (p, pct(xs, p)))
      .getOrElse((100.0, if (xs.isEmpty) Double.NaN else xs.max))
  }

  /** Fills `<prefix>_p50_ms`, `<prefix>_tail_ms` (+ its percentile and n). */
  def latency(r: Result, prefix: String, ms: Seq[Double]): Unit = {
    val (p, t) = tail(ms)
    r.detail(s"${prefix}_p50_ms") = median(ms)
    r.detail(s"${prefix}_tail_ms") = t
    r.detail(s"${prefix}_tail_pct") = p
    r.detail(s"${prefix}_n") = ms.length
  }
}

/** Session life cycle and the measurement window shared by workloads. */
final class Bench(val a: Args) {
  val r = new Result
  val tracer = new Tracer(a.trace)
  val exec = new ExecStats
  val plans = new PlanStats
  private var windowStart = 0L
  private var windowEnd = 0L

  def now: Long = System.nanoTime()

  def builder(fairPools: Option[String], cores: Int = a.cores): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    fairPools.foreach { f =>
      b.config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", f)
    }
    b
  }

  /** Starts the session and runs the workload's seeding
    * [[Bench.SetupReps]] times, stopping the session between cycles, and
    * reports the median cycle as `setup_s`. The last cycle's session and
    * seeding are kept. */
  def setup[T](fairPools: Option[String] = None)(seed: SparkSession => T)
      : (SparkSession, T) = {
    var last: (SparkSession, T) = null
    val times = (1 to Bench.SetupReps).map { _ =>
      if (last != null) last._1.stop()
      val t0 = now
      val s = builder(fairPools).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.functions.GraftExtensions.register(s)
      last = (s, seed(s))
      (now - t0) / 1e9
    }
    r.e2e("setup_s") = Stats.median(times)
    r.detail("setup_cycles_s") = times
    // the layer listeners run in traced runs only, so the end-to-end
    // figures of an untraced run carry no tracing cost
    if (a.trace) {
      last._1.sparkContext.addSparkListener(exec)
      last._1.listenerManager.register(plans)
    }
    last
  }

  /** Opens the window the per-layer counters cover. */
  def begin(spark: SparkSession): Unit = {
    org.apache.spark.PerfBridge.drainListeners(spark.sparkContext)
    exec.on = true
    plans.on = true
    windowStart = now
  }

  def end(spark: SparkSession): Unit = {
    windowEnd = now
    org.apache.spark.PerfBridge.drainListeners(spark.sparkContext)
    exec.on = false
    plans.on = false
  }

  def windowMs: Double = (windowEnd - windowStart) / 1e6

  /** The per-layer counters every workload reports, divided by `units`
    * (mix passes, backlog drains or micro-batches of the window). */
  def commonLayers(units: Double, driverGapMs: Double): Unit = {
    val l = r.layers
    def per(x: Long): Double = x / units
    l("exec.jobs") = per(exec.jobs.get)
    l("exec.stages") = per(exec.stages.get)
    l("exec.tasks") = per(exec.tasks.get)
    l("exec.task_run_ms") = per(exec.taskRunMs.get)
    l("exec.task_cpu_ms") = per(exec.taskCpuNs.get) / 1e6
    l("exec.gc_ms") = per(exec.gcMs.get)
    l("exec.driver_gap_ms") = driverGapMs
    l("exec.core_busy_share") = exec.taskRunMs.get / (windowMs * a.cores)
    l("exec.task_p50_ms") = exec.taskPercentileMs(0.5)
    l("exec.task_max_ms") = exec.taskPercentileMs(1.0)
    l("exec.shuffle_write_bytes") = per(exec.shuffleWrite.get)
    l("exec.shuffle_read_bytes") = per(exec.shuffleRead.get)
    l("exec.shuffle_fetch_wait_ms") = per(exec.fetchWaitMs.get)
    l("exec.spill_bytes") = per(exec.spill.get)
    l("plans.actions") = per(plans.actions.get)
    l("plans.analysis_ms") = per(plans.analysisMs.get)
    l("plans.optimization_ms") = per(plans.optimizationMs.get)
    l("plans.planning_ms") = per(plans.planningMs.get)
    l("plans.exchanges") = per(plans.exchanges.get)
    l("plans.broadcasts") = per(plans.broadcasts.get)
    l("sources.input_bytes") = per(exec.inputBytes.get)
    l("sources.input_rows") = per(exec.inputRows.get)
    l("sources.spread_exchanges") = per(plans.spreads.get)
  }

  /** Time not covered by any Spark job inside [startMs, endMs]. */
  def gapMs(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Double =
    (endMs - startMs) - Intervals.union(jobs.map { case (s, e) =>
      (math.max(s, startMs), math.min(e, endMs)) })

  def finish(): Unit = {
    if (a.trace) {
      r.detail("self_ms") = tracer.selfMs
      tracer.write(a("spans"))
      r.detail("spans") = tracer.closed.length
    }
    val f = a.apply("out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), r.json)
  }
}

object Bench {
  /** Set-up cycles per run; `setup_s` is their median. */
  val SetupReps = 3
}

object Main {
  def main(argv: Array[String]): Unit = {
    val b = new Bench(Args.parse(argv))
    b.a.workload match {
      case "registry_queries" => Mix.run(b)
      case "trend_stream" => TrendBench.run(b)
      case "ingest_loop" => IngestBench.run(b)
      case w => sys.error(s"unknown workload $w")
    }
    b.finish()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
