package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer. `req` groups the spans of
  * one request (a query repetition, a micro-batch, a probe). */
final class Span(val id: Long, val parent: Long, val req: Long,
                 val name: String, val start: Long) {
  @volatile var end: Long = 0L
}

/** In-memory span recorder. When off, `span` only runs its body. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val p = current.get
      val s = new Span(ids.incrementAndGet(), if (p == null) 0L else p.id,
        if (req >= 0) req else if (p == null) 0L else p.req, name, System.nanoTime())
      spans.add(s)
      current.set(s)
      try body finally { s.end = System.nanoTime(); current.set(p) }
    }

  def closed: Seq[Span] = spans.asScala.toSeq.filter(_.end > 0)

  /** Self time per span name in ms: each span's duration minus the part
    * of it that its child spans cover. */
  def selfMs: Map[String, Double] = {
    val ss = closed
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Intervals.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try closed.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Scheduler-level counters over a measurement window, from Spark's
  * public listener events. Jobs are tagged with their scheduler pool. */
final class ExecStats extends SparkListener {
  @volatile var on = false
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val taskRunMs = new AtomicLong; val taskCpuNs = new AtomicLong; val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong; val shuffleRead = new AtomicLong
  val fetchWaitMs = new AtomicLong; val spill = new AtomicLong
  val inputBytes = new AtomicLong; val inputRows = new AtomicLong
  private val taskDur = mutable.ArrayBuffer[Long]()
  val buildJobs = new AtomicLong
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val finished = mutable.ArrayBuffer[Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    jobs.incrementAndGet()
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // a request's jobs carry its id; a stream's jobs carry their batch id
    val tag = prop(ExecStats.ReqKey)
      .orElse(prop("streaming.sql.batchId").map("batch-" + _)).getOrElse("")
    if (prop(ExecStats.LayerKey).contains("build")) buildJobs.incrementAndGet()
    started.put(e.jobId,
      Job(e.time, 0L, prop("spark.scheduler.pool").getOrElse("default"), tag))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { j =>
      finished.synchronized(finished += j.copy(end = e.time))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      taskDur.synchronized(taskDur += e.taskInfo.duration)
    }

  /** Finished jobs (epoch ms intervals, pool, request or batch tag). */
  def finishedJobs: Seq[Job] = finished.synchronized(finished.toSeq)

  def taskPercentileMs(p: Double): Double = taskDur.synchronized {
    if (taskDur.isEmpty) 0.0
    else {
      val s = taskDur.sorted
      s(math.min(s.length - 1, (p * (s.length - 1)).round.toInt)).toDouble
    }
  }
}

final case class Job(start: Long, end: Long, pool: String, tag: String)

object ExecStats {
  /** Local property naming the request a job runs for. */
  val ReqKey = "perfbench.req"
  /** Local property naming the layer that submitted a job. */
  val LayerKey = "perfbench.layer"
}

/** Catalyst phase times and physical-plan shape of every action in a
  * window, from the public QueryExecutionListener hook. */
final class PlanStats extends QueryExecutionListener {
  @volatile var on = false
  val actions = new AtomicLong
  val analysisMs = new AtomicLong; val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
  val exchanges = new AtomicLong; val broadcasts = new AtomicLong
  val spreads = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (on) record(qe)

  private def record(qe: QueryExecution): Unit = {
    actions.incrementAndGet()
    val ph = qe.tracker.phases
    def phase(n: String): Long = ph.get(n).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(phase("analysis"))
    optimizationMs.addAndGet(phase("optimization"))
    planningMs.addAndGet(phase("planning"))
    val nodes = scala.util.Try(PlanStats.flatten(qe.executedPlan)).getOrElse(Nil)
    nodes.foreach {
      case b: BroadcastExchangeLike => broadcasts.incrementAndGet()
      case s: ShuffleExchangeLike =>
        exchanges.incrementAndGet()
        if (s.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
          spreads.incrementAndGet()
      case _ => ()
    }
  }
}

object PlanStats {
  /** Every physical node, descending into adaptive plans, query stages
    * and subqueries. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(flatten) ++ p.subqueries.flatMap(flatten)
  }
}
