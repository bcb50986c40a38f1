package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{SyntheticTweets, TrendSink, TrendStream, TweetSource}

/** Wraps the real sink: times every call, records when each batch
  * committed, and counts every throw — `TrendStream.writer` swallows
  * sink exceptions, so this is the only place they can be seen. */
final class TimedSink(inner: TrendSink, tracer: Tracer) extends TrendSink {
  val calls = new AtomicLong
  val failures = new AtomicLong
  val writeNs = new AtomicLong
  val committedMs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def write(df: DataFrame, batchId: Long): Unit = {
    calls.incrementAndGet()
    val t0 = System.nanoTime()
    try tracer.span("sinks.write", batchId)(inner.write(df, batchId))
    catch { case e: Throwable => failures.incrementAndGet(); throw e }
    finally writeNs.addAndGet(System.nanoTime() - t0)
    committedMs.put(batchId, System.currentTimeMillis())
  }
}

/** `trend_stream`: the reference pipeline — seeded synthetic wire lines
  * through `TrendStream.trendRows` (with `observed`), per-batch dedup and
  * `TrendSink.ParquetSink`. Two phases: timed drains of a fixed backlog
  * with `Trigger.AvailableNow`, then an open-loop feed at a fixed rate
  * on a short processing-time trigger. */
object TrendBench {
  val BacklogIds = 200000L // about 7 in 10 survive the producer's filter
  val BacklogFiles = 8
  val FilesPerBatch = 4
  val Drains = 3
  /** Untimed drains before the timed ones: the first drain in a JVM
    * takes about three times as long as the later ones, and the second
    * was still up to a quarter slower than the third. */
  val WarmDrains = 2
  val Rate = 5000 // open-loop ids per second
  val TickMs = 100L
  val TriggerMs = 100L
  /** Share of `--seconds` the open loop runs: 100 files at the listed
    * 16 s, so that its tail is p90 with ten files beyond it. */
  val OpenShare = 0.625
  val LatencyLimitMs = 5000.0
  val TimeoutMs = 60000L

  def run(b: Bench): Unit = {
    val a = b.a
    val r = b.r
    val w = a.work
    val backlog = s"$w/backlog"
    // the seed moves the id range, which changes every tweet's text
    val base = a.seed * 100000000L
    val ticks = math.ceil(a.seconds * OpenShare * 1000 / TickMs).toInt
    val perTick = math.max(1, (Rate * TickMs / 1000).toInt)

    def feed(s: SparkSession, from: Long, n: Long, parts: Int): DataFrame =
      SyntheticTweets.wireLines(s.range(from, from + n, 1, parts).toDF("id"))
    val (spark, _) = b.setup() { s =>
      feed(s, base, BacklogIds, BacklogFiles).write.mode("overwrite").text(backlog)
    }
    // the open-loop pool, made once: distinct lines for every tick and the
    // warm-up file (about 7 in 10 ids survive the producer's filter)
    val openLines = feed(spark, base + BacklogIds, ticks * perTick * 2L, a.cores)
      .collect().map(_.getString(0))
    val backlogLines = spark.read.text(backlog).count()

    // one drain of the backlog with a fresh checkpoint:
    // (wall s, summed batch rows, sink, epoch-ms window)
    def drain(tag: String): (Double, Long, TimedSink, (Long, Long)) = {
      val sink = new TimedSink(TrendSink.ParquetSink(s"$w/out-$tag"), b.tracer)
      val rows = TrendStream.observed(TrendStream.trendRows(
        TweetSource.FileSource(backlog, maxFilesPerTrigger = Some(FilesPerBatch)).load(spark)))
      val t0 = b.now
      val e0 = System.currentTimeMillis()
      val q = b.tracer.span("streaming.drain") {
        val q = TrendStream.writer(rows, sink, Trigger.AvailableNow(), Some(s"$w/ckpt-$tag")).start()
        q.awaitTermination(TimeoutMs)
        q
      }
      val s = (b.now - t0) / 1e9
      val e1 = System.currentTimeMillis()
      q.stop()
      (s, batchRows(q), sink, (e0, e1))
    }

    // untimed drains first, for the JIT and code generation
    r.detail("warm_drain_s") = (1 to WarmDrains).map(i => drain(s"warm$i")._1)

    b.begin(spark)
    val drains = (1 to Drains).map(i => drain(s"drain$i"))
    b.end(spark)
    val drainS = drains.map(_._1)
    r.attempted += drains.length
    r.failed += drains.count(d => d._3.failures.get > 0)

    // correctness: the stream's summed batch rows equal a static run of
    // trendRows over the same lines
    val t1 = b.now
    val staticRows = b.tracer.span("functions.trend_rows") {
      TrendStream.trendRows(spark.read.text(backlog)).count()
    }
    r.detail("static_count_s") = (b.now - t1) / 1e9
    r.checks("drain_rows_match_static") = drains.forall(_._2 == staticRows)
    r.detail("static_trend_rows") = staticRows
    r.detail("drain_trend_rows") = drains.map(_._2)
    if (a.trace) {
      val t2 = b.now
      TrendStream.trendRows(spark.read.text(backlog)).write.mode("overwrite").format("noop").save()
      r.layers("functions.trend_rows_per_s") = backlogLines / ((b.now - t2) / 1e9)
    }

    // open loop at the nominal rate
    val o0 = b.now
    val openDir = s"$w/open"
    Files.createDirectories(Paths.get(openDir))
    val sink = new TimedSink(TrendSink.ParquetSink(s"$w/out-open"), b.tracer)
    val rows = TrendStream.observed(TrendStream.trendRows(TweetSource.FileSource(openDir).load(spark)))
    val ckpt = s"$w/ckpt-open"
    val q = TrendStream.writer(rows, sink, Trigger.ProcessingTime(TriggerMs), Some(ckpt)).start()
    // one untimed file first, so the timed files meet a query that has
    // planned and run a batch already
    Files.write(Paths.get(openDir, ".warm.txt"),
      openLines.takeRight(perTick).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(Paths.get(openDir, ".warm.txt"), Paths.get(openDir, "warm.txt"))
    q.processAllAvailable()
    val gen = new OpenLoop(openDir, System.currentTimeMillis() + 200, TickMs,
      (0 until ticks).map(i => openLines.slice(i * perTick, (i + 1) * perTick)))
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    r.detail("open_loop_s") = (b.now - o0) / 1e9
    val batchOf = SourceLog.batches(ckpt)
    val committed = mutable.Map[Long, Long]()
    sink.committedMs.forEach((k, v) => committed(k) = v)
    val (lat, missing) = SourceLog.latencies(gen.dueTimes, batchOf, committed.toMap)
    r.attempted += gen.dueTimes.size
    r.failed += missing + lat.count(_ > LatencyLimitMs)
    r.detail("open_sink_failures") = sink.failures.get
    r.failed += sink.failures.get

    r.e2e("pass_s") = Stats.median(drainS)
    r.e2e("latency_p50_ms") = Stats.median(lat)
    r.e2e("latency_tail_ms") = Stats.tail(lat)._2
    Stats.latency(r, "latency", lat)
    r.detail("drain_s") = drainS
    r.detail("backlog_lines") = backlogLines
    r.detail("drain_rows_per_s") = backlogLines / Stats.median(drainS)
    r.detail("open_rate_rows_per_s") = perTick * 1000.0 / TickMs
    r.detail("latency_limit_ms") = LatencyLimitMs
    r.detail("latency_over_limit") = lat.count(_ > LatencyLimitMs)
    r.detail("open_files_missing") = missing
    r.checks("open_loop_rows_match") = batchRows(q) == TrendStream
      .trendRows(spark.read.text(openDir)).count()

    val jobs = b.exec.finishedJobs.map(j => (j.start, j.end))
    val gaps = drains.map { case (_, _, _, (e0, e1)) => b.gapMs(e0, e1, jobs) }
    b.commonLayers(drains.length, Stats.median(gaps))
    val l = r.layers
    l("generator.lag_ms") = Stats.median(gen.lagMs)
    r.detail("generator_lag_max_ms") = if (gen.lagMs.isEmpty) 0.0 else gen.lagMs.max
    streamingLayers(r, q)
    l("sinks.write_ms") = sink.writeNs.get / 1e6 / math.max(1L, sink.calls.get)
    val rowsIn = batchRows(q).toDouble
    val rowsOut = spark.read.parquet(s"$w/out-open").count().toDouble
    l("sinks.rows_out") = rowsOut
    l("sinks.dedup_ratio") = if (rowsIn > 0) rowsOut / rowsIn else 0.0

    // single-thread baseline: the same drain in a local[1] session
    if (a.trace) {
      spark.stop()
      val one = b.builder(None, cores = 1).getOrCreate()
      one.sparkContext.setLogLevel("ERROR")
      graft.functions.GraftExtensions.register(one)
      val rows1 = TrendStream.observed(TrendStream.trendRows(TweetSource.FileSource(
        backlog, maxFilesPerTrigger = Some(FilesPerBatch)).load(one)))
      val t3 = b.now
      val q1 = TrendStream.writer(rows1,
        new TimedSink(TrendSink.ParquetSink(s"$w/out-local1"), b.tracer),
        Trigger.AvailableNow(), Some(s"$w/ckpt-local1")).start()
      q1.awaitTermination(TimeoutMs)
      q1.stop()
      l("baseline.local1_drain_rows_per_s") = backlogLines / ((b.now - t3) / 1e9)
    }
  }

  /** Summed `trend_metrics.batch_rows` over a query's batches. */
  def batchRows(q: StreamingQuery): Long =
    q.recentProgress.toSeq.flatMap(p => Option(p.observedMetrics.get("trend_metrics")))
      .map(_.getAs[Long]("batch_rows")).sum

  /** Per-batch means of a stream's progress durations and state. */
  def streamingLayers(r: Result, q: StreamingQuery): Unit = {
    val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val n = math.max(1, ps.length).toDouble
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / n
    val l = r.layers
    l("streaming.batches") = ps.length
    l("streaming.rows_per_batch") = ps.map(_.numInputRows).sum / n
    l("streaming.trigger_ms") = dur("triggerExecution")
    l("streaming.add_batch_ms") = dur("addBatch")
    l("streaming.query_planning_ms") = dur("queryPlanning")
    l("streaming.latest_offset_ms") = dur("latestOffset")
    l("streaming.get_batch_ms") = dur("getBatch")
    l("streaming.wal_commit_ms") = dur("walCommit")
    l("streaming.state_rows") =
      ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
    l("streaming.state_bytes") =
      ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0)
  }
}
