package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming soak for the INDEX-IN-THE-LOOP ingest path
  * ([[graft.streaming.DocStream.ingestGen]]): seed a persisted
  * [[graft.llm.LshIndex]], then drive a rate-source document feed
  * through curate → history gate → corpus append → index append,
  * logging every micro-batch — the measured evidence that the full
  * loop (including the per-batch bucketed-table appends) sustains its
  * feed, and that the history gate actually drops near-dups of the
  * SEED corpus that no watermark state could see.
  *
  * The feed reuses [[CurateSoak]]'s synthesis discipline (mixing-hash
  * word choice over a 4096-word vocabulary — see its scaladoc for the
  * two degeneracies that shaped it) and adds the history class: every
  * 20th doc is a one-token-prepended near-dup of a seed doc, which
  * only the index can catch. Expected steady-state drop profile:
  * ~1/17 junk (quality), ~1/20 seed near-dups (history gate), ~10%
  * exact dups (digest state), the rest kept and admitted.
  *
  * Env: SPARK_GRAFT_CPUS (4), INGEST_DOCS_PER_SEC (150 per core: on a
  * 4-core host, 120 s at 600 docs/s held the batch latency median at
  * 4.1 s inside the 5 s trigger, where 1200 docs/s ran at 5.6 s),
  * INGEST_SECONDS (120), INGEST_SEEDS (10000),
  * INGEST_WATERMARK ("10 minutes"),
  * INGEST_OUT (artifacts/INGEST_SOAK.jsonl).
  *
  * The loop runs over the generational (hot/cold)
  * [[graft.llm.LshIndex]]: appends land in the hot generation, the
  * trigger pays metadata renames only ([[graft.llm.LshMaintenance]]:
  * rotate + commit), the O(corpus) merge stages on a maintenance
  * thread in a low-weight FAIR pool (this main configures the pools),
  * and the LSM-style `hotFractionPm` ratio gate keeps total merge
  * work O(N log N) across the stream's lifetime instead of quadratic.
  * The single-tier index this replaced compacted INSIDE the trigger,
  * an O(corpus) rewrite whose batch latency grew linearly with stream
  * lifetime (14.8 s at ~1.5 M corpus rows, 17.6 s at ~2.7 M —
  * knee_r14/soakW_20000_a.jsonl); the generational leg runs past 2×
  * that corpus with no in-trigger O(corpus) batch
  * (knee_r15/soakGen_20000_*.jsonl). Residual merge-window elevation
  * is core CONTENTION (bounded by the pool weight), not trigger-path
  * work, and sparsens as the ratio gate spaces merges geometrically.
  *
  * STEADY-STATE NOTE (round-12): a soak shorter than its watermark
  * delay can only ever observe MONOTONE state growth — eviction fires
  * when the event-time horizon passes an entry's window, so with the
  * production default (10 min) a 120 s soak measures the fill phase
  * and nothing else (that is exactly what INGEST_SOAK_R11's strictly
  * increasing `state_rows_series` was). To measure the steady state,
  * run with `INGEST_SECONDS ≥ 2× watermark` (e.g. INGEST_WATERMARK="40
  * seconds", INGEST_SECONDS=150): past the horizon each batch both
  * inserts and expires ~rate·trigger rows, and `state_rows_series`
  * must plateau near `rate · (watermark + trigger)` admitted-doc keys
  * across the two state stores. The committed evidence is
  * INGEST_SOAK_R12_SUMMARY.json; DocStreamSpec asserts the bound
  * mechanically on a compressed timeline. */
object IngestSoak {

  def main(args: Array[String]): Unit = {
    val cpus = Session.cpus
    val rate = sys.env.getOrElse("INGEST_DOCS_PER_SEC", (150 * cpus).toString).toInt
    val seconds = sys.env.getOrElse("INGEST_SECONDS", "120").toInt
    val nSeeds = sys.env.getOrElse("INGEST_SEEDS", "10000").toInt
    val watermark = sys.env.getOrElse("INGEST_WATERMARK", "10 minutes")
    // the O(corpus) merge is handed to the maintenance thread every
    // INGEST_ROTATE_EVERY batches (subject to the hot-fraction gate)
    val rotateEvery = sys.env.getOrElse("INGEST_ROTATE_EVERY", "8").toInt
    // index bucket count — the PARALLELISM knob, not just layout: a
    // bucketed scan cannot split a bucket across tasks, so the gate's
    // corpus-side probe joins AND the merge's per-bucket write stage
    // run at most `buckets`-wide. The r16 historical default (8)
    // capped a multi-million-row corpus at 8 of 32 cores on exactly
    // the paths that grow with corpus size (measured: 92% of a 20 k
    // feed with 124 s merge windows at 8 buckets vs 95.7% with all
    // batches ≤27 s at 32); the default now follows
    // LshIndex.defaultBuckets' sizing rule — max(8, cores). At
    // cluster scale buckets are sized to total cores × a small
    // multiple, passed explicitly.
    val buckets = sys.env.get("INGEST_BUCKETS").map(_.toInt)
      .getOrElse(math.max(8, cpus))
    // INGEST_REBUCKET_FROM=n seeds the index at n buckets and then
    // MIGRATES it to `buckets` via LshIndex.rebucket before the
    // stream starts — the sweep's proof that a live index built at
    // the historical default reaches the sizing rule without a
    // from-scratch rebuild (the measured leg then runs entirely on
    // the migrated layout, so its numbers vouch for it)
    val rebucketFrom = sys.env.get("INGEST_REBUCKET_FROM").map(_.toInt)
    val outPath = sys.env.getOrElse("INGEST_OUT", "artifacts/INGEST_SOAK.jsonl")

    // every temp dir this run creates, deleted at exit: a 600 s 20 k
    // soak leaves ~5-8 GB of warehouse + corpus + checkpoint, and a
    // measurement day of accumulated leftovers filled the disk to 100%
    // (r16: two 32-bucket attempts died on ENOSPC mid-run, one as a
    // silent 8-minute hang — the numbers measured under that pressure
    // were re-run). Keep only the artifacts; the stores are evidence
    // inputs, not evidence.
    val tempDirs = scala.collection.mutable.ArrayBuffer[String]()
    def tempDir(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toString
      tempDirs += d
      d
    }
    val wh = tempDir("ingest_soak_wh")
    // FAIR scheduling with a low-weight maintenance pool, so the
    // background O(corpus) merge yields task slots to trigger jobs
    // instead of occupying all of them for its duration (under FIFO
    // the first generational soak measured 20-28 s trigger latencies
    // inside merge windows vs ~13 s outside). Weight 1 vs the default
    // pool's 8 ≈ the merge gets ~1/9 of contended slots.
    val pools = java.nio.file.Files.createTempFile("ingest_pools", ".xml")
    java.nio.file.Files.writeString(pools,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="default">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>8</weight><minShare>0</minShare>
        |  </pool>
        |  <pool name="maintenance">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>1</weight><minShare>0</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin)
    val spark = Session.local(cpus,
      "spark.sql.warehouse.dir" -> wh,
      "spark.scheduler.mode" -> "FAIR",
      "spark.scheduler.allocation.file" -> pools.toString)
    import spark.implicits._

    Option(new File(outPath).getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val log = new PrintWriter(new File(outPath))
    val rates = scala.collection.mutable.ArrayBuffer[Double]()
    // per-batch end-to-end trigger latency and total state-store rows:
    // the 15 s-trigger SLO story needs latency percentiles and a
    // bounded-state series, not just throughput
    val latencies = scala.collection.mutable.ArrayBuffer[Long]()
    val stateRows = scala.collection.mutable.ArrayBuffer[Long]()
    var inputRows = 0L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        log.synchronized {
          val p = e.progress
          if (p.numInputRows > 0) {
            log.println(p.json)
            rates += p.processedRowsPerSecond
            inputRows += p.numInputRows
            latencies += Option(p.durationMs.get("triggerExecution"))
              .map(_.longValue).getOrElse(-1L)
            stateRows += p.stateOperators.map(_.numRowsTotal).sum
          }
        }
    }
    // seed corpus + persisted index: the history the gate checks against
    val seeds = spark.range(nSeeds.toLong)
      .select(col("id").as("doc_id"),
        CurateSoak.docText(col("id") + 555000L).as("text"))
    graft.llm.LshIndex.buildGen(seeds, "ingest_soak_idx",
      rebucketFrom.getOrElse(buckets))
    if (rebucketFrom.isDefined)
      graft.llm.LshIndex.rebucket(spark, "ingest_soak_idx", buckets)

    // tiny static eval corpus for the Bloom gate
    val evalDocs = (0L until 20L).toDF("doc_id")
      .select(col("doc_id"), CurateSoak.docText(col("doc_id") + 777000L).as("text"))

    // the ingest feed, parameterized so the warmup stream below can run
    // the IDENTICAL pipeline shape against throwaway stores
    def mkFeed(feedRate: Int, idOffset: Long, seedBase: Long) =
      spark.readStream.format("rate")
        .option("rowsPerSecond", feedRate)
        .option("numPartitions", cpus)
        .load()
        .select(
          // feed ids live above the seed range: LshIndex.appendHot's
          // caller contract (disjoint ids, like any append-only store) —
          // the first soak draft violated it and found a real bug for
          // its trouble (see LshIndex.queryAgainst's no-id-guard comment)
          (col("value") + idOffset).as("doc_id"),
          // every 20th doc near-dups a SEED doc (history-gate class) —
          // seed choice is a mixing hash so all nSeeds seeds are hit,
          // not the 1-in-20 congruence class an affine pick collapses
          // to; every 17th is quality junk; every 5th duplicates its
          // block-of-10 anchor (exact-dedup class); rest are fresh
          when(pmod(col("value"), lit(20)) === 3,
            concat(lit("dup "),
              CurateSoak.docText(
                pmod(xxhash64(col("value")), lit(nSeeds.toLong)) + seedBase)))
            .when(pmod(col("value"), lit(17)) === 0, lit("x x"))
            .otherwise(CurateSoak.docText(
              when(pmod(col("value"), lit(5)) === 0,
                col("value") - pmod(col("value"), lit(10)))
                .otherwise(col("value")))).as("text"),
          col("timestamp").as("event_time"))

    // JIT warmup (INGEST_WARMUP_SECONDS > 0): run the same pipeline
    // against throwaway stores BEFORE the listener attaches, then
    // discard. Rationale, measured (knee_r14): the first 2-3 cold
    // batches run ~2.5× slow (JIT of the state store, parquet IO, and
    // the codegen compiler itself), and because the rate source keeps
    // producing, their slowness snowballs — each slow batch admits a
    // bigger backlog slice, growing state and commit time, and at
    // near-knee rates the run can lock into a degraded ~30 s-latency
    // equilibrium it never exits. A 120 s unwarmed run therefore
    // measures the warmup cascade, not the system (the r13/r14
    // "degraded 20k controls" were largely this). A production stream
    // runs warm for days; the warmup phase makes the measured window
    // observe that regime, and the summary records warmup_seconds so
    // no number hides it.
    val warmupSeconds = sys.env.getOrElse("INGEST_WARMUP_SECONDS", "0").toInt
    if (warmupSeconds > 0) {
      // nSeeds warm seeds, not a token 500: the feed's history-gate
      // class hashes into [0, nSeeds), so a smaller warm index made
      // ~95% of the warm gate's near-dup references miss — a lighter
      // join than the measured stream's (r14 advisor finding); with
      // the same seed count the warm pipeline's gate hit rate matches
      val wSeeds = spark.range(nSeeds.toLong)
        .select(col("id").as("doc_id"),
          CurateSoak.docText(col("id") + 999000L).as("text"))
      val wCorpus = tempDir("ingest_warm_corpus") + "/corpus"
      val wCkpt = tempDir("ingest_warm_ckpt")
      val warmFeed = mkFeed(math.max(rate / 4, 1000), 50000000L, 999000L)
      // held in a val so it can be CLOSED after the warm stream stops:
      // stopping the stream does not stop a mid-stage O(corpus) merge
      // on the maintenance daemon, which would keep contending for
      // cores into the measured leg's first batches — exactly the
      // contention the soak is trying to measure cleanly (close()'s
      // shutdownNow interrupts the stage; the warm index is throwaway)
      val warmMaint = new graft.llm.LshMaintenance(spark, "ingest_warm_idx")
      graft.llm.LshIndex.buildGen(wSeeds, "ingest_warm_idx", buckets)
      val wq = graft.streaming.DocStream.ingestGen(warmFeed, evalDocs,
          "ingest_warm_idx", wCorpus, warmMaint,
          watermark = watermark, rotateEvery = rotateEvery)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 seconds"))
        .option("checkpointLocation", wCkpt)
        .start()
      try Thread.sleep(warmupSeconds * 1000L)
      finally {
        scala.util.Try(wq.stop())
        scala.util.Try(warmMaint.close())
      }
    }

    // INGEST_JOB_TIMELINE_OUT: per-JOB timeline of the measured window
    // (jobId, scheduler pool, start/end) — the direct evidence for the
    // FAIR-interleaving claim the sliced merge design rests on: under
    // per-bucket slicing the maintenance pool's O(corpus) merge is K
    // bounded jobs, and trigger-pool jobs must be observed STARTING
    // and FINISHING inside the merge window (between slice jobs), not
    // queued behind one monolithic all-cores job. Registered after
    // warmup so the timeline covers exactly the measured window.
    val timelineOut = sys.env.get("INGEST_JOB_TIMELINE_OUT")
    val jobLog = timelineOut.map { p =>
      Option(new File(p).getAbsoluteFile.getParentFile).foreach(_.mkdirs())
      new PrintWriter(new File(p))
    }
    val jobStarts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val pool = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
          .getOrElse("default")
        jobStarts.put(e.jobId, (e.time, pool))
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach { case (t0, pool) =>
          jobLog.foreach(l => l.synchronized(l.println(
            s"""{"job":${e.jobId},"pool":"$pool","start_ms":$t0,""" +
              s""""end_ms":${e.time}}""")))
        }
    }
    jobLog.foreach(_ => spark.sparkContext.addSparkListener(jobListener))

    spark.streams.addListener(listener)
    val corpusDir = tempDir("ingest_soak_corpus") + "/corpus"
    val ckpt = tempDir("ingest_soak_ckpt")
    val mainFeed = mkFeed(rate, 10000000L, 555000L)
    // held in a val and CLOSED after the stream stops, same reasoning
    // as the warmup leg's: q.stop() does not stop a mid-stage
    // O(corpus) merge on the maintenance daemon, which would keep
    // burning cores through the ground-truth corpus/index counts
    // below — and a staging failure would otherwise be silently
    // swallowed with the future
    val mainMaint = new graft.llm.LshMaintenance(spark, "ingest_soak_idx")
    val q = graft.streaming.DocStream.ingestGen(mainFeed, evalDocs,
        "ingest_soak_idx", corpusDir, mainMaint,
        watermark = watermark, rotateEvery = rotateEvery)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 seconds"))
      .option("checkpointLocation", ckpt)
      .start()
    // stop() can rethrow the in-flight batch's interruption (e.g. a
    // foreachBatch parquet write aborted mid-task) — that is the
    // EXPECTED way to end a saturated run, not a reason to lose the
    // summary, so swallow it and let the measured series speak
    try Thread.sleep(seconds * 1000L)
    finally {
      scala.util.Try(q.stop())
      scala.util.Try(mainMaint.close())
    }
    spark.streams.removeListener(listener)
    jobLog.foreach { l =>
      spark.sparkContext.removeSparkListener(jobListener)
      l.synchronized(l.close())
    }
    log.synchronized(log.close())

    // ground truth from the stores the loop wrote. A saturated run can
    // finish ZERO batches inside the measurement window (the overload
    // regime a rate sweep is probing for) — then the corpus dir is
    // empty and a bare parquet read throws UNABLE_TO_INFER_SCHEMA. The
    // summary must still be written (corpus_rows 0, median 0 — the
    // "does not keep up" verdict), not crash the sweep.
    val corpusRows = scala.util.Try(spark.read.parquet(corpusDir).count())
      .getOrElse(0L)
    // admitted docs live across cold ∪ merging ∪ hot (which one depends on where the background merge was at stop)
    val indexRows = Seq(
        graft.llm.LshIndex.setsTable("ingest_soak_idx"),
        graft.llm.LshIndex.mergingSetsTable("ingest_soak_idx"),
        graft.llm.LshIndex.hotSetsTable("ingest_soak_idx"))
      .filter(spark.catalog.tableExists)
      .map { t =>
        spark.catalog.refreshTable(t)
        spark.table(t).count()
      }.sum
    val sorted = rates.sorted
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0 else sorted(((sorted.length - 1) * p).toInt)
    val latSorted = latencies.sorted
    def latPct(p: Double): Long =
      if (latSorted.isEmpty) -1L else latSorted(((latSorted.length - 1) * p).toInt)
    // plateau verdict: does the state series stop growing once the
    // watermark horizon passes? tail = last third of the series; the
    // soak is steady iff the tail's max/min spread stays within 25%
    // (the r11 fill-phase series grew 36% over its last third — this
    // verdict catches exactly that; a flat-at-max steady state passes).
    val tail = stateRows.takeRight(math.max(3, stateRows.length / 3))
    val statePlateau =
      tail.length >= 3 && tail.max <= tail.min + tail.min / 4
    val summary =
      s"""{"metric":"ingest_soak","feed_docs_per_sec":$rate,"seconds":$seconds,""" +
      s""""watermark":"$watermark","state_plateau":$statePlateau,""" +
      s""""rotate_every":$rotateEvery,"warmup_seconds":$warmupSeconds,""" +
      s""""buckets":$buckets,"rebucket_from":${rebucketFrom.getOrElse(0)},""" +
      s""""cpus":$cpus,"seed_docs":$nSeeds,"batches":${rates.length},""" +
      s""""input_rows":$inputRows,"corpus_rows":$corpusRows,""" +
      s""""index_rows":$indexRows,""" +
      f""""median_docs_per_sec":${pct(0.5)}%.1f,"p05":${pct(0.05)}%.1f,""" +
      f""""p95":${pct(0.95)}%.1f,""" +
      s""""batch_latency_p50_ms":${latPct(0.5)},""" +
      s""""batch_latency_p95_ms":${latPct(0.95)},""" +
      s""""batch_latency_max_ms":${latPct(1.0)},""" +
      // the UNSORTED latency series (tail 60) is the flat-vs-corpus
      // evidence the generational loop exists to show: under the old
      // in-trigger compaction, batches marched upward with corpus size
      s""""latency_series_ms":${latencies.takeRight(60).mkString("[", ",", "]")},""" +
      s""""state_rows_series":${stateRows.takeRight(40).mkString("[", ",", "]")},""" +
      s""""state_rows_max":${if (stateRows.isEmpty) -1L else stateRows.max},""" +
      s""""artifact":"$outPath"}"""
    println(summary)
    sys.env.get("INGEST_SUMMARY_OUT").foreach { f =>
      val w = new PrintWriter(new File(f)); w.println(summary); w.close()
    }
    spark.stop()
    tempDirs.foreach { d =>
      val root = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(root))
        scala.util.Try(java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f)))
    }
  }
}
