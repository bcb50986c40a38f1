package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.llm.{LshIndex, LshMaintenance}
import graft.streaming.DocStream

/** Seeded synthetic documents: 30-50 words drawn from a 4096-word
  * vocabulary plus a few stop words, so two independent documents share
  * almost no word 3-grams. */
final class DocText(seed: Long) {
  private val vocab: IndexedSeq[String] =
    Seq("the", "and", "for", "that", "with", "this", "from").toIndexedSeq ++
      (0 until 4096).map(i => "w" + java.lang.Integer.toString(i * 7919 % 65536, 36))
  private val rng = new java.util.Random(seed)
  def next(): String =
    Seq.fill(30 + rng.nextInt(21))(vocab(rng.nextInt(vocab.length))).mkString(" ")
  def pick(n: Int): Int = rng.nextInt(n)
}

/** `ingest_loop`: `DocStream.ingestGen` over a generational `LshIndex`
  * seeded with a fixed corpus, under the FAIR scheduler with a low-weight
  * `maintenance` pool. An open-loop feed mixes junk, exact duplicates,
  * near-duplicates of seed documents and fresh documents, while one
  * reader thread probes the index with `LshIndex.queryGen` for planted
  * near-duplicates on a fixed schedule. */
object IngestBench {
  val Index = "pb_ingest_idx"

  def run(b: Bench): Unit = {
    val a = b.a
    val r = b.r
    val w = a.work
    val nSeeds = 2000
    val rate = 500 // docs/s
    val tickMs = 200L
    val warmS = 10.0
    val limitMs = 30000.0
    val probeMs = 2000L
    val nProbes = 8
    val text = new DocText(a.seed)
    val seedDocs = IndexedSeq.fill(nSeeds)(text.next())
    val idBase = 10000000L
    val ticks = math.ceil((warmS + a.seconds) * 1000 / tickMs).toInt
    val perTick = math.max(1, (rate * tickMs / 1000).toInt)
    val ts = java.time.format.DateTimeFormatter.ISO_INSTANT
    // feed classes by position k: every 20th a near-dup of a seed doc
    // (only the index can catch it), every 17th junk, every 5th a copy
    // of its block-of-10 anchor, the rest fresh
    val texts = new Array[String](ticks * perTick)
    val feed = (0 until ticks).map { i =>
      (0 until perTick).map { j =>
        val k = i * perTick + j
        texts(k) =
          if (k % 20 == 3) "dup " + seedDocs(text.pick(nSeeds))
          else if (k % 17 == 0) "x x"
          else if (k % 5 == 0) texts(k - k % 10) match { case null => text.next(); case t => t }
          else text.next()
        k
      }
    }
    val probes = (0 until nProbes).map(i => (-(i + 1).toLong, "probe " + seedDocs(text.pick(nSeeds))))

    val pools = Paths.get(w, "pools.xml")
    Files.writeString(pools,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="default"><schedulingMode>FIFO</schedulingMode><weight>8</weight><minShare>0</minShare></pool>
        |  <pool name="maintenance"><schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>0</minShare></pool>
        |</allocations>
        |""".stripMargin)
    val (spark, _) = b.setup(Some(pools.toString)) { s =>
      import s.implicits._
      LshIndex.buildGen(seedDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), Index, a.cores)
    }
    import spark.implicits._
    val evalDocs = (0 until 20).map(i => (9000000000L + i, "eval " + text.next())).toDF("doc_id", "text")
    val probeDf = probes.toDF("doc_id", "text")

    val feedDir = s"$w/feed"
    val corpus = s"$w/corpus"
    val ckpt = s"$w/ckpt"
    Files.createDirectories(Paths.get(feedDir))
    val docs = spark.readStream.schema("doc_id BIGINT, text STRING, event_time TIMESTAMP")
      .json(feedDir)
    val maint = new LshMaintenance(spark, Index)
    val q = DocStream.ingestGen(docs, evalDocs, Index, corpus, maint,
        rotateEvery = 2, hotFractionPm = 100)
      .trigger(Trigger.ProcessingTime(5000))
      .option("checkpointLocation", ckpt)
      .start()

    val start = System.currentTimeMillis() + 500
    val measureFrom = start + (warmS * 1000).toLong
    val gen = new OpenLoop(feedDir, start, tickMs, feed.zipWithIndex.map { case (ks, i) =>
      val due = ts.format(java.time.Instant.ofEpochMilli(start + i * tickMs))
      ks.map { k =>
        s"""{"doc_id":${idBase + k},"text":${Json.str(texts(k))},"event_time":"$due"}"""
      }.toArray
    })

    // merge windows, polled from the maintenance handle
    @volatile var running = true
    val mergeWindows = mutable.ArrayBuffer[(Long, Long)]()
    val monitor = new Thread("merge-monitor") {
      override def run(): Unit = {
        var since = -1L
        while (running) {
          val inFlight = maint.mergeInFlight
          val t = System.currentTimeMillis()
          if (inFlight && since < 0) since = t
          if (!inFlight && since >= 0) {
            mergeWindows.synchronized(mergeWindows += ((since, t)))
            since = -1L
          }
          Thread.sleep(20)
        }
        if (since >= 0) mergeWindows.synchronized(mergeWindows += ((since, System.currentTimeMillis())))
      }
    }
    monitor.setDaemon(true)

    val indexTables = Seq(LshIndex.setsTable(Index), LshIndex.bandsTable(Index),
      LshIndex.mergingSetsTable(Index), LshIndex.mergingBandsTable(Index),
      LshIndex.hotSetsTable(Index), LshIndex.hotBandsTable(Index))

    // the reader: planted probes on a fixed schedule, timed from due time
    val probeLat = mutable.ArrayBuffer[Double]()
    val probeFailed = new AtomicLong
    val probeRounds = (a.seconds * 1000 / probeMs).toInt
    val reader = new Thread("probe-reader") {
      override def run(): Unit = (0 until probeRounds).foreach { i =>
        val due = measureFrom + i * probeMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        spark.sparkContext.setLocalProperty(ExecStats.ReqKey, s"probe-$i")
        val ok = try b.tracer.span("lsh.query_gen", i.toLong) {
          // commits run in the stream's session; this reader's session
          // must re-list the tables to see them, as any other reader would
          indexTables.filter(spark.catalog.tableExists).foreach(spark.catalog.refreshTable)
          LshIndex.queryGen(probeDf, Index).select("doc_b").distinct().count() == nProbes
        } catch { case e: Throwable => r.error("probe", e); false }
        if (ok) probeLat.synchronized(probeLat += (System.currentTimeMillis() - due).toDouble)
        else probeFailed.incrementAndGet()
      }
    }
    reader.setDaemon(true)

    monitor.start()
    gen.start()
    Thread.sleep(math.max(0L, measureFrom - System.currentTimeMillis()))
    b.begin(spark)
    reader.start()
    gen.join()
    reader.join()
    try q.processAllAvailable() catch { case e: Throwable => r.error("ingest", e) }
    b.end(spark)
    running = false
    monitor.join()
    val qFailed = q.exception.isDefined
    q.exception.foreach(e => r.error("ingest", e))
    scala.util.Try(q.stop())
    maint.close()

    // per-file latency from each file's due time to its batch's commit
    val progress = q.recentProgress.toSeq
    val committed = progress.map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
    }.toMap
    val due = gen.dueTimes.filter(_._2 >= measureFrom)
    val (lat, missing) = SourceLog.latencies(due, SourceLog.batches(ckpt), committed)
    r.attempted += due.size + probeRounds
    r.failed += missing + lat.count(_ > limitMs) + probeFailed.get + (if (qFailed) 1 else 0)
    r.e2e("pass_s") = Stats.median(probeLat.toSeq) / 1000.0
    r.e2e("latency_p50_ms") = Stats.median(lat)
    r.e2e("latency_tail_ms") = Stats.tail(lat)._2
    Stats.latency(r, "latency", lat)
    Stats.latency(r, "probe", probeLat.toSeq)
    r.detail("latency_limit_ms") = limitMs
    r.detail("latency_over_limit") = lat.count(_ > limitMs)
    r.detail("files_missing") = missing
    r.detail("probe_failed") = probeFailed.get
    r.detail("feed_docs_per_s") = perTick * 1000.0 / tickMs

    // correctness against the stores the loop wrote
    val corpusDf = scala.util.Try(spark.read.parquet(corpus)).toOption
    val corpusRows = corpusDf.map(_.count()).getOrElse(0L)
    val setTables = Seq(LshIndex.setsTable(Index), LshIndex.mergingSetsTable(Index),
      LshIndex.hotSetsTable(Index)).filter(spark.catalog.tableExists)
    setTables.foreach(spark.catalog.refreshTable)
    val indexRows = setTables.map(t => spark.table(t).count()).sum
    val seedDupsAdmitted = corpusDf.map(_.filter((col("doc_id") - idBase) % 20 === 3).count())
      .getOrElse(0L)
    r.checks("index_rows_eq_seeds_plus_corpus") = indexRows == nSeeds + corpusRows
    r.checks("no_seed_near_dup_admitted") = seedDupsAdmitted == 0
    r.checks("probes_found") = probeFailed.get == 0
    r.checks("corpus_nonempty") = corpusRows > 0
    r.detail("corpus_rows") = corpusRows
    r.detail("index_rows") = indexRows

    // layers
    val inWindow = progress.filter(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= measureFrom && p.numInputRows > 0)
    val batches = math.max(1, inWindow.length).toDouble
    val jobsByTag = b.exec.finishedJobs.groupBy(_.tag)
    val gaps = inWindow.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      val e = s + Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      b.gapMs(s, e, jobsByTag.getOrElse(s"batch-${p.batchId}", Nil).map(j => (j.start, j.end)))
    }
    b.commonLayers(batches, Stats.median(gaps))
    val l = r.layers
    l("generator.lag_ms") = Stats.median(gen.lagMs)
    r.detail("generator_lag_max_ms") = if (gen.lagMs.isEmpty) 0.0 else gen.lagMs.max
    TrendBench.streamingLayers(r, q)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    l("docstream.batch_ms") = inWindow.map(dur(_, "addBatch")).sum / batches
    l("docstream.curate_in_rows") = inWindow.map(_.numInputRows).sum / batches
    val curateOut = inWindow.map(p =>
      if (p.stateOperators.isEmpty) 0L else p.stateOperators.map(_.numRowsUpdated).min).sum
    l("docstream.curate_out_rows") = curateOut / batches
    l("docstream.admit_share") = if (curateOut > 0) corpusRows.toDouble / curateOut else 0.0
    def files(t: String): Double =
      if (spark.catalog.tableExists(t)) spark.table(t).inputFiles.length.toDouble else 0.0
    l("lsh.hot_rows") = if (spark.catalog.tableExists(LshIndex.hotSetsTable(Index)))
      spark.table(LshIndex.hotSetsTable(Index)).count().toDouble else 0.0
    l("lsh.hot_files") = files(LshIndex.hotSetsTable(Index)) + files(LshIndex.hotBandsTable(Index))
    l("lsh.cold_files") = files(LshIndex.setsTable(Index)) + files(LshIndex.bandsTable(Index))
    val merges = mergeWindows.synchronized(mergeWindows.toSeq)
    l("lshmaintenance.merges") = merges.length
    l("lshmaintenance.busy_ms") = Intervals.union(
      b.exec.finishedJobs.filter(_.pool == "maintenance").map(j => (j.start, j.end))).toDouble
    val stalled = inWindow.count { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      val e = s + dur(p, "triggerExecution")
      merges.exists(m => m._1 < e && m._2 > s) && dur(p, "triggerExecution") > limitMs
    }
    l("lshmaintenance.stall_share") = stalled / batches
  }
}
