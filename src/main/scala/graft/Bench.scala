package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registered query at SPARK_GRAFT_SF_DIR,
  * one JSON line out.
  *
  * Action is a `noop`-format write, which materializes the FULL plan
  * including final projections — a bare `count()` would let Catalyst
  * prune every column a query computes but does not aggregate.
  * Failures are timed and reported per-query (name → "error:…") rather
  * than silently folded into the total, so a broken query can't
  * masquerade as a fast one.
  *
  * Robustness (machine load is the dominant noise source at local[32]):
  *   - each query runs REPS times and reports the MEDIAN, so a
  *     concurrent load spike can't invert the per-query ranking
  *     (BENCH_r02 had a pure projection "costing" 4.5× a superset of
  *     itself — physically implausible, pure load noise);
  *   - the streaming phase drains a bounded pre-generated backlog with
  *     Trigger.AvailableNow, so it terminates with progress samples by
  *     construction — a live trigger against a wall window zeroed the
  *     metric two rounds running (BENCH_r02/r03) whenever load kept any
  *     batch from completing inside the window.
  */
object Bench {
  /** Runs per query; the reported figure is the median. */
  val Reps = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    // Subset mode (SPARK_GRAFT_ONLY="a,b,c"): time just the named
    // queries — the per-query dev loop. Reps stay interleaved and the
    // full line's `runs` keeps every rep. Skips the stream leg and
    // never writes BENCH_driver.json, so a partial run can't
    // masquerade as a round artifact. The warmup below covers only the
    // selected queries, so the JIT is colder in a small subset: compare
    // timings only between runs over the same query set.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name must fail loudly, not run a partial sweep that
    // still prints a plausible result line
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      only.fold(SparkEntry.queries)(names =>
        SparkEntry.queries.view.filterKeys(names).toMap)
    // Steady-state warmup: one pass of every query at the smallest scale
    // factor, so JIT/codegen/classloading cost doesn't land on whichever
    // query happens to run first. Nothing from the measured SF is cached.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () }
      }
    // Fixed-work host fingerprint, recorded in the artifact: the r14
    // driver run measured 4 per-row-compute-heavy queries at 2.6-4.4x
    // their builder-host budgets with every plan unchanged — a host-
    // character delta that was invisible because no run carried a
    // machine-independent work unit. Comparing this probe across two
    // artifacts separates "the host is slower at sustained compute"
    // from "the query regressed".
    val (probeSingle, probePar) = hostProbe(cpus)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Reps are INTERLEAVED round-robin (all queries once, then again),
    // not back-to-back: the dominant noise source is multi-second
    // host-level CPU-starvation windows, and three consecutive reps of
    // one query all land inside the same window — observed as a 2 s
    // query "measuring" 55 s at median-of-3. Spreading a query's reps
    // across the whole sweep makes a single window cost each query at
    // most one rep, which the median discards.
    val names = selected.keys.toVector
    val repRuns = scala.collection.mutable.Map[String, Vector[(Option[String], Double)]]()
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to Reps; name <- names) {
      val t0 = System.nanoTime()
      val outcome =
        try {
          selected(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save(); None
        } catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(120))
        }
      repRuns(name) = repRuns(name) :+ ((outcome, (System.nanoTime() - t0) / 1e9))
    }
    // a query's reported figure is the median of its SUCCESSFUL reps;
    // it lands in `errors` only when every rep failed — a transient
    // one-rep failure must not mark a working query broken, and a
    // broken query must not report a time at all (its median slot
    // falls back to the failing reps' wall time)
    val results = names.map { name =>
      val reps = repRuns(name)
      val ok = reps.collect { case (None, t) => t }.sorted
      if (ok.isEmpty) {
        errors(name) = reps.last._1.get
        name -> reps.map(_._2).sorted.apply(Reps / 2)
      } else name -> ok(ok.length / 2)
    }
    // min-of-N per query (successful reps): the noise-robust figure the
    // budget tripwire compares. The dominant noise source is multi-
    // second host CPU-starvation windows, which INFLATE a rep — they
    // can never deflate one — so a genuine plan regression raises the
    // min while a starvation window raises only the median/max
    // (round-12 post-mortem: two queries with unchanged-or-improved
    // plans "measured" 2.8×/4.9× their budgets at median under a
    // starved driver host).
    val mins = names.map { name =>
      val ok = repRuns(name).collect { case (None, t) => t }
      name -> (if (ok.isEmpty) repRuns(name).map(_._2).min else ok.min)
    }
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, v) => k -> v.toString })
    val errs = obj(errors.map { case (k, v) => k -> ("\"" + v + "\"") })
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // per-query perf budgets (artifacts/BENCH_BUDGET.json, committed from
    // the last judged round): a query whose MIN-of-N exceeds 2x its
    // budget AND beats it by > 1 s absolute (sub-second noise guard) is
    // flagged in the emitted line — regressions surface in the round
    // artifact itself instead of waiting for a judge to diff rounds.
    // Min, not median: see the `mins` comment above. New queries
    // without a budget line are skipped (they get one next round).
    val budgetViolations: Map[String, (Double, Double)] = {
      val budgets = BenchBudget.load(
        sys.env.getOrElse("SPARK_GRAFT_ARTIFACTS", "artifacts")
          + "/BENCH_BUDGET.json")
      mins.toMap.collect {
        case (name, sec) if budgets.get(name).exists(b =>
          sec > 2.0 * b && sec - b > 1.0) => name -> (sec, budgets(name))
      }
    }
    val budgetJson = obj(budgetViolations.map { case (k, (sec, b)) =>
      k -> f"""{"sec":$sec%.3f,"budget_sec":$b%.3f}"""
    })
    val (streamTput, streamMedian, streamRates) =
      if (only.isDefined) (0.0, 0.0, Seq.empty[Double])
      else streamThroughput(spark, cpus)
    // the per-batch series makes the figure self-diagnosing: a host
    // throttle window shows up as a slow prefix/suffix around normal
    // batches, where a bare median under a capped drain once read as a
    // 10× regression on unchanged code (round-5 post-mortem)
    val ratesJson = streamRates.map(r => (math.round(r * 10) / 10.0).toString)
      .mkString("[", ",", "]")
    val minsJson = obj(mins.map { case (k, v) => k -> f"$v%.3f" })
    val runsJson = obj(repRuns.toSeq.sortBy(r => names.indexOf(r._1)).map {
      case (k, reps) =>
        k -> reps.map(r => f"${r._2}%.3f").mkString("[", ",", "]")
    })
    val probeJson = f"""{"single_sec":$probeSingle%.3f,"parallel_sec":$probePar%.3f,"threads":$cpus}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"mins":$minsJson,"errors":$errs,"budget_violations":$budgetJson,"host_probe":$probeJson,"stream_rows_per_sec":$streamTput,"stream_rows_per_sec_median":$streamMedian,"stream_batch_rates":$ratesJson,"stream_batches":${streamRates.length},"runs":$runsJson,"sf":"$sfDir"}"""
    println(line)
    // Also persist the line to a file: the driver captures stdout through
    // a bounded tail buffer, and round 4's committed artifact came back
    // truncated mid-JSON ("parsed": null). A file write can't be clipped.
    // The directory resolves from SPARK_GRAFT_ARTIFACTS when set (a bench
    // launched from another CWD would otherwise write the repo-relative
    // default elsewhere and silently miss the harness); the absolute path
    // is logged either way. A second, cpus-stamped copy
    // (BENCH_driver_c<cpus>.json) survives the driver's own low-core
    // re-run, which overwrites BENCH_driver.json and destroyed the
    // 32-core per-query record in rounds 16-17.
    try if (only.isEmpty) {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_ARTIFACTS", "artifacts"))
      java.nio.file.Files.createDirectories(out)
      Seq("BENCH_driver.json", s"BENCH_driver_c$cpus.json")
        .foreach { f =>
          val file = out.resolve(f)
          java.nio.file.Files.write(file,
            (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"[bench] artifact written: ${file.toAbsolutePath}")
        }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact file write failed: $e")
    }
    println(tailLine(results, errors, budgetViolations.size, cpus,
      (probeSingle, probePar), (streamTput, streamMedian, streamRates.length),
      sfDir))
    spark.stop()
  }

  /** Bench runners parse at most this many bytes of the LAST stdout line. */
  val TailLineMaxBytes = 1900

  /** The LAST stdout line: the headline figures as SCALARS only. A
    * bench runner parses a bounded (~2000-char) stdout tail, and the line
    * that carried all 243 per-query medians (~5.5 KB; the full
    * artifact line is ~22 KB) overflowed it every round since r10
    * ("parsed": null in each BENCH_r*.json). Per-query medians, mins,
    * rep series, error messages and budget flags stay in
    * BENCH_driver*.json; here `results`/`errors` collapse to counts
    * and the total, so the line's size does not grow with the
    * registry (BenchLineSpec pins ≤ [[TailLineMaxBytes]] at 243
    * queries, all failing). */
  def tailLine(results: Seq[(String, Double)], errors: collection.Map[String, String],
               nBudgetViolations: Int, cpus: Int,
               probe: (Double, Double), stream: (Double, Double, Int),
               sf: String): String = {
    val total = results.map(_._2).sum
    val (probeSingle, probeParallel) = probe
    val (streamTput, streamMedian, streamBatches) = stream
    s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec",""" +
      s""""cpus":$cpus,"queries":${results.length},"errors":${errors.size},""" +
      s""""budget_violations":$nBudgetViolations,""" +
      f""""host_probe_single_sec":$probeSingle%.3f,""" +
      f""""host_probe_parallel_sec":$probeParallel%.3f,""" +
      s""""stream_rows_per_sec":$streamTput,""" +
      s""""stream_rows_per_sec_median":$streamMedian,""" +
      s""""stream_batches":$streamBatches,"sf":"$sf"}"""
  }

  /** Sink for [[hostProbe]]'s spin results: a @volatile store is an
    * observable side effect no JIT may eliminate. Without it, C2 could
    * dead-code the spin loop after inlining (the results were
    * discarded), and a near-zero probe would silently corrupt every
    * probe-normalized cross-host ratio (tools/compare_bench.py divides
    * by it) — the one number that exists to keep those ratios honest. */
  @volatile private var probeSink: Long = 0L

  /** Fixed-work CPU probe: (single-thread seconds, `threads`-way
    * parallel wall seconds) for an identical integer spin — the
    * machine fingerprint every bench artifact carries (see the call
    * site). The spin is JIT-warmed once before timing; ~0.1 s/thread
    * on an idle modern core. */
  private def hostProbe(threads: Int): (Double, Double) = {
    def spin(): Long = {
      var x = 0L; var i = 0L
      while (i < 100000000L) { x ^= i * 2654435761L % 1000003L; i += 1 }
      probeSink ^= x // keep the work observably live on any JIT
      x
    }
    spin() // JIT warm, discarded
    val t0 = System.nanoTime(); spin()
    val single = (System.nanoTime() - t0) / 1e9
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val t1 = System.nanoTime()
      (1 to threads).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = spin()
      })).foreach(_.get())
      (single, (System.nanoTime() - t1) / 1e9)
    } finally pool.shutdown()
  }

  /** End-to-end streaming throughput of the full trend pipeline
    * (synthetic firehose → parse/clean/sentiment/explode → per-batch
    * dedup → sink): the median per-batch `processedRowsPerSecond`. The
    * reference's producer ceiling is ≤10 msg/s
    * (`KafkaTwitterProducer.java:98,112` Thread.sleep(100)); this
    * measures what the same pipeline shape sustains on one node.
    *
    * Measured over a BOUNDED pre-generated backlog drained with
    * `Trigger.AvailableNow` rather than a live rate source against a
    * wall-clock window: two rounds' committed artifacts (BENCH_r02/r03)
    * came out 0.0 because under bench-day machine load no live-trigger
    * micro-batch completed inside the sampling window. A bounded drain
    * cannot starve — the query terminates when the backlog is processed,
    * every micro-batch yields a progress sample, and load shows up as an
    * honestly lower rate instead of a zeroed metric.
    * `processedRowsPerSecond` on a saturated batch (rows ÷ batch
    * duration) is exactly the pipeline's processing speed; live
    * 1 s-trigger evidence lives in artifacts/SOAK*.jsonl ([[Soak]]). */
  /** Feed sizing: 720k ids/core × 32 cores = 23M ids, P-12 keeps 24/35
    * ⇒ ~15.8M wire lines, ~3.95M rows per batch across 4 batches.
    * Per-batch fixed costs (file listing, offset log commit, planning
    * the noop write) measured ~1.5 s; at ~4-5 s of compute per batch
    * they cost <25% of the reported rate, where the earlier 1.9M-row
    * batches lost ~40% to them. */
  val FeedRowsPerCore = 720000L
  val StreamBatches = 4
  /** Generous on purpose: a 180 s cap once left only throttle-window
    * batches in the sample (median read as a 10× regression on
    * unchanged code). The drain is bounded — 4 batches — so the
    * timeout is a hang backstop, not a sampling window; normal drains
    * finish in ~20-30 s and never see it. */
  val StreamTimeoutMs = 600000L

  /** Returns (capacity = BEST post-warmup per-batch rows/s, median
    * per-batch rows/s, the full per-batch rate series in batch order —
    * cold first batch included, so the artifact can explain its own
    * figures). Capacity is the headline: under host CPU-starvation
    * windows every batch a window touches is slowed, so the median of
    * 4 batches can halve on unchanged code (r12: 542 k median vs a
    * 1.11 M best batch in the same drain); the best batch is the one
    * the starvation could not touch and tracks what the pipeline
    * actually sustains (r11 median on a quiet host: 1.07 M). */
  private def streamThroughput(spark: SparkSession, cpus: Int): (Double, Double, Seq[Double]) = {
    import graft.streaming._
    try {
      val tmp = java.nio.file.Files.createTempDirectory("bench_stream")
      val feedDir = tmp.resolve("feed").toString
      val ckpt = tmp.resolve("ckpt").toString
      // deterministic backlog: ids → producer-filtered wire lines in
      // StreamBatches × wavesPerBatch × cpus EQUAL text files,
      // wavesPerBatch×cpus files per trigger. A file source's
      // micro-batch parallelism is its SPLIT count, and two scan traps
      // both zeroed 30 of 32 cores here before they were measured and
      // fixed: (a) the default openCostInBytes (4 MB) exceeds the
      // file size, so FileScan's bin-packing stuffed a whole batch
      // into ~2 scan partitions (52k rows/s total = 26k/core — the
      // soak's per-core rate — with 30 cores idle); (b) files LARGER
      // than maxPartitionBytes cut uneven tail splits (2 MB + rest)
      // whose stragglers serialized batch tails. So: files sized
      // UNDER the 2 MB maxPartitionBytes set below (~45k ids ⇒ ~31k
      // lines ⇒ ~1.5 MB each) with a small open cost — one even task
      // per file, 4 full waves per core per batch; confs restored
      // after the phase.
      val wavesPerBatch = 4
      val files = StreamBatches * wavesPerBatch * cpus
      SyntheticTweets.wireLines(
        spark.range(0, FeedRowsPerCore * cpus, 1, files).toDF("id"))
        .write.mode("overwrite").text(feedDir)
      val oldMax = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      val oldCost = spark.conf.getOption("spark.sql.files.openCostInBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", (64L << 10).toString)
      val sink = new TrendSink {
        def write(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
          df.write.mode("overwrite").format("noop").save()
      }
      // JIT warmup drain (r14 knee postmortem made the warmed protocol
      // the permanent discipline): one batch-shaped pass over a
      // throwaway backlog, NOT recorded — the state-store, codegen and
      // parquet paths all compile here, so the measured batches below
      // observe the warm regime a long-running stream actually runs in
      // (unwarmed, the first batch measured ~234 k rows/s against a
      // ~890 k warm rate — pure warmup dragging the series).
      val warmFeed = tmp.resolve("warmfeed").toString
      val warmCkpt = tmp.resolve("warmckpt").toString
      SyntheticTweets.wireLines(
        spark.range(0, FeedRowsPerCore * cpus / StreamBatches, 1,
          wavesPerBatch * cpus).toDF("id"))
        .write.mode("overwrite").text(warmFeed)
      val warmRows = TrendStream.trendRows(
        TweetSource.FileSource(warmFeed,
          maxFilesPerTrigger = Some(wavesPerBatch * cpus)).load(spark))
      val wq = TrendStream.writer(warmRows, sink,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        Some(warmCkpt)).start()
      try wq.awaitTermination(StreamTimeoutMs) finally wq.stop()
      val rows = TrendStream.trendRows(
        TweetSource.FileSource(feedDir,
          maxFilesPerTrigger = Some(wavesPerBatch * cpus)).load(spark))
      val q = TrendStream.writer(rows, sink,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        Some(ckpt)).start()
      try q.awaitTermination(StreamTimeoutMs) finally {
        q.stop()
        def restore(key: String, old: Option[String]): Unit =
          old.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
        restore("spark.sql.files.maxPartitionBytes", oldMax)
        restore("spark.sql.files.openCostInBytes", oldCost)
      }
      // median per-batch processedRowsPerSecond; the first batch is
      // dropped (cold file listing, codegen) unless it would leave
      // fewer than 2 samples. The UNSORTED full series is returned
      // alongside so the committed artifact shows per-batch behavior.
      val all = q.recentProgress
        .filter(p => p.numInputRows > 0)
        .map(_.processedRowsPerSecond).filter(r => !r.isNaN && r > 0).toSeq
      val rates = (if (all.length > 2) all.drop(1) else all).sorted
      val median =
        if (rates.isEmpty) 0.0
        else math.round(rates(rates.length / 2) * 10) / 10.0
      val capacity =
        if (rates.isEmpty) 0.0 else math.round(rates.last * 10) / 10.0
      (capacity, median, all)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stream throughput failed: $e")
      (-1.0, -1.0, Seq.empty)
    }
  }
}
