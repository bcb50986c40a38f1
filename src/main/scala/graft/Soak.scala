package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming soak: run the full trend pipeline (synthetic firehose →
  * parse/clean/sentiment/explode → per-batch dedup → sink) for a
  * sustained window at a fixed feed rate, recording EVERY micro-batch's
  * progress to a JSONL artifact — the long-run evidence behind the
  * README's throughput claim (the per-round bench samples only a few
  * batches).
  *
  * Env:
  *   SPARK_GRAFT_CPUS       cores (default 4, [[Session.cpus]])
  *   SOAK_ROWS_PER_SEC      feed rate (default 30000/core; the committed
  *                          artifact fed 950k rows/s at 32 cores)
  *   SOAK_SECONDS           duration (default 300)
  *   SOAK_OUT               artifact path (default artifacts/SOAK.jsonl)
  *
  * `processedRowsPerSecond` is rows / batch-duration — true pipeline
  * speed however full each batch is — so the sustained-rate evidence is
  * the per-batch distribution (median/p05/p95) over the whole window.
  * Note the two capacity numbers differ by design: a single
  * saturated 15M-row batch measures ~1.38M rows/s (amortizing all
  * per-batch overhead), while 1 s micro-batches sustain ~930k rows/s
  * (the committed artifact's median) — per-batch planning/state
  * overhead is the gap. At a feed near sustained capacity most batches
  * run slightly over the 1 s trigger (`batches_over_trigger` in the
  * summary says how many); the pipeline still keeps up overall, which
  * is what the 5-minute window demonstrates.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val cpus = Session.cpus
    val rate = sys.env.getOrElse("SOAK_ROWS_PER_SEC", (30000 * cpus).toString).toInt
    val seconds = sys.env.getOrElse("SOAK_SECONDS", "300").toInt
    val outPath = sys.env.getOrElse("SOAK_OUT", "artifacts/SOAK.jsonl")

    val spark = Session.local(cpus)

    Option(new File(outPath).getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val log = new PrintWriter(new File(outPath))
    val rates = scala.collection.mutable.ArrayBuffer[Double]()
    val durations = scala.collection.mutable.ArrayBuffer[Long]()
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
            durations += p.batchDuration
            inputRows += p.numInputRows
          }
        }
    }
    spark.streams.addListener(listener)

    import graft.streaming._
    val sink = new TrendSink {
      def write(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        df.write.mode("overwrite").format("noop").save()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("soak_ckpt").toString
    val q = TrendStream.writer(
      TrendStream.trendRows(TweetSource.RateSource(rate).load(spark)),
      sink,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"),
      Some(ckpt)).start()
    try Thread.sleep(seconds * 1000L) finally q.stop()
    spark.streams.removeListener(listener)
    log.synchronized(log.close())

    val sorted = rates.sorted
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0 else sorted(((sorted.length - 1) * p).toInt)
    val behind = durations.count(_ > 1000L)
    println(s"""{"metric":"soak","feed_rows_per_sec":$rate,"seconds":$seconds,""" +
      s""""cpus":$cpus,"batches":${rates.length},"input_rows":$inputRows,""" +
      f""""median_rows_per_sec":${pct(0.5)}%.1f,"p05":${pct(0.05)}%.1f,""" +
      f""""p95":${pct(0.95)}%.1f,"batches_over_trigger":$behind,""" +
      s""""artifact":"$outPath"}""")
    spark.stop()
  }
}
