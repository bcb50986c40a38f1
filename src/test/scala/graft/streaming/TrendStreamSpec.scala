package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Streaming assembly tests over MemoryStream (SURVEY §5.4): per-batch
  * dedup, first-batch truncation (A-5/S-6/S-7), append (S-4),
  * the write's partitioning (S-8 is not ported), observe counter (A-3),
  * windowed counts (A-1), source trait + synthetic generator (SRC-1/P-12). */
class TrendStreamSpec extends SparkSpec {
  import spark.implicits._

  private def processBatches(batches: Seq[Seq[String]], sink: TrendSink): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val rows = TrendStream.trendRows(mem.toDF().select(col("value")))
    val q = TrendStream.writer(rows, sink, Trigger.AvailableNow(),
      Some(Files.createTempDirectory("ckpt").toString))
    batches.foreach(mem.addData(_: _*))
    // AvailableNow processes all pending data then stops; each addData
    // call lands in its own micro-batch only with per-batch triggers, so
    // feed batches through separate restarts for batch-id semantics.
    val query = q.start()
    query.awaitTermination(60000)
  }

  test("foreachBatch pipeline: parse -> sentiment -> explode -> dedup -> sink") {
    val sink = new TrendSink.MemoryProducerSink()
    processBatches(Seq(Seq(
      "Boston, MA /TLOC/ fast #a #a #b",
      "Paris /TLOC/ slow slow #a")), sink)
    val rows = sink.buffer.values.flatten.toSeq
    // dedup collapses the two #a from doc 1; #a from Paris has country NULL
    assert(rows.length == 3)
    val byKey = rows.map(r => (r.getAs[String]("hashtag"), r.getAs[String]("country"))).toSet
    assert(byKey == Set(("#a", "USA"), ("#b", "USA"), ("#a", "NULL")))
    val scores = rows.map(r =>
      (r.getAs[String]("hashtag"), r.getAs[String]("country")) -> r.getAs[Double]("sentiment_score")).toMap
    assert(scores(("#b", "USA")) == 3.0) // "fast a a b": neutral 2 + 1
    assert(scores(("#a", "NULL")) == 0.0) // "slow slow a": 2 - 2
  }

  test("ParquetSink: batch 0 truncates, later batches append") {
    val dir = Files.createTempDirectory("trendsink").toString + "/out"
    val sink = TrendSink.ParquetSink(dir)
    val df1 = Seq((100, "#a", 2.0, "neutral", "USA"))
      .toDF("timestamp", "hashtag", "sentiment_score", "sentiment_type", "country")
    val df2 = Seq((200, "#b", 3.0, "positive", "USA"))
      .toDF("timestamp", "hashtag", "sentiment_score", "sentiment_type", "country")
    sink.write(df1, 0L)
    sink.write(df2, 1L)
    assert(spark.read.parquet(dir).count() == 2)
    // first batch again (restart semantics): truncate back to 1 row
    sink.write(df1, 0L)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("ParquetSink in the stream: no round-robin exchange, at most one file per shuffle partition") {
    // Through the real foreachBatch path, where AQE is off, so the
    // per-batch dedup's shuffle partitioning reaches the write.
    val lines = Seq("Boston, MA /TLOC/ fast #a #a #b", "Paris /TLOC/ slow slow #a")
    val sink = TrendSink.ParquetSink(Files.createTempDirectory("trendsink").toString + "/out")
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.put(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      processBatches(Seq(lines), sink)
      val write = Iterator.continually(plans.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .map { p => assert(p != null, "no plan reported for the write"); planNodes(p) }
        .find(_.exists(_.isInstanceOf[DataWritingCommandExec])).get
      assert(!write.exists {
        case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => false
      })
      val files = new java.io.File(sink.path).listFiles.count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= spark.conf.get("spark.sql.shuffle.partitions").toInt, files)
      assert(spark.read.parquet(sink.path).count() == 3)
    } finally spark.listenerManager.unregister(listener)
  }

  test("observe metric exposes per-batch row count (A-3)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val counted = new java.util.concurrent.atomic.AtomicLong(-1)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get("trend_metrics")
        if (m != null) counted.set(m.getAs[Long]("batch_rows"))
      }
    }
    spark.streams.addListener(listener)
    try {
      val sink = new TrendSink.MemoryProducerSink()
      val rows = TrendStream.observed(TrendStream.trendRows(mem.toDF()))
      // data before start: AvailableNow ends at the offsets it sees first
      mem.addData("Boston, MA /TLOC/ fast #a #b")
      val q = TrendStream.writer(rows, sink, Trigger.AvailableNow(),
        Some(Files.createTempDirectory("ckpt").toString)).start()
      q.awaitTermination(60000)
      // explode produced 2 rows pre-dedup
      var waited = 0
      while (counted.get() == -1 && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(counted.get() == 2L)
    } finally spark.streams.removeListener(listener)
  }

  test("windowedHashtagCounts: 60s/15s sliding event-time windows with watermark") {
    val rows = Seq(
      (1000, "#a"), (1010, "#a"), (1059, "#a"), (1060, "#b"))
      .toDF("timestamp", "hashtag")
    // batch-mode evaluation of the same streaming expression
    val got = TrendStream.windowedHashtagCounts(rows)
      .select(col("window.start").cast("long").as("ws"), col("hashtag"), col("count"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // event 1000 is in the 4 windows starting 945,960,975,990
    assert(got.contains((990L, "#a", 2L)))  // [990,1050) covers 1000,1010
    assert(got.contains((1005L, "#a", 2L))) // [1005,1065) covers 1010,1059
    assert(got.contains((1050L, "#a", 1L)) && got.contains((1050L, "#b", 1L)))
    assert(got.count(_._2 == "#b") == 4)    // 1060 sits in exactly 4 windows
  }

  test("SyntheticTweets: P-12 filter drops null-location and tag-less rows") {
    val ids = spark.range(0, 105).select(col("id"))
    val raw = SyntheticTweets.rawTweets(ids).collect()
    val lines = SyntheticTweets.wireLines(ids).collect().map(_.getString(0))
    assert(raw.length == 105 && lines.length < 105)
    assert(lines.forall(_.contains(" /TLOC/ ")))
    assert(lines.forall(l => l.split(" ").exists(t => t.startsWith("#") && t.length > 1)))
    // no emitted line has an empty location slot
    assert(lines.forall(l => l.split(" /TLOC/ ")(0).nonEmpty))
  }

  test("FileSource streams text files as Kafka-value records") {
    val dir = Files.createTempDirectory("tweets").toString
    Files.writeString(java.nio.file.Path.of(dir, "b0.txt"),
      "Boston, MA /TLOC/ fast #x\nParis /TLOC/ slow #y")
    val sink = new TrendSink.MemoryProducerSink()
    val rows = TrendStream.trendRows(TweetSource.FileSource(dir).load(spark))
    val q = TrendStream.writer(rows, sink, Trigger.AvailableNow(),
      Some(Files.createTempDirectory("ckpt").toString)).start()
    q.awaitTermination(60000)
    val got = sink.buffer.values.flatten.map(_.getAs[String]("hashtag")).toSet
    assert(got == Set("#x", "#y"))
  }

  test("stream-static enrichment: trend rows join a broadcast dimension in-stream") {
    // the standard enrichment shape: a static dim table joined INSIDE the
    // streaming query (not per-batch in foreachBatch) — stateless, so
    // Append mode works and each micro-batch broadcasts the dim
    val dim = Seq(("USA", "amer"), ("FRANCE", "emea")).toDF("country", "region")
    val dir = Files.createTempDirectory("enrich").toString
    Files.writeString(java.nio.file.Path.of(dir, "a.txt"),
      "Boston, MA /TLOC/ fast #x\nLyon, France /TLOC/ slow #y\nParis /TLOC/ meh #z")
    val enriched = TrendStream.trendRows(TweetSource.FileSource(dir).load(spark))
      .join(broadcast(dim), Seq("country"), "left")
    val out = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val q = enriched.writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          out.add((r.getAs[String]("hashtag"), r.getAs[String]("region"))))
      }.start()
    q.awaitTermination(60000)
    assert(out.asScala.toSet == Set(("#x", "amer"), ("#y", "emea"), ("#z", null)))
  }

  test("intervalJoin: stream-stream join matches within the interval, drops outside") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[String]
    val rMem = MemoryStream[String]
    // fixed event times via the wire decode path would stamp arrival
    // time; build typed rows directly to control event time
    def rows(mem: MemoryStream[String], base: Int) = {
      import org.apache.spark.sql.functions.split
      mem.toDF().select(
        split(col("value"), ",")(0).cast("int").as("timestamp"),
        split(col("value"), ",")(1).as("hashtag"),
        split(col("value"), ",")(2).cast("double").as("sentiment_score"))
    }
    val joined = TrendStream.intervalJoin(rows(lMem, 0), rows(rMem, 0),
      intervalSec = 60)
    val out = new TrendSink.MemoryProducerSink()
    lMem.addData("1000,#a,3.0", "1000,#b,2.0")
    rMem.addData(
      "990,#a,1.0",   // within 60s before -> match
      "1000,#a,2.5",  // same instant -> match
      "930,#a,0.5",   // 70s before -> outside interval
      "1010,#a,4.0",  // after left -> no match
      "995,#c,1.5")   // wrong key
    val q = joined.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => out.write(df, id))
      .start()
    q.awaitTermination(60000)
    val got = out.buffer.values.flatten
      .map(r => (r.getAs[String]("hashtag"), r.getAs[Int]("r_timestamp")))
      .toSet
    assert(got == Set(("#a", 990), ("#a", 1000)))
  }

  test("checkpoint recovery: kill mid-stream, restart resumes with no dup/loss") {
    // the exactly-once story S-2/A-5 exist for: offsets + batch ids live
    // in the checkpoint, the parquet sink is idempotent per batch id
    // (batch 0 truncates, so even an uncommitted-batch replay converges)
    val in = Files.createTempDirectory("ckpt_in").toString
    val ckpt = Files.createTempDirectory("ckpt_state").toString
    val outDir = Files.createTempDirectory("ckpt_out").toString + "/out"
    val delegate = TrendSink.ParquetSink(outDir)
    val batchIds = new java.util.concurrent.CopyOnWriteArrayList[java.lang.Long]()
    val sink = new TrendSink {
      def write(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
        delegate.write(df, batchId)
        batchIds.add(batchId)
      }
    }
    Files.writeString(java.nio.file.Path.of(in, "a.txt"),
      "Boston, MA /TLOC/ fast #a\nBoston, MA /TLOC/ fast #b")
    val q1 = TrendStream.writer(
      TrendStream.trendRows(TweetSource.FileSource(in).load(spark)),
      sink, Trigger.ProcessingTime("100 milliseconds"), Some(ckpt)).start()
    var waited = 0
    while (batchIds.isEmpty && waited < 300) { Thread.sleep(100); waited += 1 }
    q1.stop() // kill while the query is live, not source-exhausted
    assert(batchIds.size >= 1, "first batch never arrived")
    assert(spark.read.parquet(outDir).count() == 2)
    // new data lands while the query is down
    Files.writeString(java.nio.file.Path.of(in, "b.txt"), "Paris /TLOC/ slow #c")
    val q2 = TrendStream.writer(
      TrendStream.trendRows(TweetSource.FileSource(in).load(spark)),
      sink, Trigger.AvailableNow(), Some(ckpt)).start()
    q2.awaitTermination(60000)
    val out = spark.read.parquet(outDir)
    // 3 rows total: file A not re-processed (offsets recovered) and not
    // truncated away (batch ids resumed past the batch-0 gate)
    assert(out.count() == 3)
    assert(out.select("hashtag").collect().map(_.getString(0)).toSet ==
      Set("#a", "#b", "#c"))
    assert(batchIds.asScala.map(_.toLong).toSet == Set(0L, 1L))
  }

  test("windowed-agg state survives a restart (state-store recovery)") {
    // counts for one 60 s window accumulate across a kill/restart: the
    // post-restart batch must emit window totals that include pre-kill
    // rows — proof the state store recovered, not just source offsets
    val in = Files.createTempDirectory("state_in").toString
    val ckpt = Files.createTempDirectory("state_ckpt").toString
    val updates = new java.util.concurrent.CopyOnWriteArrayList[(Long, String, Long)]()
    def run(trigger: Trigger): Unit = {
      val rows = TweetSource.FileSource(in).load(spark).select(
        split(col("value"), ",")(0).cast("int").as("timestamp"),
        split(col("value"), ",")(1).as("hashtag"))
      val q = TrendStream.windowedHashtagCounts(rows)
        .select(col("window.start").cast("long").as("ws"), col("hashtag"), col("count"))
        .writeStream.outputMode("update").trigger(trigger)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            updates.add((r.getLong(0), r.getString(1), r.getLong(2))))
        }.start()
      q.awaitTermination(60000)
    }
    // two rows land in the [960, 1020) window before the kill
    Files.writeString(java.nio.file.Path.of(in, "a.txt"), "1000,#a\n1010,#a")
    run(Trigger.AvailableNow())
    assert(updates.asScala.exists(u => u == ((960L, "#a", 2L))))
    // one more row in the SAME window after the restart
    Files.writeString(java.nio.file.Path.of(in, "b.txt"), "1015,#a")
    run(Trigger.AvailableNow())
    assert(updates.asScala.exists(u => u == ((960L, "#a", 3L))),
      s"window total did not accumulate across restart: ${updates.asScala.toList}")
  }

  test("dedupWithinWatermark drops the in-watermark duplicate (streaming-native D-1)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val base = TrendStream.trendRows(mem.toDF())
    val out = new TrendSink.MemoryProducerSink()
    mem.addData("Boston, MA /TLOC/ fast #a #a") // same key twice in one batch
    val dedup = TrendStream.dedupWithinWatermark(base)
      .select("timestamp", "hashtag", "sentiment_score", "sentiment_type", "country")
    val q = dedup.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => out.write(df, id))
      .start()
    q.awaitTermination(60000)
    assert(out.buffer.values.flatten.size == 1)
  }
}
