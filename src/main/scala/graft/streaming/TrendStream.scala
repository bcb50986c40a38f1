package graft.streaming

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.functions.{BatchConstant, Country, Sentiment}
import graft.model.WireCodec
import graft.text.TextOps

/** The streaming assembly (SURVEY §2.9, `KafkaSparkProcessor.scala:71-128`):
  * wire lines → per-hashtag sentiment rows → per-batch dedup → sinks, on a
  * 15 s processing-time trigger; plus the idiomatic event-time upgrades
  * (watermarked sliding window A-1, `dropDuplicatesWithinWatermark`).
  *
  * Scale: the per-batch path is stateless row ops + one dedup aggregate
  * per micro-batch; the windowed path keeps bounded state (watermark
  * evicts). Nothing collects to the driver.
  */
object TrendStream {

  val DefaultTrigger: Trigger = Trigger.ProcessingTime("15 seconds")

  /** T-1/T-2 on a streaming frame of `value` wire lines: parse, clean,
    * score once per tweet, explode hashtags. `timestamp` is the
    * micro-batch's time in epoch seconds (`batchTimestampMs / 1000` of the
    * batch's offset log entry), as the reference stamps batch time
    * (`KafkaSparkProcessor.scala:109`).
    *
    * The stamp goes through [[graft.functions.BatchConstant]]. Spark turns
    * a streaming `current_timestamp()` into the batch time as a literal,
    * and a literal is spliced into the generated Java source, so every
    * micro-batch compiled this row stage anew (two Janino compiles before
    * each batch's first job). Read from the stage's references, the value
    * leaves the source the same in every batch and the compiled class is
    * reused; `codegenStringSeq(lastExecution.executedPlan)` shows it, and
    * TrendStreamSpec pins it. */
  def trendRows(lines: DataFrame): DataFrame = {
    lines
      // stage the parsed fields: the wire-line split feeds three
      // consumers and would re-evaluate per reference otherwise (no CSE
      // across expression copies — same staging as the batch twin)
      .select(
        WireCodec.tweetLocation(col("value")).as("loc"),
        WireCodec.tweetText(col("value")).as("text"))
      .select(
        BatchConstant(unix_timestamp(current_timestamp()).cast("int")).as("timestamp"),
        Country.extractCountry(col("loc")).as("country"),
        TextOps.cleanTweetText(col("text")).as("clean"),
        TextOps.extractHashtags(col("text")).as("tags"))
      .withColumn("sentiment_score", Sentiment.weightedScore(col("clean")))
      .withColumn("sentiment_type",
        lower(Sentiment.bucket(col("sentiment_score"))))
      .select(
        col("timestamp"),
        explode(col("tags")).as("tag"),
        col("sentiment_score"), col("sentiment_type"), col("country"))
      .withColumn("hashtag", TextOps.cleanHashtag(col("tag")))
      .select("timestamp", "hashtag", "sentiment_score", "sentiment_type", "country")
  }

  /** D-1 per micro-batch (the reference dedups inside foreachRDD,
    * `KafkaSparkProcessor.scala:115`): the batch keep-rule, on the
    * streaming schema's `timestamp` column — one implementation shared
    * with [[graft.ops.TrendPipeline.dedupTrends]]. */
  def dedupBatch(df: DataFrame): DataFrame =
    graft.ops.TrendPipeline.dedupTrends(df, tsCol = "timestamp")

  /** S-2: the foreachBatch output loop — dedup then fan out to sinks,
    * swallowing per-batch errors like the reference's try/catch
    * (`KafkaSparkProcessor.scala:107-124`) but logging them. */
  def writer(rows: DataFrame, sink: TrendSink,
             trigger: Trigger = DefaultTrigger,
             checkpoint: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = rows.writeStream
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        try sink.write(dedupBatch(df), batchId)
        catch { case e: Throwable =>
          System.err.println(s"[trend-stream] batch $batchId failed: ${e.getMessage}")
        }
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
  }

  /** End-to-end: source → rows (+A-3 observe counter) → sinks. */
  def start(spark: org.apache.spark.sql.SparkSession,
            source: TweetSource, sink: TrendSink,
            trigger: Trigger = DefaultTrigger,
            checkpoint: Option[String] = None): StreamingQuery =
    writer(observed(trendRows(source.load(spark))), sink, trigger, checkpoint).start()

  /** A-3 (`tweets.count().print()`, `KafkaSparkProcessor.scala:126`): the
    * per-batch record count as an `observe` metric — readable from a
    * `StreamingQueryListener` without a second aggregation query. */
  def observed(rows: DataFrame): DataFrame =
    rows.observe("trend_metrics", count(lit(1)).as("batch_rows"))

  /** A-1 streaming: 60 s window sliding 15 s, counts per (window, hashtag),
    * watermarked event time so state is bounded and late rows beyond the
    * watermark drop (the DStream original has no late handling at all). */
  def windowedHashtagCounts(rows: DataFrame,
                            watermark: String = "2 minutes"): DataFrame =
    rows
      .withColumn("event_time", col("timestamp").cast("timestamp"))
      .withWatermark("event_time", watermark)
      .groupBy(
        window(col("event_time"), "60 seconds", "15 seconds"),
        col("hashtag"))
      .count()

  /** Streaming-native dedup upgrade: state-backed within-watermark
    * dedup on the composite key (vs the per-batch D-1). */
  def dedupWithinWatermark(rows: DataFrame,
                           watermark: String = "2 minutes"): DataFrame =
    rows
      .withColumn("event_time", col("timestamp").cast("timestamp"))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("timestamp", "hashtag", "country")

  /** J-1's streaming-native upgrade: the reference joins counts with
    * sentiment per micro-batch inside foreachRDD
    * (`KafkaSparkProcessor.scala:93`) — batch-local, so correlated rows
    * split across batches never meet. This is the cross-batch form: a
    * watermarked stream-stream INTERVAL join on hashtag, matching right
    * rows whose event time falls within `intervalSec` seconds at or
    * before the left row's. Both sides carry watermarks and the join
    * condition bounds event time in both directions, so Spark derives a
    * state-eviction bound — state is watermark-bounded, not unbounded
    * (at scale: state per key ~ rows within the interval window, evicted
    * as the watermark advances). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   intervalSec: Int = 60,
                   watermark: String = "2 minutes"): DataFrame = {
    val l = left
      .withColumn("l_time", col("timestamp").cast("timestamp"))
      .withWatermark("l_time", watermark)
    val r = right
      .select(col("timestamp").as("r_timestamp"), col("hashtag").as("r_hashtag"),
        col("sentiment_score").as("r_sentiment_score"))
      .withColumn("r_time", col("r_timestamp").cast("timestamp"))
      .withWatermark("r_time", watermark)
    l.join(r,
      col("hashtag") === col("r_hashtag") &&
        col("r_time") >= col("l_time") - expr(s"interval $intervalSec seconds") &&
        col("r_time") <= col("l_time"))
  }
}
