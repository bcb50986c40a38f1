package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Soak for the round-10 stateful streaming operators: drive each at a
  * sustained rate from the `rate` source and record, per micro-batch,
  * the processed rate AND the state store's total row count — the
  * bounded-state claims made in their Scaladoc, measured instead of
  * asserted:
  *
  *   - [[graft.streaming.StreamingHeavyHitters]]: state rows must stay
  *     pinned at `nShards` (16) — one Misra-Gries sketch per shard —
  *     no matter how many rows or distinct tokens stream through;
  *   - [[graft.streaming.StreamingSpikes]]: state rows must stay
  *     pinned at the hashtag cardinality (50 here), each key holding
  *     only its open bucket + trailing closed counts;
  *   - [[graft.streaming.StreamingDistinct]]: state rows must stay
  *     pinned at the event-type cardinality (5 here) while every
  *     arriving user_id is NEW — distinct cardinality grows without
  *     bound, the KMV buffers don't.
  *
  *   - [[graft.streaming.StreamingQuantiles]]: state rows must stay
  *     pinned at the type cardinality (5 here), each key holding one
  *     bounded (hash, value) sample buffer while event ids and the
  *     value distribution drift without bound.
  *
  * Env: SPARK_GRAFT_CPUS (4), SKETCH_SOAK_ROWS_PER_SEC (3125 per core:
  * on a 4-core host, 12500 rows/s kept up in all four 60 s phases, each
  * 1 s batch processed at 35-47 k rows/s),
  * SKETCH_SOAK_SECONDS (60 per phase), SKETCH_SOAK_OUT
  * (artifacts/SKETCH_SOAK.jsonl; summary lands beside it as
  * SKETCH_SOAK_SUMMARY.json).
  */
object SketchSoak {
  def main(args: Array[String]): Unit = {
    val cpus = Session.cpus
    val rate = sys.env.getOrElse("SKETCH_SOAK_ROWS_PER_SEC", (3125 * cpus).toString).toInt
    val seconds = sys.env.getOrElse("SKETCH_SOAK_SECONDS", "60").toInt
    val outPath = sys.env.getOrElse("SKETCH_SOAK_OUT", "artifacts/SKETCH_SOAK.jsonl")

    val spark = Session.local(cpus)

    Option(new File(outPath).getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val log = new PrintWriter(new File(outPath))
    final case class Batch(rate: Double, stateRows: Long, inputRows: Long)
    val batches = scala.collection.mutable.Map[String, Vector[Batch]]()
      .withDefaultValue(Vector.empty)
    @volatile var phase = ""
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        log.synchronized {
          val p = e.progress
          if (p.numInputRows > 0) {
            val state = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
            batches(phase) = batches(phase) :+
              Batch(p.processedRowsPerSecond, state, p.numInputRows)
            log.println(s"""{"phase":"$phase","batch":${p.batchId},""" +
              s""""input_rows":${p.numInputRows},""" +
              s""""proc_rows_per_sec":${math.round(p.processedRowsPerSecond)},""" +
              s""""state_rows":$state}""")
            log.flush()
          }
        }
    }
    spark.streams.addListener(listener)

    def ckpt() = java.nio.file.Files.createTempDirectory("sketch_soak").toString
    def runPhase(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      phase = name
      val q = df.writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt())
        .trigger(Trigger.ProcessingTime("1 second")).start()
      Thread.sleep(seconds * 1000L)
      q.stop(); q.awaitTermination()
    }

    // phase 1: MG heavy hitters — skewed vocab (1 hot token in 3 rows,
    // ~1000-token tail), 3 tokens per doc
    val src1 = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
    runPhase("heavy_hitters", graft.streaming.StreamingHeavyHitters
      .candidateStream(src1.select(col("value").as("doc_id"),
        concat_ws(" ",
          when(pmod(col("value"), lit(3)) === 0, lit("hot"))
            .otherwise(concat(lit("t"), pmod(col("value"), lit(997)))),
          concat(lit("u"), pmod(col("value") * 31L, lit(997))),
          lit("the")).as("text"))).toDF())

    // phase 2: spikes — 50 hashtags, bucket advances every ~5 s of
    // stream volume so buckets keep closing and being judged
    val src2 = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
    runPhase("spikes", graft.streaming.StreamingSpikes
      .spikeStream(src2.select(
        concat(lit("h"), pmod(col("value"), lit(50))).as("hashtag"),
        expr(s"value div ${rate * 5L}").as("ts")), factorPm = 1100L).toDF())

    // phase 3: KMV distinct — every row a brand-new user (value is
    // monotonic), 5 event types: unbounded distinct through bounded
    // sketches
    val src3 = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
    runPhase("distinct", graft.streaming.StreamingDistinct
      .estimateStream(src3.select(
        concat(lit("e"), pmod(col("value"), lit(5))).as("event_type"),
        col("value").as("user_id"))).toDF())

    // phase 4: bottom-k quantiles — every row a new event id with a
    // drifting value distribution: unbounded input through one
    // <= 2k-long buffer per type
    val src4 = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
    runPhase("quantiles", graft.streaming.StreamingQuantiles
      .estimateStream(src4.select(
        concat(lit("e"), pmod(col("value"), lit(5))).as("event_type"),
        col("value").as("event_id"),
        (pmod(col("value") * 2654435761L, lit(100000L)) / 100.0)
          .as("value"))).toDF())

    log.close()
    def stats(name: String): String = {
      val b = batches(name)
      val rates = b.map(_.rate).sorted
      val med = if (rates.isEmpty) 0.0 else rates(rates.length / 2)
      s""""$name":{"batches":${b.length},"total_rows":${b.map(_.inputRows).sum},""" +
        s""""median_rows_per_sec":${math.round(med)},""" +
        s""""max_state_rows":${if (b.isEmpty) -1 else b.map(_.stateRows).max}}"""
    }
    val summaryPath = outPath.replace(".jsonl", "_SUMMARY.json")
    val sw = new PrintWriter(new File(summaryPath))
    sw.println(s"""{"rows_per_sec_fed":$rate,"seconds_per_phase":$seconds,""" +
      s"""${stats("heavy_hitters")},${stats("spikes")},${stats("distinct")},""" +
      s"""${stats("quantiles")}}""")
    sw.close()
    println(s"[sketch-soak] wrote $outPath and $summaryPath")
    spark.stop()
  }
}
