package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming soak for the COMPOSED curation gate
  * ([[graft.streaming.DocStream.curate]]): synthetic documents at a
  * fixed feed rate through quality → Bloom decontamination → exact
  * dedup → near-dup gate, every micro-batch's progress logged — the
  * measured-throughput evidence for the one streaming operator the
  * trend-pipeline soak does not cover. Documents are an order of
  * magnitude heavier per row than tweets (a ~40-token profile scan,
  * token/shingle hashing, two sketch computations), so this figure is
  * NOT comparable to the trend soak's rows/s; it is the docs/s a
  * single node sustains through the full gate.
  *
  * Feed synthesis (pure codegen'd expressions, no UDFs): each doc's
  * text is 30–50 vocab words chosen by a deterministic per-(seed,
  * slot) hash. Every 5th doc reuses the previous block-of-10's seed —
  * ~10% exact duplicates exercising the digest state — and every
  * 17th doc is a two-token junk row the quality gate must drop.
  *
  * Env: SPARK_GRAFT_CPUS (4), CURATE_DOCS_PER_SEC (1000 per core: on a
  * 4-core host, 120 s at 4000 docs/s kept 99 of 113 batches inside the
  * 1 s trigger, while 7500 docs/s saturated at 7250 with every batch
  * over it),
  * CURATE_SECONDS (120), CURATE_OUT (artifacts/CURATE_SOAK.jsonl). */
object CurateSoak {

  private val Vocab: Seq[String] = {
    // deterministic pseudo-vocabulary: big enough that per-bit token-hash
    // bias across the vocab stays far below per-doc sample noise —
    // a SMALL vocab (the first draft's 257 words) biases every doc's
    // SimHash vote the same way (|E[vote]| ≈ √n), collapsing distinct
    // docs onto a handful of sketches and turning the near-dup gate
    // into a ~40% false-drop shredder. At 4096 words the bias is
    // ~0.6 vs σ≈6.3 at 40 tokens: sketches are sample-noise-diverse.
    // The 7 stopwords keep the quality profile's ratios in the "keep"
    // band.
    val stops = Seq("the", "and", "for", "that", "with", "this", "from")
    val words = (0 until 4096).map(i => s"w${java.lang.Integer.toString(i * 7919 % 65536, 36)}")
    stops ++ words
  }

  /** 30–50-word deterministic text for a seed column: length is a
    * per-seed hash (21 length classes — which also spreads the
    * near-dup gate's `sketch_len` key), word choice is
    * `xxhash64(seed, slot)` — a real mixing hash, NOT an affine
    * `(a·seed + b·slot) mod P mod |vocab|` (whose texts collapse to
    * |vocab| equivalence classes of `seed mod |vocab|`, a degeneracy
    * that turned the first draft's feed into 257 distinct docs). */
  private[graft] def docText(seed: org.apache.spark.sql.Column) = {
    val vocab = array(Vocab.map(lit): _*)
    val len = (pmod(xxhash64(seed, lit(0)), lit(21L)) + 30L).cast("int")
    concat_ws(" ",
      transform(sequence(lit(1), len),
        i => element_at(vocab,
          (pmod(xxhash64(seed, i), lit(Vocab.length.toLong)) + 1L)
            .cast("int"))))
  }

  def main(args: Array[String]): Unit = {
    val cpus = Session.cpus
    val rate = sys.env.getOrElse("CURATE_DOCS_PER_SEC", (1000 * cpus).toString).toInt
    val seconds = sys.env.getOrElse("CURATE_SECONDS", "120").toInt
    val outPath = sys.env.getOrElse("CURATE_OUT", "artifacts/CURATE_SOAK.jsonl")

    val spark = Session.local(cpus)
    import spark.implicits._

    Option(new File(outPath).getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val log = new PrintWriter(new File(outPath))
    val rates = scala.collection.mutable.ArrayBuffer[Double]()
    val durations = scala.collection.mutable.ArrayBuffer[Long]()
    var inputRows = 0L
    var outputRows = 0L
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
            outputRows += Option(p.sink).map(_.numOutputRows).getOrElse(0L)
          }
        }
    }
    spark.streams.addListener(listener)

    // tiny static eval corpus for the Bloom gate (its cost is the
    // per-row shingle hashing, not the eval-set size)
    val evalDocs = (0L until 20L).toDF("doc_id")
      .select(col("doc_id"), docText(col("doc_id") + 777000L).as("text"))

    val feed = spark.readStream.format("rate")
      .option("rowsPerSecond", rate)
      .option("numPartitions", cpus)
      .load()
      .select(
        col("value").as("doc_id"),
        // every 5th doc duplicates its block anchor (~10% exact dups
        // after the anchor itself); every 17th is quality junk
        when(pmod(col("value"), lit(17)) === 0, lit("x x"))
          .otherwise(docText(
            when(pmod(col("value"), lit(5)) === 0,
              col("value") - pmod(col("value"), lit(10)))
              .otherwise(col("value")))).as("text"),
        col("timestamp").as("event_time"))

    val curated = graft.streaming.DocStream.curate(feed, evalDocs)
    val ckpt = java.nio.file.Files.createTempDirectory("curate_ckpt").toString
    val q = curated.writeStream
      .format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .option("checkpointLocation", ckpt)
      .start()
    // see IngestSoak: a saturated stop can rethrow the in-flight
    // batch's interruption; the summary must still be written
    try Thread.sleep(seconds * 1000L)
    finally scala.util.Try(q.stop())
    spark.streams.removeListener(listener)
    log.synchronized(log.close())

    val sorted = rates.sorted
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0 else sorted(((sorted.length - 1) * p).toInt)
    val behind = durations.count(_ > 1000L)
    println(s"""{"metric":"curate_soak","feed_docs_per_sec":$rate,"seconds":$seconds,""" +
      s""""cpus":$cpus,"batches":${rates.length},"input_rows":$inputRows,""" +
      s""""output_rows":$outputRows,""" +
      f""""median_docs_per_sec":${pct(0.5)}%.1f,"p05":${pct(0.05)}%.1f,""" +
      f""""p95":${pct(0.95)}%.1f,"batches_over_trigger":$behind,""" +
      s""""artifact":"$outPath"}""")
    spark.stop()
  }
}
