package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming document curation — the incremental-ingest twin of the
  * batch `graft.llm` operators: documents arrive as a stream (crawl
  * output, firehose) and are deduplicated / scored / filtered online,
  * so the corpus store only ever receives curated rows.
  *
  * State discipline at 100 TB/day: every stateful stage keys on the
  * 32-byte content digest, never the text, and bounds its state with a
  * watermark — a duplicate arriving after the horizon is admitted
  * rather than remembered forever (the batch exact-dedup pass is the
  * backstop; streaming dedup is the cheap first line that kills the
  * overwhelmingly-common near-in-time duplicate: retries, mirrors,
  * double-crawls).
  */
object DocStream {

  /** Within-watermark exact dedup on the content digest of a streaming
    * `(doc_id, text, event_time)` frame: the first-seen doc of each
    * content class passes, later copies inside the watermark drop.
    * Text never enters the dedup state — only the digest key rides the
    * state store. */
  def dedupDocs(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    withContentKey(docs)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("content_key")

  /** The exact-dedup state key: content digest of the normalized text. */
  private def withContentKey(docs: DataFrame): DataFrame =
    docs.withColumn("content_key",
      sha2(graft.llm.TextAnalysis.normalize(col("text")), 256))

  /** Version of the near-dup sketch-key FUNCTION (not its schema):
    * v2 = the 64-bit two-family sketch. Emitted as a key column so a
    * checkpoint written by a different key era cannot silently resume
    * (see [[nearDupGate]]'s upgrade note). */
  val SketchKeyVersion = 2

  /** The near-dup state key: 64-bit two-family sketch + token count
    * (see [[nearDupGate]] doc), plus the constant [[SketchKeyVersion]]
    * column that pins the key era into the state schema. */
  private def withSketchKey(docs: DataFrame): DataFrame =
    docs
      .withColumn("__ths", graft.llm.TextFns.tokenHashes(col("text")))
      .withColumn("__ths2", graft.llm.TextFns.tokenHashes2(col("text")))
      .withColumn("sketch_key",
        shiftleft(graft.llm.Dedup.simhashFromTokenHashes(col("__ths")), 32)
          .bitwiseOR(graft.llm.Dedup.simhashFromTokenHashes(col("__ths2"))))
      .withColumn("sketch_len", size(col("__ths")).cast("long"))
      .withColumn("sketch_ver", lit(SketchKeyVersion))
      .drop("__ths", "__ths2")

  /** Within-watermark NEAR-dup gate: [[dedupDocs]] only kills
    * byte-level (post-normalization) duplicates; this stage keys the
    * same `dropDuplicatesWithinWatermark` state machine on a 64-bit
    * sketch — the 32-bit SimHash of the token-hash multiset
    * ([[graft.llm.Dedup.simhashFromTokenHashes]] — the batch near-dup
    * operator's exact sketch) in the high half, and the SimHash over a
    * SECOND, independent polynomial token-hash family
    * ([[graft.llm.TextFns.tokenHashes2]]) in the low half — PLUS the
    * token count, so reorderings and other edits that leave every
    * sketch bit of both families and the length unchanged collapse to
    * the first-seen doc. The streaming trade: batch `simhashDedup`
    * bands sketches and verifies Hamming ≤ 3 across a join — unbounded
    * lookback, two shuffles; a stream gets ONE key-equality state
    * probe per row, so the gate catches the sketch-identical near-dup
    * class (plus all exact dups, trivially) with ~16 bytes of state
    * per doc and leaves the banded-Hamming tail to the periodic batch
    * pass, same as the exact gate.
    *
    * Why 64 bits: at the 100 TB/day design point a 10-minute watermark
    * window holds 10⁸–10⁹ docs — far past a 32-bit birthday bound, so
    * single-family collisions are GUARANTEED there, and every one is a
    * silently dropped clean doc. The second family multiplies the
    * collision odds by ~2⁻³⁰, pushing the expected false-drop count in
    * any realistic window below one. It must be an independent hash of
    * the token STRINGS (different multiplier and modulus), not a
    * rehash of the family-1 values — equal inputs stay equal through
    * any function, so downstream mixing cannot undo a collision
    * (DocStreamSpec pins this with a real family-1 collision pair).
    *
    * Like the Bloom decontamination gate, the drop stays CONSERVATIVE
    * with a bounded false-positive side: colliders must now agree on
    * BOTH 32-bit family sketches and the exact token count within one
    * watermark window. A corpus that cannot tolerate any
    * sketch-collision loss should run [[dedupDocs]] online and leave
    * near-dups wholly to the batch verify-join. State discipline
    * matches [[dedupDocs]]: only the 8-byte combined sketch and the
    * count ride the state store, never text, and the watermark bounds
    * lookback.
    *
    * Upgrade note (and why `sketch_ver` is a KEY COLUMN): when the
    * second family was added (r15), the key VALUES changed under an
    * unchanged (long, long) schema — a query resuming a checkpoint
    * written by the 32-bit gate resumed WITHOUT error, but its old
    * state entries could never match a new key: near-dups straddling
    * the upgrade inside one watermark window were silently admitted.
    * The constant [[SketchKeyVersion]] column closes that class the
    * only way a checkpoint can enforce: it changes the state KEY
    * SCHEMA, so resuming a pre-version checkpoint now fails loudly at
    * the state-schema compatibility check instead of degrading
    * (DocStreamSpec pins the failure). The discipline this buys must
    * be kept: any future change to the key FUNCTION must change the
    * key SCHEMA too (rename the version column, e.g. `sketch_ver3`) —
    * bumping only the literal VALUE recreates the silent one-window
    * gap, because same-schema checkpoints resume without error. */
  def nearDupGate(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    withSketchKey(docs)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("sketch_ver", "sketch_key", "sketch_len")

  /** Online quality gate: the stateless [[graft.llm.TextAnalysis]]
    * profile runs per-row on the stream (no state at all), keeping
    * docs at or above `minQuality` permille. */
  def qualityGate(docs: DataFrame, minQuality: Long = 300L): DataFrame =
    graft.llm.TextAnalysis.docProfile(docs.select("doc_id", "text"))
      .filter(col("quality") >= minQuality)

  /** Online model gate: score each streaming doc with a FROZEN linear
    * classifier ([[graft.llm.Classifier]] weights, trained offline on
    * a labeled or pseudo-labeled slice) and keep docs scoring above
    * `minScorePpm`. Like [[decontaminationGate]], the gate is a pure
    * per-row filter — the weight map ships as a literal
    * ([[graft.llm.Classifier.freezeWeights]] caps it at topK entries),
    * scoring is one native higher-order fold per row, and there is no
    * join, no aggregation, no state store. `keep = score > min`
    * matches the batch predictor's `pred_hq = score_ppm > 0` at the
    * default `minScorePpm = 0`. */
  def modelGate(docs: DataFrame, weights: Map[String, Long],
                minScorePpm: Long = 0L): DataFrame =
    docs.filter(
      graft.llm.Classifier.scoreExpr(col("text"), weights) > minScorePpm)

  /** Online decontamination: drop streaming docs that share any shingle
    * with a STATIC eval corpus, membership-tested against the same
    * packed Bloom words as [[graft.llm.Dedup.bloomContamination]] —
    * materialized once at stream-build time
    * ([[graft.llm.Dedup.bloomFilterArray]], 4 KB bounded by the m
    * parameter, never by eval-set size) and shipped as an array
    * literal. The gate is a pure per-row filter: no join, no
    * aggregation, no state store — the shape that keeps a
    * 100 TB/day ingest stream's curation stage embarrassingly
    * parallel.
    *
    * Flagging is conservative in exactly the Bloom way: every truly
    * contaminated doc is caught; a bounded FP fraction of clean docs
    * is dropped with them — the right trade for a training-corpus
    * gate. */
  def decontaminationGate(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    import graft.llm.{Dedup, TextFns}
    val filt = Dedup.bloomFilterArray(evalDocs)
    // The membership test is the native single-loop expression, NOT the
    // staged-projection column form: a filter predicate gets pushed
    // below any projection staging, re-inlining the token-hash array
    // into every element_at of the shingle lambda — measured 23× slower
    // (6.6k vs 150k+ docs/s at 32 cores). The native child evaluates
    // once per row wherever the optimizer moves the predicate.
    docs.filter(!Dedup.bloomContaminatedFromTokenHashes(
      TextFns.tokenHashes(col("text")), filt))
  }

  /** The FULL online curation gate — the streaming twin of the batch
    * [[graft.llm.Pipeline.trainingPipeline]] funnel, composed in cost
    * order so each stage sees only the previous stage's survivors:
    *
    *   1. quality filter — stateless, one fused profile scan
    *      ([[graft.llm.TextAnalysis.docProfile]] carrying
    *      text/event_time through), drops junk before anything
    *      stateful runs;
    *   2. decontamination — stateless broadcast-Bloom per-row filter;
    *   3. exact dedup — digest-keyed watermark state
    *      ([[dedupDocs]]);
    *   4. near-dup gate — 64-bit-sketch watermark state
    *      ([[nearDupGate]]).
    *
    * Two chained `dropDuplicatesWithinWatermark` state machines in one
    * append-mode query is the Spark-4 multiple-stateful-operator
    * shape; both key on fixed-size digests/sketches, never text, so
    * per-doc state stays ~48 bytes across the two stores combined and
    * the whole gate remains embarrassingly parallel but for the two
    * state-store exchanges. Output is the curated (doc_id, text,
    * event_time) stream — the rows a corpus store should ingest. */
  def curate(docs: DataFrame, evalDocs: DataFrame,
             watermark: String = "10 minutes",
             minQuality: Long = 300L): DataFrame = {
    val quality = graft.llm.TextAnalysis
      .docProfile(docs, keep = Seq("text", "event_time"))
      .filter(col("quality") >= minQuality)
      .select("doc_id", "text", "event_time")
    val clean = decontaminationGate(quality, evalDocs)
    // BOTH dedup keys are projected up front and the watermark is
    // marked ONCE: composing dedupDocs(nearDupGate(...)) would call
    // withWatermark again downstream of a stateful operator, which
    // Spark rejects when it plans the SECOND micro-batch
    // ("Redefining watermark is disallowed") — a failure mode a
    // single-drain test cannot see (DocStreamSpec drives two batches
    // through this for exactly that reason)
    withSketchKey(withContentKey(clean))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("content_key")
      .dropDuplicatesWithinWatermark("sketch_ver", "sketch_key", "sketch_len")
      .select("doc_id", "text", "event_time")
  }

  /** The full ingest loop: [[curate]] in-plan, then per micro-batch a
    * near-dup check against the PERSISTED historical corpus
    * ([[graft.llm.LshIndex.gateGen]]) — survivors append to the corpus
    * store AND to the index itself, so each batch near-dups against
    * everything ever admitted, not just the current watermark window.
    *
    * This closes the dedup matrix's last cell. In-plan, the watermark
    * gates kill the near-in-time duplicate classes with bounded state;
    * what they cannot see is a near-dup of a doc admitted an hour (or
    * a year) ago. That is exactly what the LSH index stores — and
    * because each batch's survivors land in the index before the next
    * batch is gated, the lookback horizon is "the whole corpus", with
    * per-batch cost bounded by the batch's own band collisions (the
    * corpus side of both joins rides its bucketed layout and never
    * reshuffles).
    *
    * The history check runs in `foreachBatch` rather than in-plan
    * because its flagged set derives from the batch itself — in-plan
    * that is a stream joining a derivative of itself (a stream-stream
    * self-join Spark would have to state-buffer); per micro-batch it
    * is plain batch semantics, the same reason the reference's output
    * loop is batch-shaped (S-2).
    *
    * The trigger path pays METADATA ONLY for index maintenance:
    *
    *   - every batch starts with [[graft.llm.LshMaintenance
    *     .maybeCommit]] (renames, if the background stage finished);
    *   - survivors append to the HOT generation
    *     ([[graft.llm.LshIndex.appendHot]] — batch-sized, like any
    *     append);
    *   - every `rotateEvery` batches — and only once hot holds
    *     `hotFractionPm` of cold's rows, the LSM-style size-ratio gate
    *     that keeps total merge work O(N log N) instead of quadratic —
    *     [[graft.llm.LshMaintenance.rotateAndStage]] swaps hot aside
    *     (renames) and hands the one O(corpus) merge to the
    *     maintenance thread, which stages against write-free relations
    *     while subsequent triggers keep gating and appending. Run the
    *     session with `spark.scheduler.mode=FAIR` and a low-weight
    *     `maintenance` pool so the merge yields cores to triggers
    *     (the stage's jobs are tagged to that pool; inert under FIFO).
    *
    * Batch cost is therefore bounded by the batch's own shingling and
    * band collisions for the stream's whole lifetime; the merge still
    * costs O(corpus) but off-trigger, where it contends for cores
    * instead of stalling the trigger. An earlier single-tier index
    * compacted INSIDE the trigger, and that loop collapsed at 330 s /
    * 20 k docs/s while this one held 97% of feed
    * (`artifacts/GEN_INGEST_AB_R15.json`).
    *
    * Fragmentation control is the rotate itself: each merge rewrites
    * cold to one file per bucket, and hot never accumulates more than
    * `rotateEvery` batches of appends.
    *
    * Failure/replay contract — EXACTLY-ONCE stored effects under
    * `foreachBatch`'s at-least-once replay, with no transactional
    * format, from two reinforcing mechanisms:
    *
    *   1. The corpus write is an IDEMPOTENT per-batch partition
    *      overwrite: rows land under `batch_id=<id>/` in dynamic
    *      partition-overwrite mode, so a replay of batch N replaces
    *      partition N with the identical recomputed rows instead of
    *      appending a second copy (and an EMPTY survivor set touches
    *      no partition at all — dynamic mode only overwrites
    *      partitions present in the data).
    *   2. The index append is self-healing through the gate itself:
    *      [[graft.llm.LshIndex.gateGen]] deliberately has no id guard,
    *      so on a FULL replay (crash after both writes committed) every
    *      previously-admitted doc collides with its own stored copy at
    *      Jaccard 1.0 in whichever generation holds it, and the
    *      survivor set is empty — nothing is re-appended anywhere.
    *
    *    The one remaining window is a crash MIDWAY through
    *    [[graft.llm.LshIndex.appendHot]]'s two table writes (sets
    *    landed, bands did not): the replay re-admits the batch, leaving
    *    byte-identical duplicate rows in the hot sets table. Gating
    *    correctness is unaffected (duplicate entries only produce
    *    duplicate candidate flags, absorbed by the gate's distinct);
    *    the next merge's full-row dedup is the garbage collector for
    *    exactly this residue. Closing that last window outright needs
    *    an atomic multi-table commit — a transactional table format,
    *    out of scope here and documented as such. DocStreamSpec pins
    *    the replay contract: the same (batch, batchId) through
    *    [[ingestBatchGen]] twice leaves corpus, index tables, and query
    *    answers identical to once. Maintenance crash states
    *    (half-rotate, staged-uncommitted, double-read) are healed by
    *    [[graft.llm.LshMaintenance.recover]] at startup, queryable
    *    throughout (GenerationalLshSpec pins each state).
    *
    * Caller contract: [[graft.llm.LshIndex.buildGen]] ran once
    * (possibly on an empty seed corpus) before the query starts;
    * `maint` wraps the same index name. */
  def ingestGen(docs: DataFrame, evalDocs: DataFrame, indexName: String,
                corpusPath: String, maint: graft.llm.LshMaintenance,
                watermark: String = "10 minutes",
                minQuality: Long = 300L,
                minJaccardPm: Int = 800,
                rotateEvery: Int = 8,
                hotFractionPm: Long = 250L): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    maint.recover()
    curate(docs, evalDocs, watermark, minQuality).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchGen(batch, batchId, indexName, corpusPath, maint,
          minJaccardPm, rotateEvery, hotFractionPm)
      }
  }

  /** One micro-batch of [[ingestGen]]'s `foreachBatch` loop, public so
    * the replay contract is testable (calling it twice with the same
    * (batch, batchId) must leave every stored effect identical to
    * calling it once) and so DocStreamSpec can drive a merge across
    * several triggers with a held-back executor. */
  def ingestBatchGen(batch: DataFrame, batchId: Long, indexName: String,
                     corpusPath: String, maint: graft.llm.LshMaintenance,
                     minJaccardPm: Int = 800, rotateEvery: Int = 8,
                     hotFractionPm: Long = 250L): Unit = {
    // commit first: a stage that finished during the previous batch
    // lands its renames before this batch queries the index (purely an
    // ordering nicety — queryGen answers identically either side).
    // Metadata ops go through the BATCH's session (the streaming
    // query's clone) so the cache the gate reads through is the one
    // the swap invalidates — see LshMaintenance.maybeCommit's doc.
    maint.maybeCommit(batch.sparkSession)
    // the DataFrame foreachBatch hands over is a PLAN, not data:
    // every action re-runs the whole upstream curate pipeline
    // (quality scan, Bloom probe, both state machines), and the
    // gate + two writes traverse it ~5 times — measured 5-8×
    // slower uncached at a 500k-row batch. Cache the curated
    // batch once; everything downstream reuses it.
    batch.persist()
    try {
      val survivors =
        graft.llm.LshIndex.gateGen(batch, indexName, minJaccardPm)
      // survivors feed two writes; cache so the batch is shingled,
      // probed, and verified exactly once
      survivors.persist()
      try {
        survivors.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(corpusPath)
        graft.llm.LshIndex.appendHot(
          survivors.select("doc_id", "text"), indexName)
      } finally survivors.unpersist()
    } finally batch.unpersist()
    if (rotateEvery > 0 && batchId % rotateEvery == (rotateEvery - 1))
      maint.rotateAndStage(batch.sparkSession, hotFractionPm)
  }
}
