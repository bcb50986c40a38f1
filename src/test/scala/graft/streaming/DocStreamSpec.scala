package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class DocStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("streaming dedupDocs: normalized content classes collapse to first-seen") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    mem.addData(
      (1L, "same text", ts(10)),
      (2L, "same text", ts(20)),      // exact dup
      (3L, "other text", ts(30)),
      (4L, " Same   TEXT ", ts(40)))  // dup after normalization
    val q = DocStream.dedupDocs(docs)
      .select("doc_id", "content_key")
      .writeStream.trigger(Trigger.AvailableNow()).format("memory")
      .queryName("dedup_out")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.awaitTermination(60000)
    val got = spark.table("dedup_out").select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
  }

  test("streaming dedup state key is the digest, and text is not in the state schema") {
    // structural check on the plan: the dedup operates on content_key
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    val plan = DocStream.dedupDocs(docs).queryExecution.analyzed.toString
    assert(plan.contains("content_key"))
    assert(plan.toLowerCase.contains("deduplicatewithinwatermark"))
  }

  test("streaming nearDupGate drops a sketch-identical near-dup that exact dedup would pass") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    // doc 2 permutes doc 1's tokens: different bytes (and different
    // normalized digest — dedupDocs would PASS it) but the same
    // token-hash multiset, hence bit-identical SimHash. doc 3 shares
    // no tokens and must survive.
    mem.addData(
      (1L, "the quick brown fox jumps over the lazy dog", ts(10)),
      (2L, "quick the brown fox jumps over the dog lazy", ts(20)),
      (3L, "completely unrelated payload about spark plans", ts(30)))
    val gated = DocStream.nearDupGate(docs)
    // state key is the 8-byte sketch, not text
    val plan = gated.queryExecution.analyzed.toString
    assert(plan.contains("sketch_key"))
    assert(plan.toLowerCase.contains("deduplicatewithinwatermark"))
    val q = gated.select("doc_id")
      .writeStream.trigger(Trigger.AvailableNow()).format("memory")
      .queryName("neardup_out")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.awaitTermination(60000)
    val got = spark.table("neardup_out").select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L), s"got $got")
    // cross-check the premise: exact dedup keys differ, so doc 2 was
    // dropped by the SKETCH, not by content identity
    val keys = DocStream.dedupDocs(docs).queryExecution.analyzed.toString
    assert(keys.contains("content_key"))
  }

  test("nearDupGate 64-bit key: a family-1 sketch collision does not drop a clean doc") {
    // Find two DIFFERENT tokens with the same family-1 polynomial hash
    // (birthday search over ~|P1|^0.5 candidates). A single-token doc's
    // 32-bit SimHash IS its token hash (one +1/-1 vote per bit), so
    // under the old (family-1 sketch, token count) key these two docs
    // collide exactly and the second would be silently dropped — the
    // 100 TB failure mode. The widened key adds an independent second
    // family, which must disagree on any non-identical pair.
    import graft.functions.PolyHashExpression.{hash, Mult2, Prime2}
    val seen = scala.collection.mutable.HashMap[Long, String]()
    var pair: Option[(String, String)] = None
    var i = 0
    while (pair.isEmpty && i < 500000) {
      val t = "w" + java.lang.Long.toString(i, 36)
      val h = hash(t)
      seen.get(h) match {
        case Some(prev) if hash(prev, Mult2, Prime2) != hash(t, Mult2, Prime2) =>
          pair = Some((prev, t))
        case Some(_) => () // double collision: astronomically unlikely, skip
        case None => seen(h) = t
      }
      i += 1
    }
    assert(pair.nonEmpty, "no family-1 collision found in search budget")
    val (ta, tb) = pair.get
    assert(ta != tb && hash(ta) == hash(tb))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    mem.addData((1L, ta, ts(10)), (2L, tb, ts(20)))
    val q = DocStream.nearDupGate(docs).select("doc_id")
      .writeStream.trigger(Trigger.AvailableNow()).format("memory")
      .queryName("collision_out")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.awaitTermination(60000)
    val kept = spark.table("collision_out").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L),
      s"family-1 collision pair ($ta, $tb) must BOTH survive the 64-bit gate; got $kept")
  }

  test("nearDupGate: resuming a pre-version (r15 key-era) checkpoint fails loudly, not silently") {
    // The r15 32→64-bit key change kept the state KEY SCHEMA at
    // (long, long), so an old checkpoint resumed WITHOUT error and
    // silently admitted straddling near-dups for one watermark window.
    // The sketch_ver key column exists to close that class: replay the
    // old era here (the exact r15 key — sketch_key, sketch_len, no
    // version column), then resume the SAME checkpoint through the
    // current gate and require the state-schema check to refuse it.
    import org.apache.spark.sql.functions.{col, shiftleft, size}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    mem.addData((1L, "the quick brown fox jumps over the lazy dog", ts(10)))
    val oldEra = docs
      .withColumn("__ths", graft.llm.TextFns.tokenHashes(col("text")))
      .withColumn("__ths2", graft.llm.TextFns.tokenHashes2(col("text")))
      .withColumn("sketch_key",
        shiftleft(graft.llm.Dedup.simhashFromTokenHashes(col("__ths")), 32)
          .bitwiseOR(graft.llm.Dedup.simhashFromTokenHashes(col("__ths2"))))
      .withColumn("sketch_len", size(col("__ths")).cast("long"))
      .drop("__ths", "__ths2")
      .withWatermark("event_time", "10 minutes")
      .dropDuplicatesWithinWatermark("sketch_key", "sketch_len")
    // foreachBatch sinks: recoverable from a checkpoint, which the
    // memory sink is not (it refuses ANY resume — that failure would
    // shadow the state-schema check this test exists to pin)
    val ckpt = Files.createTempDirectory("ckpt_ver").toString
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    val q1 = oldEra.select("doc_id")
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.addAndGet(b.count()); () }
      .option("checkpointLocation", ckpt).start()
    q1.awaitTermination(60000)
    assert(seen.get() == 1L)
    // resume the same checkpoint under the current (versioned) key
    mem.addData((2L, "completely unrelated payload about spark plans", ts(20)))
    val q2 = DocStream.nearDupGate(docs).select("doc_id")
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.count(); () }
      .option("checkpointLocation", ckpt).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(120000); q2.processAllAvailable()
    }
    val msg = (ex.getMessage +
      Option(ex.getCause).map(_.toString).getOrElse("")).toLowerCase
    assert(msg.contains("schema") || msg.contains("compatib"),
      s"expected a state-schema incompatibility failure, got: $msg")
  }

  test("qualityGate streams statelessly and keeps only docs above the bar") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    mem.addData(
      (1L, "the quick brown fox jumps over a lazy dog and the cat is amused " * 3, ts(1)),
      (2L, "", ts(2)),
      (3L, "x x x x", ts(3)))
    val q = DocStream.qualityGate(docs, minQuality = 300L)
      .writeStream.trigger(Trigger.AvailableNow()).format("memory")
      .queryName("gate_out")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.awaitTermination(60000)
    val kept = spark.table("gate_out").select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L))
  }

  test("modelGate filters the stream with frozen classifier weights, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    // frozen model: hand weights, no training needed for the gate itself
    val weights = Map("good" -> 500L, "spam" -> -800L)
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    mem.addData(
      (1L, "good words here", ts(1)),          // +500 → kept
      (2L, "spam spam good", ts(2)),           // -1100 → dropped
      (3L, "neutral only tokens", ts(3)),      // 0 → dropped (strict >)
      (4L, "good good spam", ts(4)))           // +200 → kept
    val gated = DocStream.modelGate(docs, weights)
    // stateless: no stateful operator in the plan
    assert(!gated.queryExecution.analyzed.toString.toLowerCase
      .contains("deduplicate"))
    val q = gated.select("doc_id")
      .writeStream.trigger(Trigger.AvailableNow()).format("memory")
      .queryName("model_gate_out")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.awaitTermination(60000)
    val kept = spark.table("model_gate_out").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L), s"got $kept")
  }

  test("decontaminationGate drops stream docs sharing shingles with the static eval set") {
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((1L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    mem.addData(
      (30L, "zz alpha beta gamma yy", ts(1)),           // contaminated
      (31L, "nothing in common here at all", ts(2)),    // clean
      (32L, "alpha beta gamma delta", ts(3)),           // identical to eval
      (33L, "too short", ts(4)))                        // < k tokens: clean
    val gated = DocStream.decontaminationGate(docs, evalDocs)
    // stateless: the stream plan must contain no aggregation/state node
    val plan = gated.queryExecution.analyzed.toString.toLowerCase
    assert(!plan.contains("aggregate") && !plan.contains("join"))
    val q = gated
      .writeStream.trigger(Trigger.AvailableNow()).format("memory")
      .queryName("decon_out")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.awaitTermination(60000)
    val kept = spark.table("decon_out").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(31L, 33L))
  }

  test("curate composes all four gates: junk, contaminated, exact and near dups all drop") {
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    val good = "the quick brown fox jumps over a lazy dog and the cat is amused " * 3
    val good2 = "every sentence here is different and the words keep their own meanings " * 3
    mem.addData(
      (1L, good, ts(10)),                                // survives
      (2L, "x x x x", ts(20)),                           // junk: quality gate
      (3L, "zz alpha beta gamma yy " + good, ts(30)),    // contaminated: bloom gate
      (4L, good, ts(40)),                                // exact dup of 1
      // token reorder of 1: same multiset, different bytes — near-dup gate
      (5L, ("amused is cat the and dog lazy a over jumps fox brown quick the " * 3)
        .split(" ").mkString(" "), ts(50)),
      (6L, good2, ts(60)))                               // survives
    val gated = DocStream.curate(docs, evalDocs)
    assert(gated.columns.toSeq == Seq("doc_id", "text", "event_time"))
    // two chained dedup state machines, no join/aggregate in the plan
    val plan = gated.queryExecution.analyzed.toString.toLowerCase
    assert(plan.split("deduplicatewithinwatermark").length - 1 == 2, plan)
    // run MULTIPLE micro-batches: watermark chaining across two
    // stateful operators only fails when the SECOND batch is planned
    // ("Redefining watermark is disallowed") — a single AvailableNow
    // drain masked exactly that bug once
    val q = gated.select("doc_id")
      .writeStream.format("memory")
      .queryName("curate_out")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable()
    // batch 2: a cross-batch exact dup (within watermark) and a new doc
    mem.addData(
      (7L, good, ts(70)),                                // dup of 1, batch 2
      (8L, good2 + " extra distinct tail words", ts(80))) // survives
    q.processAllAvailable()
    q.stop()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val kept = spark.table("curate_out").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 6L, 8L), s"got $kept")
  }

  /** Doc ids across every live generation of an index, refreshed
    * first: the stream's appends, rotates and commits ran in its cloned
    * session, and this session's cached relations predate them —
    * standard Spark table-cache semantics, same as any cross-session
    * append. */
  private def indexedIds(name: String): Seq[Long] = {
    import graft.llm.LshIndex
    Seq(LshIndex.setsTable(name), LshIndex.mergingSetsTable(name),
        LshIndex.hotSetsTable(name))
      .filter(spark.catalog.tableExists)
      .flatMap { t =>
        spark.catalog.refreshTable(t)
        spark.table(t).select("doc_id").as[Long].collect().toSeq
      }
  }

  test("ingest: history gate drops near-dups of the stored corpus AND of earlier batches' survivors") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{LshIndex, LshMaintenance}
    import org.apache.spark.sql.functions.{col, countDistinct, hash => sqlHash, lit, pmod}
    val evalDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val seedText =
      "the history corpus keeps many distinct tokens and each one is meaningful here " * 3
    LshIndex.buildGen(Seq((1L, seedText)).toDF("doc_id", "text"), "ingest_idx")
    val corpusDir = Files.createTempDirectory("ingest_corpus").toString + "/corpus"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    val fresh1 =
      "a completely original batch payload and the words are quite useful inside " * 3
    val fresh2 =
      "another independent document is here and the vocabulary overlaps nobody else " * 3
    // every batch rotates its survivors into a merge, staged only when
    // the test releases it: the gate must see history through both
    // halves of the merge cycle (merging generation, then the
    // rewritten cold one)
    val exec = new DeferredExecutor
    val maint = new LshMaintenance(spark, "ingest_idx", exec)
    val q = DocStream.ingestGen(docs, evalDocs, "ingest_idx", corpusDir, maint,
        rotateEvery = 1, hotFractionPm = 0L)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      mem.addData(
        (101L, "dup " + seedText, ts(10)), // near-dup of the SEED corpus
        (102L, fresh1, ts(20)))            // survives, admitted to the index
      q.processAllAvailable()
      exec.runAll() // 102's merge staged; the next trigger commits it
      // batch 2: 201 near-dups a batch-1 SURVIVOR — not the seed corpus,
      // and its sketch differs from 102's (extra token), so neither the
      // seed index as-built nor the in-plan watermark gate can drop it:
      // only the per-batch append making the index grow catches it,
      // here from the freshly merged cold generation
      mem.addData(
        (201L, "dup " + fresh1, ts(30)),
        (202L, fresh2, ts(40)))            // survives
      q.processAllAvailable()
      // batch 3: near-dup of the batch-2 survivor while its merge is
      // still in flight (the merging generation holds it)
      mem.addData((301L, "dup " + fresh2, ts(50)))
      q.processAllAvailable()
    } finally {
      q.stop(); maint.close()
    }
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val stored = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(stored == Set(102L, 202L), s"got $stored")
    // the index admitted exactly the survivors on top of the seed
    val indexed = indexedIds("ingest_idx")
    assert(indexed.sorted == Seq(1L, 102L, 202L), s"got $indexed")
    // the committed merge left cold at one file per non-empty bucket
    val bandsT = LshIndex.bandsTable("ingest_idx")
    spark.catalog.refreshTable(bandsT)
    val (nFiles, _) = graft.sources.Bucketed.fileStats(spark, bandsT)
    val buckets = graft.sources.Bucketed.bucketCount(spark, bandsT)
    val nonEmpty = spark.table(bandsT)
      .select(countDistinct(pmod(sqlHash(col("band_key")), lit(buckets))))
      .collect().head.getLong(0)
    assert(nFiles == nonEmpty,
      s"the merge must compact cold: $nFiles files, $nonEmpty non-empty buckets")
  }

  test("FULL ingest loop survives a restart: history gate + exactly-once stores across recovery") {
    // the end-to-end recovery contract: a second query incarnation on
    // the SAME checkpoint must (a) not re-ingest the committed batch
    // (offset log), (b) still near-dup new arrivals against the FIRST
    // incarnation's survivors (the persisted index is the cross-
    // incarnation memory — no watermark state survives a restart for
    // this), and (c) leave corpus and index with exactly one row per
    // admitted doc (the dynamic batch_id partition overwrite +
    // self-healing gate, now exercised through the real checkpoint
    // machinery instead of a hand-called ingestBatchGen replay)
    import org.apache.spark.sql.types._
    import graft.llm.{LshIndex, LshMaintenance}
    val evalDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val seedText =
      "the restart corpus seed keeps many distinct tokens and each one is meaningful " * 3
    LshIndex.buildGen(Seq((1L, seedText)).toDF("doc_id", "text"),
      "ingest_restart_idx")
    val in = Files.createTempDirectory("ingest_restart_in").toString
    val ckpt = Files.createTempDirectory("ingest_restart_ckpt").toString
    val corpusDir =
      Files.createTempDirectory("ingest_restart_c").toString + "/corpus"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("event_time", TimestampType)))
    val fresh1 =
      "a completely original first payload and the words are quite useful inside " * 3
    val fresh2 =
      "another independent later document and the vocabulary overlaps nobody else " * 3
    def run(): Unit = {
      // each incarnation is a fresh process as far as maintenance goes
      val maint = new LshMaintenance(spark, "ingest_restart_idx")
      val q = DocStream.ingestGen(
        spark.readStream.schema(schema).csv(in), evalDocs,
        "ingest_restart_idx", corpusDir, maint)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally maint.close()
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    Files.writeString(java.nio.file.Path.of(in, "a.csv"),
      s"""101,"dup $seedText",2026-01-01T00:00:10.000Z\n""" +
        s"""102,"$fresh1",2026-01-01T00:00:20.000Z""")
    run() // incarnation 1: 101 drops (seed near-dup), 102 admitted
    Files.writeString(java.nio.file.Path.of(in, "b.csv"),
      s"""201,"dup $fresh1",2026-01-01T00:01:00.000Z\n""" +
        s"""202,"$fresh2",2026-01-01T00:01:10.000Z""")
    run() // incarnation 2, same checkpoint: 201 is a near-dup of the
          // FIRST incarnation's survivor — only the stored index knows
    val corpus = spark.read.parquet(corpusDir).select("doc_id")
      .as[Long].collect().toSeq
    assert(corpus.sorted == Seq(102L, 202L),
      s"corpus must hold each survivor exactly once, got $corpus")
    val indexed = indexedIds("ingest_restart_idx")
    assert(indexed.sorted == Seq(1L, 102L, 202L),
      s"index must hold seed + survivors exactly once, got $indexed")
  }

  test("dedup state survives a restart: a post-recovery duplicate is still dropped") {
    // the state store holds content digests; if only source offsets
    // recovered (and not state), the batch-2 duplicate would pass
    import org.apache.spark.sql.types._
    val in = Files.createTempDirectory("docdedup_in").toString
    val ckpt = Files.createTempDirectory("docdedup_ckpt").toString
    val outDir = Files.createTempDirectory("docdedup_out").toString + "/out"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("event_time", TimestampType)))
    def stream() = spark.readStream.schema(schema).csv(in)
    Files.writeString(java.nio.file.Path.of(in, "a.csv"),
      "1,duplicated content,2026-01-01T00:00:00.000Z\n" +
        "2,other content,2026-01-01T00:00:01.000Z")
    val q1 = DocStream.dedupDocs(stream())
      .select("doc_id", "text")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(60000)
    assert(spark.read.parquet(outDir).count() == 2)
    // doc 3 duplicates doc 1's content, inside the 10-minute watermark
    Files.writeString(java.nio.file.Path.of(in, "b.csv"),
      "3,duplicated content,2026-01-01T00:01:00.000Z\n" +
        "4,fresh content,2026-01-01T00:01:01.000Z")
    val q2 = DocStream.dedupDocs(stream())
      .select("doc_id", "text")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val ids = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 4L), s"got $ids")
  }

  test("bloom gate agrees with the distributed bloomContamination operator") {
    import graft.llm.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta"),                   // eval
      (30L, "zz alpha beta gamma yy"),
      (31L, "nothing in common here at all"),
      (32L, "alpha beta gamma delta"),
      (33L, "unrelated clean words with no trigram overlap at all")
    ).toDF("doc_id", "text")
    val distributed = Dedup.bloomContamination(docs, evalMaxId = 20L)
      .select("doc_id").as[Long].collect().toSet
    val filt = Dedup.bloomFilterArray(docs.filter($"doc_id" < 20L))
    val viaGate = docs.filter($"doc_id" >= 20L)
      .withColumn("__ths", graft.llm.TextFns.tokenHashes($"text"))
      .withColumn("__sh", graft.llm.TextFns
        .shingleHashSetFromTokenHashes($"__ths", Dedup.ShingleK))
      .filter(Dedup.bloomContaminated($"__sh", filt))
      .select("doc_id").as[Long].collect().toSet
    assert(viaGate == distributed)
  }

  test("ingestBatchGen replay: same (batch, batchId) twice ≡ once for corpus, index, and answers") {
    import graft.llm.{LshIndex, LshMaintenance}
    val seedText =
      "the replay seed corpus document carries plenty of distinct meaningful tokens " * 3
    val freshText =
      "an entirely new admitted document whose vocabulary stands alone in this test " * 3
    LshIndex.buildGen(Seq((1L, seedText)).toDF("doc_id", "text"), "replay_idx")
    val maint = new LshMaintenance(spark, "replay_idx", new DeferredExecutor)
    val corpusDir = Files.createTempDirectory("replay_corpus").toString + "/corpus"
    val batch = Seq(
      (10L, freshText, ts(10)),          // survives → corpus + index
      (11L, "dup " + seedText, ts(11))   // near-dup of the seed → gated
    ).toDF("doc_id", "text", "event_time")

    def snapshot(): (Set[(Long, Long)], Long, Long, Set[(Long, Long, Long, Long)]) = {
      // partition-column inference may type batch_id int or long; pin long
      val corpus = spark.read.parquet(corpusDir)
        .select($"doc_id", $"batch_id".cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def rows(tables: String*) = tables.map(t => spark.table(t).count()).sum
      val nSets = rows(LshIndex.setsTable("replay_idx"),
        LshIndex.hotSetsTable("replay_idx"))
      val nBands = rows(LshIndex.bandsTable("replay_idx"),
        LshIndex.hotBandsTable("replay_idx"))
      // a probe near-dup of the ADMITTED doc — answered from the index
      val probe = Seq((500L, "dup " + freshText)).toDF("doc_id", "text")
      val ans = LshIndex.queryGen(probe, "replay_idx").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Long]("inter_size"), r.getAs[Long]("union_size"))).toSet
      (corpus, nSets, nBands, ans)
    }

    DocStream.ingestBatchGen(batch, 0L, "replay_idx", corpusDir, maint)
    val once = snapshot()
    assert(once._1.map(_._1) == Set(10L), s"corpus after first run: ${once._1}")
    assert(once._4.nonEmpty, "the admitted doc must be queryable from the index")
    // at-least-once replay: foreachBatch re-runs the SAME (batch, batchId)
    DocStream.ingestBatchGen(batch, 0L, "replay_idx", corpusDir, maint)
    assert(snapshot() == once,
      "replaying a committed batch must change no stored effect: " +
        s"once=$once twice=${snapshot()}")
  }

  test("ingestBatchGen: a merge spanning four triggers — gating stays correct through every phase, trigger path never pays the merge") {
    import graft.llm.{LshIndex, LshMaintenance}
    val name = "ingestgen_span_idx"
    val seedText =
      "the history corpus keeps many distinct tokens and each one is meaningful here " * 3
    def fresh(i: Int) =
      s"independent payload number $i with its own vocabulary nobody shares " +
        s"and unique trailing words alpha$i beta$i gamma$i delta$i " * 3
    LshIndex.buildGen(Seq((1L, seedText)).toDF("doc_id", "text"), name)
    val exec = new DeferredExecutor
    val maint = new LshMaintenance(spark, name, exec)
    val corpusDir = Files.createTempDirectory("ingestgen_corpus").toString + "/corpus"
    def runBatch(id: Long, rows: (Long, String)*): Unit =
      DocStream.ingestBatchGen(rows.toDF("doc_id", "text"), id, name,
        corpusDir, maint, rotateEvery = 2)
    // batch 0: near-dup of the SEED (cold gen) drops; fresh survives to hot
    runBatch(0, (101L, "dup " + seedText), (102L, fresh(1)))
    // batch 1: near-dup of a HOT survivor drops; cadence (1 % 2 == 1)
    // rotates hot aside and SUBMITS the merge — which the deferred
    // executor holds back, so the merge is now in flight
    runBatch(1, (201L, "dup " + fresh(1)), (202L, fresh(2)))
    assert(maint.mergeInFlight &&
      spark.catalog.tableExists(LshIndex.mergingSetsTable(name)))
    // batch 2: near-dup of a MERGING-generation survivor drops — the
    // in-flight merge is invisible to gating correctness
    runBatch(2, (301L, "dup " + fresh(2)), (302L, fresh(3)))
    // batch 3: cadence hits again but a merge is in flight — rotate is
    // a no-op (hot keeps absorbing), near-dup of the NEW hot drops
    runBatch(3, (401L, "dup " + fresh(3)), (402L, fresh(4)))
    assert(maint.mergeInFlight, "merge must still be in flight (spanned 3 triggers)")
    assert(spark.catalog.tableExists(LshIndex.mergingSetsTable(name)))
    // the maintenance thread finally finishes the O(corpus) stage
    exec.runAll()
    // batch 4: maybeCommit lands the renames at the TOP of the trigger;
    // a near-dup of a now-COLD doc still drops, fresh still survives
    runBatch(4, (501L, "dup " + fresh(1)), (502L, fresh(5)))
    assert(!maint.mergeInFlight &&
      !spark.catalog.tableExists(LshIndex.mergingSetsTable(name)))
    // stored effects: exactly the five fresh docs, partitioned by batch
    val stored = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(stored == Set(102L, 202L, 302L, 402L, 502L), s"got $stored")
    // layout: cold folded seed + the two pre-rotate survivors; the
    // post-rotate survivors live in hot awaiting the next cycle
    spark.catalog.refreshTable(LshIndex.setsTable(name))
    spark.catalog.refreshTable(LshIndex.hotSetsTable(name))
    assert(spark.table(LshIndex.setsTable(name))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 102L, 202L))
    assert(spark.table(LshIndex.hotSetsTable(name))
      .select("doc_id").as[Long].collect().toSet == Set(302L, 402L, 502L))
    // and the generational layout still answers exactly like a fresh
    // index over everything admitted
    LshIndex.buildGen(Seq((1L, seedText), (102L, fresh(1)), (202L, fresh(2)),
      (302L, fresh(3)), (402L, fresh(4)), (502L, fresh(5)))
      .toDF("doc_id", "text"), name + "_ref")
    val probe = Seq((901L, "dup " + fresh(2)), (902L, "dup " + fresh(4)),
      (903L, fresh(9))).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(LshIndex.queryGen(probe, name)) ==
      pairs(LshIndex.queryGen(probe, name + "_ref")))
  }

  test("LshMaintenance.recover resumes an interrupted merge after a restart") {
    import graft.llm.{LshIndex, LshMaintenance}
    val name = "ingestgen_rec_idx"
    val a = "the cold generation document with plenty of meaningful tokens inside " * 3
    val b = "a hot generation document whose words overlap nothing else at all " * 3
    LshIndex.buildGen(Seq((1L, a)).toDF("doc_id", "text"), name)
    LshIndex.appendHot(Seq((2L, b)).toDF("doc_id", "text"), name)
    val exec1 = new DeferredExecutor
    val maint1 = new LshMaintenance(spark, name, exec1)
    maint1.rotateAndStage()
    // "crash": the stage never ran (exec1 holds it); the process dies
    assert(spark.catalog.tableExists(LshIndex.mergingSetsTable(name)))
    // restart: a fresh maintenance driver re-stages the orphaned merge
    val exec2 = new DeferredExecutor
    val maint2 = new LshMaintenance(spark, name, exec2)
    maint2.recover()
    assert(maint2.mergeInFlight, "recover must resume the orphaned merge")
    exec2.runAll()
    maint2.maybeCommit()
    assert(!spark.catalog.tableExists(LshIndex.mergingSetsTable(name)))
    spark.catalog.refreshTable(LshIndex.setsTable(name))
    assert(spark.table(LshIndex.setsTable(name))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("ingestGen end-to-end on a real stream: background merges land while triggers flow") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{LshIndex, LshMaintenance}
    val name = "ingestgen_stream_idx"
    val evalDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val seedText =
      "the history corpus keeps many distinct tokens and each one is meaningful here " * 3
    def fresh(i: Int) =
      s"original streaming payload number $i with quite useful words inside " +
        s"and unique trailing tokens epsilon$i zeta$i eta$i theta$i " * 3
    LshIndex.buildGen(Seq((1L, seedText)).toDF("doc_id", "text"), name)
    // REAL daemon executor; slicing forced (auto would pick 1 slice at
    // this fixture size) so the per-bucket staged merge is exercised
    // under a live stream, not just the deterministic spec
    val maint = new LshMaintenance(spark, name, mergeSlices = 8)
    val corpusDir = Files.createTempDirectory("ingestgen_s_corpus").toString + "/corpus"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    val q = DocStream.ingestGen(docs, evalDocs, name, corpusDir, maint,
        rotateEvery = 1)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      mem.addData((101L, "dup " + seedText, ts(10)), (102L, fresh(1), ts(20)))
      q.processAllAvailable()
      mem.addData((201L, "dup " + fresh(1), ts(30)), (202L, fresh(2), ts(40)))
      q.processAllAvailable()
      // let the background stage land, then one more trigger commits it
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (maint.mergeInFlight && !maint.stageCompleted &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(!maint.mergeInFlight || maint.stageCompleted,
        "background stage never finished")
      mem.addData((301L, "dup " + fresh(2), ts(50)), (302L, fresh(3), ts(60)))
      q.processAllAvailable()
    } finally {
      q.stop(); maint.close()
    }
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val stored = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(stored == Set(102L, 202L, 302L), s"got $stored")
    // every admitted doc is in exactly one generation (which generation
    // depends on where the background merge was when the stream
    // stopped — cold, merging, or hot are all index-live)
    def gen(table: String): Set[Long] =
      if (spark.catalog.tableExists(table)) {
        spark.catalog.refreshTable(table)
        spark.table(table).select("doc_id").as[Long].collect().toSet
      } else Set.empty
    // the stream's commits ran in the streaming CLONE session, so this
    // session must refresh EVERY table it is about to read — the bands
    // tables too (queryGen below probes them): an unrefreshed bands
    // listing here pointed at files commit #1 dropped the moment a
    // mid-stage close() meant the maintenance thread's own refresh
    // never reached the bands pair
    Seq(LshIndex.bandsTable(name), LshIndex.mergingBandsTable(name),
        LshIndex.hotBandsTable(name))
      .filter(spark.catalog.tableExists)
      .foreach(spark.catalog.refreshTable)
    val cold = gen(LshIndex.setsTable(name))
    val merging = gen(LshIndex.mergingSetsTable(name))
    val hot = gen(LshIndex.hotSetsTable(name))
    assert((cold ++ merging ++ hot) == Set(1L, 102L, 202L, 302L) &&
      (cold & merging).isEmpty && (cold & hot).isEmpty &&
      (merging & hot).isEmpty,
      s"cold=$cold merging=$merging hot=$hot")
    // and the index still near-dups every admitted doc
    val probe = Seq((901L, "dup " + seedText), (902L, "dup " + fresh(1)),
      (903L, "dup " + fresh(2)), (904L, "dup " + fresh(3)))
      .toDF("doc_id", "text")
    assert(LshIndex.queryGen(probe, name)
      .select("doc_b").as[Long].collect().toSet ==
      Set(901L, 902L, 903L, 904L))
  }

  test("requestPurge under a LIVE ingestGen stream: defers in-flight, lands post-commit, gates stay correct throughout") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{LshIndex, LshMaintenance}
    val name = "ingestgen_purge_idx"
    val evalDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val seedText =
      "the history corpus keeps many distinct tokens and each one is meaningful here " * 3
    val otherSeed =
      "a different second seed whose vocabulary shares nothing kappa lambda mu nu xi omicron " * 3
    def fresh(i: Int) =
      s"original streaming payload number $i with quite useful words inside " +
        s"and unique trailing tokens epsilon$i zeta$i eta$i theta$i " * 3
    LshIndex.buildGen(
      Seq((1L, seedText), (2L, otherSeed)).toDF("doc_id", "text"), name)
    val maint = new LshMaintenance(spark, name, mergeSlices = 8)
    val corpusDir =
      Files.createTempDirectory("ingestgen_p_corpus").toString + "/corpus"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    val q = DocStream.ingestGen(docs, evalDocs, name, corpusDir, maint,
        rotateEvery = 1)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      // trigger 1: fresh docs admit (the seed near-dup texts must NOT
      // appear here — the stream's own exact/sketch dedup state would
      // then eat their trigger-2 reappearance before the history gate
      // ever saw it); batch 0 rotates, so a REAL background merge is
      // in flight afterwards
      mem.addData((101L, fresh(0), ts(10)), (102L, fresh(1), ts(20)))
      q.processAllAvailable()
      assert(maint.mergeInFlight, "batch 0 must have rotated into a merge")
      // the takedown arrives MID-MERGE: tombstone seed 1, request the
      // physical reclaim from this (non-trigger) thread
      LshIndex.delete(Seq(1L).toDF("doc_id"), name)
      maint.requestPurge()
      assert(maint.purgeIsPending)
      // trigger 2: the LOGICAL delete must already act — a near-dup of
      // the tombstoned seed admits, one of the live seed still drops —
      // whether or not the purge has landed yet
      mem.addData((201L, "dup " + seedText, ts(30)),
        (202L, "dup " + otherSeed, ts(40)))
      q.processAllAvailable()
      // drive triggers until the purge lands (stage completes on the
      // daemon; the first post-commit trigger runs commit THEN purge)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var i = 0L
      while (maint.purgeIsPending && System.nanoTime() < deadline) {
        mem.addData((300L + i, fresh(10 + i.toInt), ts(50 + i)))
        q.processAllAvailable()
        i += 1
      }
      assert(!maint.purgeIsPending,
        "purge never landed on a post-commit trigger")
    } finally {
      q.stop(); maint.close()
    }
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    // gate decisions were right at every trigger: 201 admitted (seed 1
    // tombstoned — the logical delete acted), 202 dropped (seed 2
    // still live)
    val stored = spark.read.parquet(corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(stored.contains(101L) && stored.contains(102L) &&
      stored.contains(201L) && !stored.contains(202L), s"got $stored")
    // the purged doc is PHYSICALLY absent from every generation of
    // both table families, and the tombstones are gone with it
    val tables = Seq(
      LshIndex.setsTable(name), LshIndex.mergingSetsTable(name),
      LshIndex.hotSetsTable(name), LshIndex.bandsTable(name),
      LshIndex.mergingBandsTable(name), LshIndex.hotBandsTable(name))
      .filter(spark.catalog.tableExists)
    tables.foreach(spark.catalog.refreshTable)
    for (t <- tables)
      assert(!spark.table(t).select("doc_id").as[Long].collect().contains(1L),
        s"purged doc_id 1 still physically present in $t")
    assert(LshIndex.tombstoneCount(spark, name) == 0L)
    // and the index still answers: the surviving seed and the admitted
    // docs match, the purged seed matches nothing
    val probe = Seq((901L, "dup " + otherSeed), (902L, "dup " + fresh(1)),
      (903L, "dup " + seedText)).toDF("doc_id", "text")
    val hits = LshIndex.queryGen(probe, name)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(hits.map(_._2).contains(901L) && hits.map(_._2).contains(902L))
    assert(!hits.exists(_._1 == 1L), "purged doc must match nothing")
    // 903 may match 201 (itself an admitted near-dup of the old seed)
    // but never the purged seed — asserted by the doc_a check above
  }

  /** An ExecutorService that HOLDS submitted tasks until the test
    * releases them — how a merge is made to span several triggers
    * deterministically. */
  private class DeferredExecutor extends java.util.concurrent.AbstractExecutorService {
    private val q = new java.util.concurrent.ConcurrentLinkedQueue[Runnable]
    def execute(r: Runnable): Unit = q.add(r)
    def runAll(): Unit = {
      var r = q.poll()
      while (r != null) { r.run(); r = q.poll() }
    }
    def shutdown(): Unit = ()
    def shutdownNow(): java.util.List[Runnable] =
      java.util.Collections.emptyList[Runnable]()
    def isShutdown: Boolean = false
    def isTerminated: Boolean = false
    def awaitTermination(timeout: Long, unit: java.util.concurrent.TimeUnit): Boolean = true
  }

  test("watermark evicts dedup state: numRowsRemoved > 0 once the horizon passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    val q = DocStream.dedupDocs(docs, watermark = "10 seconds")
      .select("doc_id")
      .writeStream.format("memory").queryName("evict_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, "first content", ts(0)), (2L, "second content", ts(5)))
      q.processAllAvailable()
      // jump event time far past the horizon: the next batch's watermark
      // (max event time − 10 s) expires both batch-1 digests
      mem.addData((3L, "third content", ts(1000)))
      q.processAllAvailable()
      // one more batch so the post-advance eviction is reported
      mem.addData((4L, "fourth content", ts(1010)))
      q.processAllAvailable()
      val removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0L,
        s"watermark must evict dedup state; progress said removed=$removed")
      // the eviction evidence the soak artifacts cite (round-6 ask #5)
      val series = q.recentProgress.flatMap(_.stateOperators)
        .map(so => s"""{"numRowsTotal":${so.numRowsTotal},""" +
          s""""numRowsUpdated":${so.numRowsUpdated},""" +
          s""""numRowsRemoved":${so.numRowsRemoved}}""")
      Files.writeString(java.nio.file.Path.of("artifacts/STATE_EVICTION.json"),
        s"""{"watermark":"10 seconds","totalRemoved":$removed,""" +
          s""""stateOperatorProgress":[${series.mkString(",")}]}\n""")
    } finally q.stop()
  }

  test("steady-state curate state stays BOUNDED by the watermark window") {
    // the round-12 plateau claim, asserted mechanically on a compressed
    // timeline: feed unique docs whose event time advances 5 s per
    // batch under a 10 s watermark — entries live ~3 batches
    // (delay/step + watermark-lag batch), so across the TWO state
    // stores (digest + sketch) steady-state rows must stay under
    // 2 stores × (liveBatches + 2 slack) × K, far below the
    // 2 × totalBatches × K a monotone fill would reach.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    val evalDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val q = DocStream.curate(docs, evalDocs, watermark = "10 seconds")
      .select("doc_id")
      .writeStream.format("memory").queryName("steady_out")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    val K = 40
    val nBatches = 12
    try {
      for (b <- 0 until nBatches) {
        mem.addData((0 until K).map { i =>
          val id = b * 1000L + i
          (id, s"batch $b row $i the unique payload token${id * 7}", ts(5L * b))
        }: _*)
        q.processAllAvailable()
      }
      val totals = q.recentProgress
        .filter(_.numInputRows > 0)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      val steadyBound = 2L * 5 * K
      val monotoneFill = 2L * nBatches * K
      // fill phase is allowed; the TAIL must sit under the window bound
      val tail = totals.takeRight(totals.length / 3)
      assert(tail.nonEmpty && tail.max <= steadyBound,
        s"steady-state state rows ${tail.max} exceed window bound " +
          s"$steadyBound (monotone fill would reach $monotoneFill); " +
          s"series=${totals.mkString(",")}")
      // and eviction genuinely ran (this is not an empty-state artifact)
      val removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0L, "no eviction observed — bound proves nothing")
    } finally q.stop()
  }

  test("watermark evicts nearDupGate sketch state too: numRowsRemoved > 0") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "event_time")
    val q = DocStream.nearDupGate(docs, watermark = "10 seconds")
      .select("doc_id")
      .writeStream.format("memory").queryName("evict_ndg_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, "first sketchable content here", ts(0)),
        (2L, "second sketchable content there", ts(5)))
      q.processAllAvailable()
      mem.addData((3L, "third content far in the future", ts(1000)))
      q.processAllAvailable()
      mem.addData((4L, "fourth content even later", ts(1010)))
      q.processAllAvailable()
      val removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0L,
        s"watermark must evict sketch state; progress said removed=$removed")
    } finally q.stop()
  }
}
