package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted lifecycle of MinHash near-dup detection — the dedup
  * twin of [[AnnIndex]]. [[Dedup.minhashDedup]] re-shingles and
  * re-signs the WHOLE corpus inside every query plan, which is right
  * for an oracle-checked one-shot and wrong for how dedup actually
  * runs at 100 TB: the corpus is an accumulating store and every new
  * crawl batch must be checked against it (and then join it). The
  * corpus-sized hashing pass should be paid once per document ever,
  * not once per batch.
  *
  * Every index is GENERATIONAL. Each generation persists the two
  * halves through [[graft.sources.Bucketed]]:
  *   - `<name>_sets`  — (doc_id, sh): each doc's distinct shingle-hash
  *     set, BUCKETED on doc_id — the verification join's key is the
  *     physical layout;
  *   - `<name>_bands` — (doc_id, band, band_key): the LSH band keys,
  *     BUCKETED on band_key — the candidate join's key is the physical
  *     layout, so probing never reshuffles the corpus side, only the
  *     (small) incoming batch.
  * [[buildGen]] writes the COLD generation (those two tables) and an
  * empty HOT one (`_hot` suffix); [[appendHot]] admits batches into
  * hot; [[rotateHot]] → [[mergeStage]] → [[mergeCommit]] folds hot into
  * cold (the MERGING generation holds it in between). A freshly built
  * index is just the case with an empty hot tier, so one read path
  * serves every caller, from the oracle queries to the ingest loop.
  *
  * [[queryGen]] answers "which stored docs is each new doc a near-dup
  * of" from the stored tables alone; [[gateGen]] is its kept side.
  * Both tables are per-doc deterministic derivations, so
  * buildGen(A) + appendHot(B) ≡ buildGen(A ∪ B) unconditionally (no
  * analog of [[AnnIndex]]'s seed-placement caveat — there are no
  * trained parameters), and the composed incremental flow is exactly
  * the batch semantics: minhashDedup(A ∪ B) = minhashDedup(A) ∪
  * queryGen(B vs index(A)) ∪ minhashDedup(B) pair-for-pair, because
  * LSH candidate generation and Jaccard verification are both
  * per-pair. LshIndexSpec and GenerationalLshSpec pin these
  * equalities against the from-scratch batch operator; the cross-batch
  * slice is additionally oracle-checked end-to-end (`lsh_index_query`
  * builds the index on the base corpus, queries the injected near-dup
  * batch against the STORED tables, and must reproduce DuckDB's
  * from-scratch band math row-for-row).
  *
  * [[bucketStatsGen]] is the maintenance signal (the
  * [[AnnIndex.cellStats]] analog): per-generation, per-band bucket
  * occupancy. A hot band bucket is the LSH failure mode — a bucket of
  * c docs contributes c·(c−1)/2 candidate pairs to every future query,
  * so `max_bucket`/`cand_pairs` growing superlinearly in corpus size
  * says the band hashes have collapsed (degenerate text, too-coarse
  * signature) and verification cost, not recall, is about to dominate.
  */
object LshIndex {

  def setsTable(name: String): String = name + "_sets"
  def bandsTable(name: String): String = name + "_bands"
  def tombstonesTable(name: String): String = name + "_tombstones"

  /** The SIZING RULE for an index's bucket count, applied when
    * [[buildGen]] gets `buckets = 0` (the default): bucket
    * count is the index's parallelism ceiling, not just layout — a
    * bucketed scan cannot split a bucket across tasks, so the gate's
    * corpus-side probe joins AND the background merge's per-bucket
    * write stage run at most `buckets`-wide. The r16 soaks measured
    * the cliff directly: at 20 k docs/s over 600 s, 8 buckets held
    * 92% of feed with 124 s merge-window batches while 32 buckets
    * held 95.7% with every batch ≤27 s — identical code, the bucket
    * count was the knob. So the default is `max(8, session cores)`
    * (floor 8 keeps tiny fixtures from writing 1-file tables); a
    * cluster deployment sizes to TOTAL cores × a small multiple,
    * passed explicitly. */
  def defaultBuckets(spark: SparkSession): Int =
    math.max(8, spark.sparkContext.defaultParallelism)

  private def resolveBuckets(spark: SparkSession, buckets: Int): Int =
    if (buckets > 0) buckets else defaultBuckets(spark)

  /** DELETE from the index — the right-to-be-forgotten path a training
    * corpus store must have (a takedown/GDPR request cannot wait for,
    * or pay, a corpus-sized rewrite): the doc_ids land in a TOMBSTONE
    * table (tiny — one long per deleted doc) and every subsequent
    * [[queryGen]]/[[gateGen]] excludes tombstoned stored docs via a broadcast
    * anti-join on the CANDIDATE set (the cheapest correct point: a
    * tombstoned hot doc stops costing verification immediately). The
    * physical rows survive until [[purgeDeleted]] — the same
    * logical-delete-then-compact contract every LSM/lakehouse store
    * uses, because the delete itself must be O(|deleted|), not
    * O(|corpus|). Idempotent: re-deleting an id appends a duplicate
    * tombstone row, which `distinct` at read time absorbs. */
  def delete(docIds: DataFrame, name: String): Unit = {
    docIds.select(col("doc_id")).distinct()
      .write.mode("append").format("parquet")
      .saveAsTable(tombstonesTable(name))
  }

  /** The tombstone set, when any delete has happened. */
  private def tombstones(spark: SparkSession, name: String): Option[DataFrame] =
    if (spark.catalog.tableExists(tombstonesTable(name)))
      Some(spark.table(tombstonesTable(name)).select("doc_id").distinct())
    else None

  /** Anti-join `df` against the tombstones on `key` (no-op when no
    * delete has happened). Tombstones broadcast: a delete set is
    * request-sized, never corpus-sized. */
  private def excludeDeleted(df: DataFrame, name: String,
                             key: String): DataFrame =
    tombstones(df.sparkSession, name).fold(df) { t =>
      df.join(broadcast(t.withColumnRenamed("doc_id", key)), Seq(key),
        "left_anti")
    }

  /** Physically drop tombstoned rows from both bucketed tables and
    * clear the tombstone table — the delete's physical half, run on
    * the maintenance cadence; afterwards [[queryGen]] answers
    * identically but without the per-query anti-join. Fault-tolerant
    * through [[graft.sources.Bucketed.rewriteInPlace]]: survivors
    * are staged to a `__compact` table
    * while the live table still exists, then swapped in via
    * RENAME-RENAME-DROP — no crash point loses the index (the
    * round-13 DROP-then-rewrite version destroyed it on any failure
    * between the DROP and the rewrite, and its localCheckpoint of the
    * survivors both leaked blocks and died with a lost executor).
    * Tombstones are dropped only AFTER all swaps succeed — a crash
    * between table rewrites leaves them in place, so queries stay
    * correct via the anti-join and the purge simply reruns.
    * LshIndexSpec pins query-before ≡ query-after.
    *
    * GENERATIONAL indexes: every generation's tables are rewritten —
    * a cold-only purge would drop the tombstones while deleted rows
    * still sit physically in hot, and those rows would MATCH AGAIN
    * the moment the anti-join disappeared (resurrection;
    * GenerationalLshSpec pins the non-resurrection). Refused while a
    * merge is in flight: the background stage reads cold + merging
    * concurrently, so a purge racing it could land rewrites the
    * commit then overwrites with pre-purge rows — after the
    * tombstones were dropped. Purge between merges (queries are
    * correct either way via the anti-join; only the PHYSICAL reclaim
    * waits).
    *
    * CONCURRENCY CONTRACT: the merge-in-flight require is a
    * check-then-act with no lock — it can only be trusted from the
    * index's SINGLE WRITER. Under a live [[graft.streaming.DocStream
    * .ingestGen]] stream that writer is the trigger thread: a purge
    * racing it from another thread could interleave with a rotate
    * (hot rows escape to merging after the hot-table rewrite already
    * ran — resurrection, the exact state the require exists to block)
    * or with an appendHot between the staged read and the swap
    * (appended rows silently lost). So either call this with the
    * stream quiescent, or hand it to the stream's own
    * [[LshMaintenance.requestPurge]], which runs it on the trigger
    * thread between batches — the same single-writer reasoning
    * rotate/stage/commit already rely on (LshMaintenanceSpec pins the
    * deferral around an in-flight merge). */
  def purgeDeleted(spark: SparkSession, name: String): Unit =
    tombstones(spark, name).foreach { tomb =>
      require(!spark.catalog.tableExists(mergingSetsTable(name)) &&
          !spark.catalog.tableExists(mergingBandsTable(name)),
        s"index $name has a merge in flight - purge after mergeCommit " +
          "(or repairGen): a purge racing the staged merge would " +
          "resurrect deleted rows")
      // a table without data files has nothing to purge
      generationTables(spark, name).filter { case (t, _) => hasFiles(spark, t) }
        .foreach { case (t, key) =>
          graft.sources.Bucketed.rewriteInPlace(spark, t, key,
            _.join(broadcast(tomb), Seq("doc_id"), "left_anti"))
        }
      spark.sql(s"DROP TABLE IF EXISTS ${tombstonesTable(name)}")
    }

  /** MIGRATE a live index to a new bucket count — the operational
    * answer to the measured fact that bucket count is the index's
    * parallelism ceiling ([[defaultBuckets]]): an index built at a
    * historical default would otherwise need a from-scratch rebuild
    * (re-shingling the whole corpus) to reach the sizing rule, when
    * the stored sets/bands rows are already exactly what the new
    * layout needs. Every live generation's table is staged under the
    * new count ([[graft.sources.Bucketed.rewriteInPlace]]'s
    * `newBuckets` — identity transform, so this is one
    * repartition-and-write per table, no hashing pass) and swapped in
    * via the standard RENAME-RENAME-DROP; hot is rewritten too, so
    * the next [[rotateHot]]/[[mergeStage]] cycle's bucket-count
    * equality `require` holds and [[createEmptyHot]] inherits the new
    * spec from cold. Tombstones are untouched (they are unbucketed
    * and survive verbatim); queries answer identically before and
    * after — GenerationalLshSpec pins 8→32 mid-lifecycle with
    * tombstones live, row-for-row.
    *
    * REFUSED while a merge is in flight, same reasoning and same
    * single-writer contract as [[purgeDeleted]]: the staged merge
    * path-reads both sides' files per bucket under the OLD count, and
    * a rebucket swapping tables under it would at best fail the
    * equality require and at worst slice against a stale listing.
    * Under a live [[graft.streaming.DocStream.ingestGen]] stream,
    * route through [[LshMaintenance.requestRebucket]] — it runs this
    * on the trigger thread between merges. */
  def rebucket(spark: SparkSession, name: String, newBuckets: Int): Unit = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    require(!spark.catalog.tableExists(mergingSetsTable(name)) &&
        !spark.catalog.tableExists(mergingBandsTable(name)),
      s"index $name has a merge in flight - rebucket after mergeCommit " +
        "(or route through LshMaintenance.requestRebucket): the staged " +
        "merge slices files under the old bucket count")
    generationTables(spark, name).foreach { case (t, key) =>
      graft.sources.Bucketed.rewriteInPlace(spark, t, key, identity,
        newBuckets = newBuckets)
    }
  }

  /** (table, bucket key) of every generation a between-merges rewrite
    * ([[purgeDeleted]], [[rebucket]]) must cover: cold, plus hot when
    * both its halves exist (a half-rotated crash state leaves one;
    * [[repairGen]] heals it). */
  private def generationTables(spark: SparkSession, name: String)
      : Seq[(String, String)] =
    Seq(setsTable(name) -> "doc_id", bandsTable(name) -> "band_key") ++
      (if (spark.catalog.tableExists(hotSetsTable(name)) &&
           spark.catalog.tableExists(hotBandsTable(name)))
        Seq(hotSetsTable(name) -> "doc_id", hotBandsTable(name) -> "band_key")
      else Nil)

  /** Near-dup pairs between a NEW batch's (sets, bands) and ONE stored
    * generation: candidates from band-key collisions against the
    * stored bands table, deduped BEFORE verification, then
    * exact-Jaccard verified against the stored sets table. Output:
    * (doc_a = stored doc, doc_b = batch doc, inter_size, union_size),
    * one row per pair with Jaccard ≥ minJaccardPm/1000 — the same
    * integer cross-multiplied compare as [[Dedup.minhashDedup]].
    * [[queryGenFrom]] runs it once per generation over one shingling
    * of the batch.
    *
    * With `small` the batch side is explicitly BROADCAST in both the
    * candidate and verification joins: a batch is one trigger's worth
    * of docs while the corpus is unbounded, so the corpus side must
    * stream through linear scans with no shuffle and no sort. Left to
    * size estimates, a large batch tips the planner into sort-merge —
    * which re-sorts the ACCUMULATING corpus tables on every probe, a
    * per-batch cost that grows with corpus size (the ingest soak
    * measured the cliff: throughput fell as the corpus grew,
    * superlinearly with batch size).
    *
    * Above [[queryGen]]'s `maxBroadcastDocs` the broadcast contract
    * would break (Spark's 8 GB broadcast cap ≈ 10M docs' band rows,
    * and every executor holds a copy), so the hints are DROPPED and
    * the planner falls back to shuffle joins. The corpus side still
    * never reshuffles: the bands table's HashPartitioning(band_key)
    * already satisfies the candidate join's clustered distribution
    * over (band, band_key) — band_key is a subset of the join keys —
    * and the sets table is bucketed on doc_a's key, so only the BATCH
    * side exchanges. */
  private def queryAgainst(newSets: DataFrame, newBands: DataFrame,
                           storedSets: DataFrame, storedBands: DataFrame,
                           name: String, minJaccardPm: Int,
                           small: Boolean): DataFrame = {
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df
    // NO doc_id-inequality guard (deliberately unlike minhashDedup's
    // self-join): stored and batch are DIFFERENT relations, so an
    // equal-id pair is either a caller namespace accident or a
    // redelivery of an already-admitted row — in both cases the
    // content IS in the corpus and flagging is correct. The guard this
    // replaced silently masked true near-dups whenever a batch id
    // happened to equal its stored partner's id (caught by the ingest
    // soak: feed ids overlapped the seed range and every first-seen
    // near-dup of a same-id seed sailed through the gate).
    val cands = excludeDeleted(
      storedBands.as("a")
        .join(maybeBroadcast(newBands.as("b")),
          col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct(),
      name, "doc_a")
    maybeBroadcast(cands)
      .join(storedSets
        .select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(maybeBroadcast(newSets
        .select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter_size"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("union_size"))
      .filter(col("inter_size") * 1000L >= col("union_size") * minJaccardPm)
  }

  // ---- generations: appends land in a small HOT generation; the
  // trigger path only ever pays metadata renames ([[rotateHot]],
  // [[mergeCommit]]); the one O(corpus) pass ([[mergeStage]]) writes a
  // STAGED copy of the cold generation, which is race-free to run
  // outside the trigger because cold and merging receive no writes —
  // only hot does. Queries read every generation and union the
  // verified pairs (ids are disjoint by the append contract, so the
  // union is disjoint), and the answer equals the batch operator's
  // cross slice over the same corpus EXACTLY (bands/sets are per-doc
  // derivations — GenerationalLshSpec pins the equivalence through
  // every lifecycle phase). [[graft.llm.LshMaintenance]] drives
  // mergeStage from a maintenance thread and the commit from the next
  // trigger; [[graft.streaming.DocStream.ingestGen]] is the loop. ----

  def hotSetsTable(name: String): String = name + "_sets_hot"
  def hotBandsTable(name: String): String = name + "_bands_hot"
  def mergingSetsTable(name: String): String = name + "_sets_merging"
  def mergingBandsTable(name: String): String = name + "_bands_merging"

  /** Build and persist the index — the one corpus-sized
    * shingle/signature pass this corpus ever pays — as a cold
    * generation plus an empty hot one (same bucket specs). Bands
    * derive from the STORED sets table, so the two tables can never
    * disagree about a document's shingles. A rebuild over an existing
    * name is a normal operation (the answer to [[bucketStatsGen]]
    * drift), so stale state is cleared first: every generation's
    * tables, the tombstones, leftover staged tables, and a leftover
    * managed-table directory from a PREVIOUS session, which
    * `saveAsTable` would otherwise refuse (the in-memory catalog
    * forgets the table, the warehouse directory survives,
    * LOCATION_ALREADY_EXISTS).
    *
    * `buckets = 0` (the default) applies [[defaultBuckets]]' sizing
    * rule. Both writes repartition on the bucket key first, so a
    * fresh build lands EXACTLY one file per non-empty bucket — the
    * compacted ideal, and the invariant that keeps
    * `max_bucket_files` ([[bucketStatsGen]]) a pure append counter. */
  def buildGen(docs: DataFrame, name: String, buckets: Int = 0): Unit = {
    val spark = docs.sparkSession
    val n = resolveBuckets(spark, buckets)
    Seq(setsTable(name), bandsTable(name), tombstonesTable(name),
        hotSetsTable(name), hotBandsTable(name),
        mergingSetsTable(name), mergingBandsTable(name)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    Seq(setsTable(name), bandsTable(name))
      .foreach(graft.sources.Bucketed.clearStaged(spark, _))
    val sets = Dedup.shingleSets(docs)
    graft.sources.Bucketed.writeBucketed(
      sets.repartition(n, sets("doc_id")), setsTable(name), "doc_id", n)
    val bands = Dedup.lshBands(spark.table(setsTable(name)))
    graft.sources.Bucketed.writeBucketed(
      bands.repartition(n, bands("band_key")),
      bandsTable(name), "band_key", n)
    createEmptyHot(spark, name)
  }

  /** Create the empty hot tables with cold's schema and bucket spec —
    * pure catalog DDL, ZERO Spark jobs. The previous form wrote
    * `cold.limit(0)` through the bucketed writer: two full write jobs
    * (scan + commit protocol + _SUCCESS) per call, and this runs
    * inside [[rotateHot]] — the TRIGGER path of the generational
    * ingest loop, whose whole contract is "metadata only". Measured
    * ~0.15-0.25 s per empty write at sf0.1; the DDL is milliseconds.
    * An appended-to DDL table carries the identical bucket spec, so
    * [[appendHot]]'s spec check and the co-location contract are
    * unchanged (GenerationalLshSpec covers the full lifecycle). */
  private def createEmptyHot(spark: SparkSession, name: String): Unit = {
    def ddl(src: String, dst: String, key: String): Unit = {
      val n = graft.sources.Bucketed.bucketCount(spark, src)
      val schema = spark.table(src).schema.toDDL
      spark.sql(s"CREATE TABLE $dst ($schema) USING PARQUET " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS")
    }
    ddl(setsTable(name), hotSetsTable(name), "doc_id")
    ddl(bandsTable(name), hotBandsTable(name), "band_key")
  }

  /** Admit a batch into the HOT generation — the only tables the
    * ingest loop ever writes, so the cold merge can run concurrently.
    * The bucket counts are read from the STORED tables' catalog
    * entries, never a caller parameter — a caller guessing wrong would
    * make every subsequent append throw on the mismatched spec and
    * permanently stall an ingest loop built on this call.
    * `onePerBucket`: loop-shaped appends must not leave task-count
    * times bucket-count files per batch (see
    * [[graft.sources.Bucketed.appendBucketed]]). Caller contract:
    * batch doc_ids are disjoint from stored ones — same as any
    * append-only store. */
  def appendHot(docs: DataFrame, name: String): Unit = {
    val sets = Dedup.shingleSets(docs)
    sets.persist()
    try {
      val spark = sets.sparkSession
      graft.sources.Bucketed.appendBucketed(
        sets, hotSetsTable(name), "doc_id",
        graft.sources.Bucketed.bucketCount(spark, hotSetsTable(name)),
        onePerBucket = true)
      graft.sources.Bucketed.appendBucketed(
        Dedup.lshBands(sets), hotBandsTable(name), "band_key",
        graft.sources.Bucketed.bucketCount(spark, hotBandsTable(name)),
        onePerBucket = true)
    } finally sets.unpersist()
  }

  /** Whether a table has any data file — driver-side listing of its
    * own file index, no job. An empty generation contributes nothing
    * to a probe or a rewrite, so skipping it keeps a fresh index
    * (empty hot tier) as cheap as a single-generation one. */
  private def hasFiles(spark: SparkSession, table: String): Boolean =
    spark.table(table).inputFiles.nonEmpty

  /** Every live generation's (sets, bands) relations: cold, plus the
    * merging generation while a merge is in flight, plus hot. Each
    * optional generation is included only when its bands table has
    * data (no band rows, no candidates) and BOTH its tables exist:
    * a crash between [[rotateHot]]'s two renames leaves exactly one of
    * the merging/hot halves behind, and gating on one table alone made
    * queryGen THROW in that state (r14 advisor finding). In the
    * half-renamed state the stranded half's rows are invisible until
    * [[repairGen]] completes the rotate — which the generational
    * entry points run up front, so in practice the window is the
    * repair call itself. */
  private def generations(spark: SparkSession, name: String)
      : Seq[(DataFrame, DataFrame)] = {
    def both(sets: String, bands: String): Seq[(DataFrame, DataFrame)] =
      if (spark.catalog.tableExists(sets) && spark.catalog.tableExists(bands) &&
          hasFiles(spark, bands))
        Seq((spark.table(sets), spark.table(bands)))
      else Nil
    (spark.table(setsTable(name)), spark.table(bandsTable(name))) +:
      (both(mergingSetsTable(name), mergingBandsTable(name)) ++
        both(hotSetsTable(name), hotBandsTable(name)))
  }

  /** Heal the half-done metadata states a crash can leave, so every
    * row is visible to [[queryGen]] again — run once at
    * ingest-loop startup (crash-RECOVERY, not crash-safety: no state
    * here loses rows, they are just stranded in a skipped generation
    * until repaired):
    *
    *   - [[rotateHot]] died between its two renames → `_sets_merging`
    *     exists but `_bands_merging` does not, and the hot bands table
    *     is stranded: finish the rename, then recreate the empty hot
    *     generation the rotate was about to open.
    *   - [[mergeCommit]] died after the swaps but before dropping the
    *     merging generation → both generations hold the merged rows;
    *     queries stay CORRECT meanwhile ([[queryGenFrom]]'s distinct),
    *     and the repair is to drop the now-redundant merging tables —
    *     but only when a completed merge is provable: the staged
    *     tables consumed (no `__compact` left) AND the merging rows
    *     all present in cold. Proving containment costs a
    *     merging-sized anti-join; a plain re-merge (mergeStage +
    *     mergeCommit) converges to the same end state, so that is
    *     what the maintenance loop does and this repair only fixes
    *     the THROWING state. */
  def repairGen(spark: SparkSession, name: String): Unit = {
    val ms = spark.catalog.tableExists(mergingSetsTable(name))
    val mb = spark.catalog.tableExists(mergingBandsTable(name))
    val hs = spark.catalog.tableExists(hotSetsTable(name))
    val hb = spark.catalog.tableExists(hotBandsTable(name))
    if (ms && !mb && hb)
      spark.sql(s"ALTER TABLE ${hotBandsTable(name)} RENAME TO ${mergingBandsTable(name)}")
    // recreate whatever hot halves are missing (empty, cold's spec);
    // a lone surviving half is dropped first so the pair stays in step
    val hsNow = spark.catalog.tableExists(hotSetsTable(name))
    val hbNow = spark.catalog.tableExists(hotBandsTable(name))
    if (!hsNow || !hbNow) {
      Seq(hotSetsTable(name), hotBandsTable(name))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      createEmptyHot(spark, name)
    }
  }

  /** Near-dup pairs between a NEW batch and the stored corpus
    * ([[queryAgainst]]'s output shape), over every generation: the
    * batch is shingled ONCE (the dominant batch cost — persisted across
    * the per-generation probe joins and released after the caller's
    * action), each generation is probed with its own co-located joins,
    * and the verified pairs union (disjoint by the id contract).
    *
    * `maxBroadcastDocs` picks the probe joins' strategy (see
    * [[queryAgainst]]); the batch's row count is measured with one
    * `count()` — noise next to its shingling pass, and free when the
    * caller hands over a cached frame ([[graft.streaming.DocStream
    * .ingestBatchGen]] does). `maxBroadcastDocs <= 0` forces the
    * shuffle fallback (LshIndexSpec uses it to pin plan shape and
    * result equality on both sides of the threshold). */
  def queryGen(newDocs: DataFrame, name: String, minJaccardPm: Int = 800,
               maxBroadcastDocs: Long = 4L * 1000 * 1000): DataFrame =
    queryGenFrom(newDocs, name, minJaccardPm,
      newDocs.count() <= maxBroadcastDocs)

  /** [[queryGen]] with the broadcast decision already made — every
    * internal ACTION (the sizing count) happens in the callers BEFORE
    * this runs, because the last thing this does is register the
    * release-after-next-action listener on the batch caches: any
    * action between that registration and the caller's consuming one
    * would trip the one-shot listener and un-cache the shingle sets
    * the probe joins are about to read (the r14 gateGen bug — its
    * count-after-queryGen paid up to 3× re-shingling per trigger on
    * exactly the path built to make triggers cheap). */
  private def queryGenFrom(newDocs: DataFrame, name: String,
                           minJaccardPm: Int, small: Boolean): DataFrame = {
    val spark = newDocs.sparkSession
    val gens = generations(spark, name)
    val newSets = Dedup.shingleSets(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBands = Dedup.lshBands(newSets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Caches.releaseAfterNextAction(newSets, newBands)
    val pairs = gens
      .map { case (s, b) =>
        queryAgainst(newSets, newBands, s, b, name, minJaccardPm, small) }
      .reduce(_.unionByName(_))
    // While a merge is in flight the union CAN double-report a pair in
    // exactly one crash window: mergeCommit swapped both staged tables
    // but died before dropping the merging generation — its rows then
    // live in cold AND merging. The pairs are byte-identical there, so
    // a full-row distinct restores the no-crash answer; it costs one
    // result-sized (batch-bounded) shuffle and only when a merging
    // generation exists at plan time. The repartition is load-bearing:
    // the per-generation pair frames can inherit the bucketed tables'
    // HashPartitioning through the verification joins' aliases, and a
    // union whose children report the same partitioning plans its
    // dedup aggregate WITHOUT an exchange (partitions concatenate, so
    // cross-generation duplicates never meet — the mergeStage trap,
    // see its comment); an explicit repartition makes the clustering
    // genuine.
    if (mergingLive(spark, name))
      pairs.repartition(col("doc_a"), col("doc_b")).dropDuplicates()
    else pairs
  }

  /** Whether a COMPLETE merging generation is live (both tables — a
    * half-renamed rotate crash leaves only one; [[repairGen]] heals
    * it). */
  private def mergingLive(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(mergingSetsTable(name)) &&
      spark.catalog.tableExists(mergingBandsTable(name))

  /** History gate: the KEPT side of [[queryGen]] — the batch rows with
    * NO verified near-dup in any generation of the stored corpus, the
    * form an ingest loop actually consumes
    * ([[graft.streaming.DocStream.ingestGen]] runs it per
    * micro-batch). Docs with fewer than ShingleK tokens — empty, NULL,
    * or near-empty text — pass vacuously: they have no defined n-gram
    * Jaccard, so there is nothing to collide (the quality gate, not
    * the dedup gate, is what drops junk). The flagged set is
    * `distinct` BEFORE the anti join, so duplicate band collisions (or
    * duplicate index entries from a replayed append) cannot change the
    * kept set; it is bounded by the batch, so it follows the probe
    * joins' broadcast-vs-shuffle decision.
    *
    * The sizing count runs FIRST (see [[queryGenFrom]]): the next
    * action after this returns must be the caller's consuming one. */
  def gateGen(batch: DataFrame, name: String, minJaccardPm: Int = 800,
              maxBroadcastDocs: Long = 4L * 1000 * 1000): DataFrame = {
    val small = batch.count() <= maxBroadcastDocs
    val flagged = queryGenFrom(batch, name, minJaccardPm, small)
      .select(col("doc_b").as("doc_id")).distinct()
    batch.join(if (small) broadcast(flagged) else flagged,
      Seq("doc_id"), "left_anti")
  }

  /** Swap the hot generation aside for merging and open a fresh empty
    * hot — METADATA ONLY (two renames + two empty-table writes), the
    * operation a trigger can afford at any corpus size. One merge in
    * flight at a time: a second rotate before [[mergeCommit]] fails
    * loudly rather than orphaning a generation. NOT atomic: a crash
    * between the renames leaves a half-rotated state in which
    * [[generations]] skips both stranded halves (queries answer from
    * cold alone, no throw) until [[repairGen]] completes the rotate —
    * the generational ingest loop runs it at startup. */
  def rotateHot(spark: SparkSession, name: String): Unit = {
    require(!spark.catalog.tableExists(mergingSetsTable(name)),
      s"index $name already has a merge in flight - mergeCommit it first")
    spark.sql(
      s"ALTER TABLE ${hotSetsTable(name)} RENAME TO ${mergingSetsTable(name)}")
    spark.sql(
      s"ALTER TABLE ${hotBandsTable(name)} RENAME TO ${mergingBandsTable(name)}")
    createEmptyHot(spark, name)
  }

  /** The one O(corpus) pass, STAGED: write cold ∪ merging to the
    * staged `__compact` tables without touching the live ones. Safe to
    * run concurrently with [[appendHot]]/[[queryGen]]/[[gateGen]]
    * because neither input relation receives writes (appends go to the
    * fresh hot) and nothing is swapped yet — this is the call a
    * maintenance thread runs OUTSIDE the trigger. Row-level dedup
    * rides along: both tables are per-doc deterministic derivations,
    * so the byte-identical rows an at-least-once replayed append
    * leaves behind vanish losslessly — the merge is the garbage
    * collector for the ingest loop's failure window as well as for its
    * file counts.
    * Not idempotent-in-flight — rerunning after a crash restarts the
    * staged write from scratch, which is safe (clearStaged).
    *
    * SLICED, not monolithic (r16): one staged write of all of
    * cold ∪ merging is a single O(corpus) Spark job, and at 5–9 M
    * corpus rows the r15 600 s soak measured its 1–2 min window
    * contending for all 32 cores even at 1/9 FAIR pool weight —
    * trigger batch p95 spiked to 4.6× the inter-merge latency. The
    * FAIR scheduler interleaves between JOBS, so the fix is job
    * granularity: every copy of a key lives in its key's bucket (same
    * bucket count both tables — required below), so the merge
    * partitions cleanly into per-bucket slices. Each slice path-reads
    * exactly one bucket-group's files from both sides
    * ([[graft.sources.Bucketed.bucketFilesOf]] — file-level pruning,
    * no read amplification), dedups within the slice (complete: all
    * copies of a key share its slice), and appends to a `__staging`
    * table that becomes `__compact` only via the final RENAME — so
    * `__compact` existing still means "fully staged" and a crash
    * mid-slices leaves only `__staging` for clearStaged. `slices = 0`
    * (the default) picks the count ADAPTIVELY: enough slices to bound
    * each sub-job at ~[[MergeSliceRows]] rows, capped at the bucket
    * count — so a small merge stays ONE job (per-job scheduling
    * overhead measured 2× on the sf0.1 oracle lifecycle constructors
    * when every merge was fully sliced) while a multi-million-row
    * merge gets bounded slices exactly where the contention lives;
    * `slices >= 1` forces that count (specs pin sliced ≡ monolithic
    * with it; the deciding row counts are parquet metadata reads, off
    * the trigger path). A parse failure of any bucket filename falls
    * back to the monolithic plan rather than dropping rows. Path
    * reads report UnknownPartitioning, so every slice's
    * dedup plans a genuine exchange — immune by construction to the
    * union-of-co-bucketed-scans trap the monolithic plan must dodge
    * via [[graft.sources.Bucketed.readUnbucketed]] (cross-table
    * duplicates silently surviving dropDuplicates; pinned in
    * BucketedJoinSpec, caught here as 501 rows where 334 were
    * correct). */
  /** Target rows per background-merge slice under `slices = 0`
    * (auto): ~2 M rows keeps each sub-job in the ~10 s class on 32
    * cores — comparable to a trigger batch, so the FAIR scheduler can
    * interleave trigger jobs at slice boundaries (the r15 600 s soak's
    * 35-70 s merge-window spikes were one monolithic all-cores job). */
  val MergeSliceRows: Long = 2L * 1000 * 1000

  /** [[MergeSliceRows]] expressed in stored bytes — the form the auto
    * slice decision actually reads, from file-index metadata instead
    * of count() jobs (~32 bytes/row across the slim snappy-parquet
    * sets/bands tables, measured on the r16 soak states). */
  val MergeSliceBytes: Long = MergeSliceRows * 32L

  def mergeStage(spark: SparkSession, name: String, slices: Int = 0): Unit = {
    require(spark.catalog.tableExists(mergingSetsTable(name)),
      s"index $name has no merge in flight - rotateHot first")
    // refresh every input in THIS session, up front: the previous
    // cycle's commit ran its swaps/drops in the TRIGGER session, and a
    // re-used table NAME (merging is always `<name>_*_merging`) leaves
    // this session's relation cache pointing at the previous
    // generation's deleted files. The monolithic path only needed the
    // cold refresh (its merging side was a fresh path read); the
    // sliced path lists merging's files through the catalog too, and
    // the first real-stream run of an unrefreshed slice read died on
    // the old generation's uuids (FAILED_READ_FILE.FILE_NOT_EXIST —
    // DocStreamSpec's real-stream case caught it).
    Seq(setsTable(name), mergingSetsTable(name),
        bandsTable(name), mergingBandsTable(name))
      .foreach(spark.catalog.refreshTable)
    Seq((setsTable(name), mergingSetsTable(name), "doc_id"),
        (bandsTable(name), mergingBandsTable(name), "band_key"))
      .foreach { case (live, merging, key) =>
        graft.sources.Bucketed.clearStaged(spark, live)
        val buckets = graft.sources.Bucketed.bucketCount(spark, live)
        require(graft.sources.Bucketed.bucketCount(spark, merging) == buckets,
          s"$live and $merging disagree on bucket count - per-bucket " +
            "slicing (and co-location itself) needs one spec")
        val k =
          if (slices > 0) math.min(slices, buckets)
          else {
            // slice-count decision from file-index METADATA (summed
            // file lengths), not count() jobs: the auto mode used to
            // spend two full count jobs per table pair (4 per
            // mergeStage) deciding a heuristic number. ~32 bytes/row
            // on these slim snappy-parquet tables maps MergeSliceRows
            // to MergeSliceBytes; the explicit `slices` override (and
            // the specs that pin sliced ≡ monolithic) are unchanged.
            val bytes = Seq(live, merging).map { t =>
              val files = spark.table(t).inputFiles
              val conf = spark.sparkContext.hadoopConfiguration
              files.map { f =>
                val p = new org.apache.hadoop.fs.Path(f)
                p.getFileSystem(conf).getFileStatus(p).getLen
              }.sum
            }.sum
            math.min(buckets.toLong,
              math.max(1L, (bytes + MergeSliceBytes - 1) / MergeSliceBytes)).toInt
          }
        val filesBySide =
          if (k > 1) for {
            lv <- graft.sources.Bucketed.bucketFilesOf(spark, live, buckets)
            mg <- graft.sources.Bucketed.bucketFilesOf(spark, merging, buckets)
          } yield (lv, mg)
          else None
        filesBySide match {
          case Some((lv, mg)) =>
            val staging = live + "__staging"
            graft.sources.Bucketed.writeBucketed(
              spark.table(live).limit(0), staging, key, buckets)
            // the catalog's schema spares each slice an inference job
            val schema = spark.table(live).schema
            for (slice <- 0 until k) {
              val paths = (slice until buckets by k)
                .flatMap(b => lv.getOrElse(b, Nil) ++ mg.getOrElse(b, Nil))
              if (paths.nonEmpty) {
                val rows = spark.read.schema(schema).parquet(paths: _*).dropDuplicates()
                graft.sources.Bucketed.appendBucketed(
                  rows.repartition(buckets, rows(key)), staging, key, buckets)
              }
            }
            spark.sql(s"ALTER TABLE $staging RENAME TO ${live}__compact")
          case None =>
            // monolithic fallback: the merging side reads UNBUCKETED to
            // force the genuine dedup exchange (the trap above)
            val rows = spark.table(live)
              .unionByName(graft.sources.Bucketed.readUnbucketed(spark, merging))
              .dropDuplicates()
            graft.sources.Bucketed.writeBucketed(
              rows.repartition(buckets, rows(key)),
              live + "__compact", key, buckets)
        }
      }
  }

  /** Commit a staged merge: swap both staged tables into the cold
    * generation and drop the merging generation — METADATA ONLY, the
    * trigger-affordable half. Queries stay correct through every
    * phase: before the swap they read cold ∪ merging ∪ hot; after it
    * the same rows live in cold ∪ hot (GenerationalLshSpec pins the
    * equivalence). A crash between the swaps leaves the standard
    * recoverable `__old`/`__compact` pair plus the merging tables —
    * queries keep answering (merging still read), and re-running
    * mergeStage+mergeCommit converges. A crash AFTER the swaps but
    * before the drops leaves the merged rows readable twice (cold and
    * merging) — [[queryGenFrom]]'s full-row distinct keeps the answer
    * identical, and re-running mergeStage+mergeCommit converges
    * (mergeStage's dropDuplicates absorbs the overlap). */
  def mergeCommit(spark: SparkSession, name: String): Unit = {
    require(spark.catalog.tableExists(setsTable(name) + "__compact") &&
        spark.catalog.tableExists(bandsTable(name) + "__compact"),
      s"index $name has no staged merge - mergeStage first")
    graft.sources.Bucketed.swapStaged(spark, setsTable(name))
    graft.sources.Bucketed.swapStaged(spark, bandsTable(name))
    Seq(mergingSetsTable(name), mergingBandsTable(name)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  /** Pending tombstones (0 when no delete has happened, or right
    * after a purge) — the purge-debt signal [[LshMaintenance.recover]]
    * re-arms a pending purge from. */
  def tombstoneCount(spark: SparkSession, name: String): Long =
    tombstones(spark, name).fold(0L)(_.count())

  /** The index's maintenance signal: per-generation band-bucket
    * occupancy, tagged cold/merging/hot — the maintenance scheduler's
    * view of WHERE the corpus (and its candidate-pair load) currently
    * lives. The operative readings: `hot`'s share growing past the
    * rotation policy's intent says the ratio gate or cadence is
    * mistuned; a `merging` generation persisting across many readings
    * says the staged merge is starved (pool weight) or dead (the
    * stream's next trigger will surface the failure); per-generation
    * `max_bucket`/`cand_pairs` localize a band-hash collapse to the
    * recent (hot) slice vs the historical corpus. Three slim
    * aggregations, each riding its bands table's own bucket key —
    * no trap-prone cross-table aggregate (the union is the OUTPUT).
    *
    * `max_bucket_files` (per generation, repeated on each band row
    * like a table-level column) is the PHYSICAL parallelism-pressure
    * signal: the deepest per-bucket file stack of that generation's
    * bands table. [[buildGen]]/[[mergeStage]]/[[rebucket]]
    * leave exactly 1; every `onePerBucket` append adds exactly 1 to
    * each bucket it touches — so the hot generation's reading counts
    * appends since the last rotate, and a value far above the rotate
    * cadence means appends are NOT landing one-file-per-bucket (the
    * tasks×buckets explosion the r16 soak first observed as a dying
    * run; now it is a stats-query reading). Driver-side file-listing
    * math over the scan's own resolved file index — no data read. */
  def bucketStatsGen(spark: SparkSession, name: String): DataFrame =
    Seq("cold" -> bandsTable(name), "merging" -> mergingBandsTable(name),
        "hot" -> hotBandsTable(name))
      .filter { case (_, t) => spark.catalog.tableExists(t) }
      .map { case (g, t) =>
        bucketStatsOf(spark.table(t)).withColumn("gen", lit(g))
          .withColumn("max_bucket_files", lit(maxBucketFiles(spark, t))) }
      .reduce(_.unionByName(_))
      .select("gen", "band", "n_buckets", "max_bucket", "cand_pairs",
        "max_bucket_files")

  /** Deepest per-bucket file stack of a bucketed table (0 for an
    * empty table). An unparseable filename falls back to the
    * whole-table file count — a conservative over-read (as if every
    * file stacked one bucket), never an under-read that would hide
    * fragmentation. */
  private def maxBucketFiles(spark: SparkSession, table: String): Long =
    graft.sources.Bucketed.bucketFilesOf(spark, table,
        graft.sources.Bucketed.bucketCount(spark, table))
      .map(m => if (m.isEmpty) 0L else m.values.map(_.size).max.toLong)
      .getOrElse(spark.table(table).inputFiles.length.toLong)

  /** Per-band bucket occupancy over any (doc_id, band, band_key) band
    * relation ([[bucketStatsGen]]'s per-generation core) —
    * shared by the stored-index path and the batch oracle query. Two
    * slim hash aggregations; the first is on the bands table's own
    * bucket key, so the stored path aggregates exchange-free. */
  def bucketStatsOf(bands: DataFrame): DataFrame =
    bands
      .groupBy(col("band").cast("long").as("band"), col("band_key"))
      .agg(count(lit(1)).as("c"))
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_buckets"),
        max("c").as("max_bucket"),
        // c·(c−1) is even, so integer div is exact
        sum(expr("(c * (c - 1)) div 2")).as("cand_pairs"))
}
