package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted MinHash/LSH index lifecycle: buildGen persists the
  * shingle and band halves through the bucketed layout, queryGen
  * answers a new batch from the stored tables alone, appendHot composes
  * with buildGen so the incremental flow reproduces the batch operator
  * pair-for-pair, and a merge cycle is the compaction. */
class LshIndexSpec extends SparkSpec {

  private def base: DataFrame = {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory,
      "driver testdata not present")
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
  }

  private def nearDupBatch(d: DataFrame): DataFrame =
    d.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))

  private def pairs(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Long]("inter_size"), r.getAs[Long]("union_size"))).toSet

  test("build then query-from-disk equals the cross-batch slice of batch minhashDedup") {
    val d = base
    LshIndex.buildGen(d, "lshspec")
    val batch = nearDupBatch(d)
    val fromDisk = pairs(LshIndex.queryGen(batch, "lshspec"))
    // the batch operator over the union, restricted to cross pairs
    val whole = pairs(Dedup.minhashDedup(d.unionAll(batch)))
      .filter(p => p._1 < 100000L && p._2 >= 100000L)
    assert(fromDisk.nonEmpty && fromDisk == whole,
      "stored index must answer identically to the batch operator")
    // both halves really are bucketed on their join keys — the layout
    // is the point (corpus side of probe/verify never reshuffles)
    for ((t, k) <- Seq(LshIndex.bandsTable("lshspec") -> "band_key",
                       LshIndex.setsTable("lshspec") -> "doc_id")) {
      val ddl = spark.sql(s"SHOW CREATE TABLE $t")
        .collect().head.getString(0).toLowerCase
      assert(ddl.contains("clustered by") && ddl.contains(k), ddl)
    }
  }

  test("delete: tombstoned stored docs stop matching; purge answers identically and shrinks") {
    val d = base
    LshIndex.buildGen(d, "lshspec_del")
    val batch = nearDupBatch(d)
    val before = pairs(LshIndex.queryGen(batch, "lshspec_del"))
    assert(before.exists(_._1 % 20 == 0),
      "fixture needs at least one pair whose stored side will be deleted")
    import spark.implicits._
    val victims = d.filter(pmod(col("doc_id"), lit(20)) === 0).select("doc_id")
    LshIndex.delete(victims, "lshspec_del")
    val afterDelete = pairs(LshIndex.queryGen(batch, "lshspec_del"))
    // exactly the victims' pairs vanish — nothing else moves
    assert(afterDelete === before.filterNot(_._1 % 20 == 0))
    // idempotent: re-deleting the same ids changes nothing
    LshIndex.delete(victims, "lshspec_del")
    assert(pairs(LshIndex.queryGen(batch, "lshspec_del")) === afterDelete)
    // purge: physical rewrite, identical answers, rows actually gone
    val rowsBefore = spark.table(LshIndex.setsTable("lshspec_del")).count()
    LshIndex.purgeDeleted(spark, "lshspec_del")
    assert(pairs(LshIndex.queryGen(batch, "lshspec_del")) === afterDelete)
    val rowsAfter = spark.table(LshIndex.setsTable("lshspec_del")).count()
    assert(rowsAfter < rowsBefore, "purge must drop the tombstoned rows")
    assert(!spark.catalog.tableExists(
      LshIndex.tombstonesTable("lshspec_del")),
      "purge must clear the tombstone table")
    // deleting a doc with no matches is harmless
    LshIndex.delete(Seq(999999999L).toDF("doc_id"), "lshspec_del")
    assert(pairs(LshIndex.queryGen(batch, "lshspec_del")) === afterDelete)
  }

  test("build(A) + append(B) ≡ build(A ∪ B) — per-doc derivations, no trained state") {
    val d = base
    val (a, b) = (d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    LshIndex.buildGen(a, "lshspec_inc")
    LshIndex.appendHot(b, "lshspec_inc")
    LshIndex.buildGen(d, "lshspec_full")
    val probe = nearDupBatch(d)
    assert(pairs(LshIndex.queryGen(probe, "lshspec_inc")) ==
      pairs(LshIndex.queryGen(probe, "lshspec_full")))
    // stored rows agree table-for-table, not just through one probe:
    // the incremental index's cold ∪ hot bands are the full build's
    def stored(t: String) = spark.table(t)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(stored(LshIndex.bandsTable("lshspec_inc")) ++
      stored(LshIndex.hotBandsTable("lshspec_inc")) ==
      stored(LshIndex.bandsTable("lshspec_full")))
    assert(stored(LshIndex.hotBandsTable("lshspec_full")).isEmpty)
  }

  test("lifecycle interleaving: delete·append·query ≡ build(A∖X ∪ B)·query; purge composes; deletes reach appended rows") {
    val d = base
    val a = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val b = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    // X ⊂ A: half the probe sources (ids ≡ 0 mod 20), so the delete
    // visibly removes pairs while others survive
    val x = a.filter(pmod(col("doc_id"), lit(20)) === 0).select("doc_id")
    val probe = nearDupBatch(d)
    val reference = {
      LshIndex.buildGen(
        a.join(x, Seq("doc_id"), "left_anti").unionByName(b), "lshspec_ref")
      pairs(LshIndex.queryGen(probe, "lshspec_ref"))
    }
    assert(reference.nonEmpty)
    // 1. delete BEFORE append: tombstones must not suppress the batch
    LshIndex.buildGen(a, "lshspec_il1")
    LshIndex.delete(x, "lshspec_il1")
    LshIndex.appendHot(b, "lshspec_il1")
    assert(pairs(LshIndex.queryGen(probe, "lshspec_il1")) == reference)
    // 2. purge between delete and append: physical rewrite composes
    LshIndex.buildGen(a, "lshspec_il2")
    LshIndex.delete(x, "lshspec_il2")
    LshIndex.purgeDeleted(spark, "lshspec_il2")
    LshIndex.appendHot(b, "lshspec_il2")
    assert(pairs(LshIndex.queryGen(probe, "lshspec_il2")) == reference)
    // 3. delete AFTER append reaches the APPENDED rows: tombstone odd
    //    stored docs (≡ 5 mod 10, all in B) and probe with their dups
    val oddProbe = d.filter(pmod(col("doc_id"), lit(10)) === 5)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))
    val beforeOdd = pairs(LshIndex.queryGen(oddProbe, "lshspec_il1"))
    assert(beforeOdd.exists(_._1 % 20 == 5),
      "fixture needs an appended-side pair to delete")
    val y = b.filter(pmod(col("doc_id"), lit(20)) === 5).select("doc_id")
    LshIndex.delete(y, "lshspec_il1")
    assert(pairs(LshIndex.queryGen(oddProbe, "lshspec_il1")) ==
      beforeOdd.filterNot(_._1 % 20 == 5))
    // purge-debt observability: the pending tombstones re-arm a
    // maintenance driver's purge; purge zeroes them
    assert(LshIndex.tombstoneCount(spark, "lshspec_il1") > 0L)
    val maint = new LshMaintenance(spark, "lshspec_il1")
    try {
      maint.recover()
      assert(maint.purgeIsPending, "surviving tombstones must re-arm the purge")
    } finally maint.close()
    LshIndex.purgeDeleted(spark, "lshspec_il1")
    assert(LshIndex.tombstoneCount(spark, "lshspec_il1") == 0L)
    assert(pairs(LshIndex.queryGen(oddProbe, "lshspec_il1")) ==
      beforeOdd.filterNot(_._1 % 20 == 5))
  }

  test("gate flags a near-dup whose batch id EQUALS its stored partner's id") {
    import spark.implicits._
    // the ingest-soak bug: stored and batch ids are different
    // namespaces, so an equal-id pair must not hide a true near-dup
    // (the inherited self-join guard did exactly that)
    val text = ("the stored document keeps thirty or so distinct tokens " +
      "so that a single prepended token leaves the jaccard similarity " +
      "far above the detection threshold every time").trim
    LshIndex.buildGen(Seq((7L, text)).toDF("doc_id", "text"), "lshspec_idguard")
    val batch = Seq(
      (7L, "dup " + text), // same id as its true stored partner
      (8L, "a wholly different payload sharing no trigram with anything indexed here")
    ).toDF("doc_id", "text")
    val kept = LshIndex.gateGen(batch, "lshspec_idguard")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(8L), s"got $kept")
  }

  test("bucketStats: occupancy and candidate load reconcile with the band table") {
    val d = base
    val bands = Dedup.lshBands(Dedup.shingleSets(Dedup.withNearDups(d)))
    val stats = LshIndex.bucketStatsOf(bands).collect()
      .map(r => r.getAs[Long]("band") ->
        ((r.getAs[Long]("n_buckets"), r.getAs[Long]("max_bucket"),
          r.getAs[Long]("cand_pairs")))).toMap
    assert(stats.keySet == Set(0L, 1L, 2L, 3L), "one row per band")
    val docsPerBand = bands.groupBy("band").count()
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    for ((band, (nBuckets, maxBucket, candPairs)) <- stats) {
      assert(nBuckets <= docsPerBand(band))
      assert(maxBucket >= 1L)
      // candidate load is what the near-dup batch actually induces:
      // Σ c·(c−1)/2 ≥ (docs − buckets) (pigeonhole, pairs ≥ collisions)
      assert(candPairs >= docsPerBand(band) - nBuckets)
    }
    // the injected ~10% near-dups guarantee real collisions somewhere
    assert(stats.values.map(_._3).sum > 0L)
  }

  test("compact: appends fragment files, compact restores one file per non-empty bucket, answers unchanged") {
    val d = base
    val slices = (0 to 3).map(i => d.filter(pmod(col("doc_id"), lit(4)) === i))
    val name = "lshspec_compact"
    LshIndex.buildGen(slices(0), name)
    val probe = nearDupBatch(d)
    // (files, rows) over both generations' bands tables
    def frag() = {
      val (cf, cr) = graft.sources.Bucketed.fileStats(spark, LshIndex.bandsTable(name))
      val (hf, hr) = graft.sources.Bucketed.fileStats(spark, LshIndex.hotBandsTable(name))
      (cf + hf, cr + hr)
    }
    val (filesFresh, _) = frag()
    slices.tail.foreach(sl => LshIndex.appendHot(sl.select("doc_id", "text"), name))
    val (filesFragged, rowsBefore) = frag()
    // each append adds at least one file per touched bucket
    assert(filesFragged > filesFresh,
      s"appends must fragment: fresh=$filesFresh fragged=$filesFragged")
    val before = pairs(LshIndex.queryGen(probe, name))

    // compaction is one merge cycle: hot folds into a rewritten cold
    LshIndex.rotateHot(spark, name)
    LshIndex.mergeStage(spark, name)
    LshIndex.mergeCommit(spark, name)

    // one file per NON-EMPTY bucket: Spark's bucket assignment is
    // pmod(murmur3(key), n) — exactly functions.hash (same seed 42) —
    // so the expected file count is computable from the rows themselves
    val buckets = graft.sources.Bucketed.bucketCount(
      spark, LshIndex.bandsTable(name))
    val nonEmpty = spark.table(LshIndex.bandsTable(name))
      .select(countDistinct(pmod(hash(col("band_key")), lit(buckets))))
      .collect().head.getLong(0)
    val (filesCompact, rowsAfter) = frag()
    assert(filesCompact == nonEmpty,
      s"compact must leave one file per non-empty bucket: files=$filesCompact nonEmpty=$nonEmpty")
    assert(rowsAfter == rowsBefore, "compact must not lose or invent rows")
    // …and the index answers identically through the rewrite
    assert(pairs(LshIndex.queryGen(probe, name)) == before)
    // the compacted cold generation holds exactly the from-scratch bands
    assert(LshIndex.bucketStatsOf(spark.table(LshIndex.bandsTable(name)))
      .collect().toSet ==
      LshIndex.bucketStatsOf(Dedup.lshBands(Dedup.shingleSets(d))).collect().toSet)
    // same story for the sets half
    val setsFiles = graft.sources.Bucketed.fileStats(
      spark, LshIndex.setsTable(name))._1
    val setsNonEmpty = spark.table(LshIndex.setsTable(name))
      .select(countDistinct(pmod(hash(col("doc_id")), lit(buckets))))
      .collect().head.getLong(0)
    assert(setsFiles == setsNonEmpty)
  }

  test("query fallback: above maxBroadcastDocs the hints drop, answers identical, plan shuffles") {
    val d = base
    LshIndex.buildGen(d, "lshspec_fb")
    val probe = nearDupBatch(d)
    val viaBroadcast = LshIndex.queryGen(probe, "lshspec_fb")
    val viaShuffle = LshIndex.queryGen(probe, "lshspec_fb",
      minJaccardPm = 800, maxBroadcastDocs = 0L)
    assert(pairs(viaShuffle) == pairs(viaBroadcast) && pairs(viaShuffle).nonEmpty,
      "both probe paths must answer identically")
    def joinsOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect() // materialize so AQE finalizes the plan
      planNodes(df.queryExecution.executedPlan)
    }
    assert(joinsOf(viaBroadcast).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "small probes must ride broadcast joins")
    // force the planner's own broadcast estimate off so the assertion
    // sees the hint removal, not a stats coincidence
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val nodes = joinsOf(LshIndex.queryGen(probe, "lshspec_fb",
        minJaccardPm = 800, maxBroadcastDocs = 0L))
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        "above the threshold no broadcast hint may remain")
      assert(nodes.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
        "the fallback must plan shuffle joins")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("bucketStats over the STORED table: bucket-key aggregation plans exchange-free") {
    val d = base
    LshIndex.buildGen(d, "lshspec_stats")
    val stored = LshIndex.bucketStatsGen(spark, "lshspec_stats")
    // same answer as the from-scratch derivation on the shared occupancy
    // columns (the empty hot generation contributes no rows)…
    val shared = Seq("band", "n_buckets", "max_bucket", "cand_pairs")
    val fresh = LshIndex.bucketStatsOf(Dedup.lshBands(Dedup.shingleSets(d)))
    assert(stored.select(shared.map(col): _*).collect().toSet ==
      fresh.select(shared.map(col): _*).collect().toSet)
    // …the physical column reads a fresh build's one file per bucket…
    val frag = stored.select("gen", "max_bucket_files").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(frag == Set(("cold", 1L)), s"fresh build must be depth 1: $frag")
    // …but the first (per-bucket) aggregation rides each table's own
    // bucketing: the only exchanges in the whole plan are the trivial
    // 4-row per-band rollups, one per generation (cold and the empty
    // hot), never the corpus-sized bucket count
    val exchanges = planNodes(stored.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length == 2,
      s"expected only the per-band rollup exchanges:\n${stored.queryExecution.executedPlan}")
  }
}
