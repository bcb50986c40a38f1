package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The generational (hot/cold) index answers EXACTLY like the batch
  * operator's cross-batch slice over the same corpus, through every
  * lifecycle phase — the invariant that makes the out-of-trigger merge
  * design sound: bands/sets are per-doc derivations, so partitioning
  * the corpus across generations partitions the band collisions, and
  * the per-generation verified pairs union back to the from-scratch
  * answer (disjoint ids ⇒ disjoint pairs). The phases deliberately
  * include a staged-but-uncommitted merge, which is the state a
  * crashed (or still-running) maintenance thread leaves behind. */
class GenerationalLshSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The from-scratch reference: [[Dedup.minhashDedup]] over
    * corpus ∪ batch, restricted to (stored, batch) pairs. Batch ids
    * sit at ≥ 900000, above every corpus id. */
  private def crossSlice(corpus: org.apache.spark.sql.DataFrame,
                         batch: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Long, Long)] =
    Dedup.minhashDedup(corpus.select("doc_id", "text").unionByName(batch))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("inter_size"), r.getAs[Long]("union_size")))
      .filter(p => p._1 < 900000L && p._2 >= 900000L)
      .toSet

  test("queryGen/gateGen ≡ the batch operator's cross slice through rotate, staged merge, and commit") {
    assume(new java.io.File(sfDir).isDirectory, "driver testdata not present")
    val docs = graft.Tables.documents(spark, sfDir)
    val a = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val c = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      .filter(col("doc_id") < 400)
    // probe batch: near-dups of docs from EVERY slice (so each
    // generation contributes pairs) plus fresh rows
    val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(11)) === 5)
        .select((col("doc_id") + 950000L).as("doc_id"), col("text")))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def kept(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val refAB = crossSlice(a.unionByName(b), batch)
    val refABC = crossSlice(a.unionByName(b).unionByName(c), batch)
    // the gate keeps every batch doc with no verified stored partner
    val refKept = kept(batch) -- refABC.map(_._2)
    assert(refAB.nonEmpty && refABC.size > refAB.size,
      "fixture must make every generation contribute pairs")

    LshIndex.buildGen(a, "lshgen")
    LshIndex.appendHot(b, "lshgen")
    // phase 1: cold=A, hot=B
    assert(pairs(LshIndex.queryGen(batch, "lshgen")) == refAB)
    // phase 2: rotate — cold=A, merging=B, hot=∅; answers unchanged
    LshIndex.rotateHot(spark, "lshgen")
    assert(pairs(LshIndex.queryGen(batch, "lshgen")) == refAB)
    // a second rotate before commit must refuse, not orphan a generation
    val err = intercept[IllegalArgumentException](
      LshIndex.rotateHot(spark, "lshgen"))
    assert(err.getMessage.contains("merge in flight"))
    // phase 3: appends keep landing while the merge is in flight
    LshIndex.appendHot(c, "lshgen")
    assert(pairs(LshIndex.queryGen(batch, "lshgen")) == refABC)
    // phase 4: staged merge written, NOT committed — the state a
    // running (or crashed) maintenance thread leaves; answers unchanged
    LshIndex.mergeStage(spark, "lshgen")
    assert(pairs(LshIndex.queryGen(batch, "lshgen")) == refABC)
    // phase 5: commit (metadata-only): cold=A∪B, hot=C, merging gone
    LshIndex.mergeCommit(spark, "lshgen")
    assert(pairs(LshIndex.queryGen(batch, "lshgen")) == refABC)
    assert(!spark.catalog.tableExists(LshIndex.mergingSetsTable("lshgen")))
    assert(spark.table(LshIndex.setsTable("lshgen")).count() ==
      a.unionByName(b).count())
    assert(spark.table(LshIndex.hotSetsTable("lshgen")).count() == c.count())
    // gate parity over the final layout
    assert(kept(LshIndex.gateGen(batch, "lshgen")) == refKept)
    // deletes reach every generation (candidate-time exclusion is
    // per-name, not per-generation): tombstone one cold and one hot
    // near-dup target and their pairs vanish from queryGen
    val victims = refABC.map(_._1).take(2).toSeq
    import spark.implicits._
    LshIndex.delete(victims.toDF("doc_id"), "lshgen")
    val afterDel = pairs(LshIndex.queryGen(batch, "lshgen"))
    assert(afterDel == refABC.filterNot(p => victims.contains(p._1)))
  }

  test("half-rotated crash state: queries answer (cold only) without throwing; repairGen heals") {
    assume(new java.io.File(sfDir).isDirectory, "driver testdata not present")
    val docs = graft.Tables.documents(spark, sfDir)
    val a = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refA = crossSlice(a, batch).map(p => (p._1, p._2))
    val refAB = crossSlice(a.unionByName(b), batch).map(p => (p._1, p._2))
    assert(refA.nonEmpty && refAB.size > refA.size,
      "fixture needs pairs from both generations")
    LshIndex.buildGen(a, "lshcrash")
    LshIndex.appendHot(b, "lshcrash")
    // simulate rotateHot dying between its two renames: sets renamed,
    // bands not (exactly rotate's first statement)
    spark.sql(s"ALTER TABLE ${LshIndex.hotSetsTable("lshcrash")} " +
      s"RENAME TO ${LshIndex.mergingSetsTable("lshcrash")}")
    // the r14 generations() threw here (merging gated on the sets
    // table alone); now both stranded halves are skipped — answers
    // come from cold alone, degraded but correct-for-what-is-visible
    assert(pairs(LshIndex.queryGen(batch, "lshcrash")) == refA)
    // repair completes the rotate: B's rows live in the merging
    // generation again, and a fresh empty hot pair exists
    LshIndex.repairGen(spark, "lshcrash")
    assert(pairs(LshIndex.queryGen(batch, "lshcrash")) == refAB)
    assert(spark.table(LshIndex.hotSetsTable("lshcrash")).count() == 0L)
    // the interrupted maintenance cycle then converges normally
    LshIndex.mergeStage(spark, "lshcrash")
    LshIndex.mergeCommit(spark, "lshcrash")
    assert(pairs(LshIndex.queryGen(batch, "lshcrash")) == refAB)
    assert(spark.table(LshIndex.setsTable("lshcrash")).count() ==
      a.unionByName(b).count())
  }

  test("commit-crash double-read state: no duplicate pairs; re-merge converges") {
    assume(new java.io.File(sfDir).isDirectory, "driver testdata not present")
    val docs = graft.Tables.documents(spark, sfDir)
    val a = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))
    val ref = crossSlice(a.unionByName(b), batch).map(p => (p._1, p._2))
    LshIndex.buildGen(a, "lshdbl")
    LshIndex.appendHot(b, "lshdbl")
    LshIndex.rotateHot(spark, "lshdbl")
    LshIndex.mergeStage(spark, "lshdbl")
    // simulate mergeCommit dying AFTER both swaps, BEFORE the drops:
    // run exactly its two swap statements — merged rows now live in
    // cold AND in the still-present merging generation
    graft.sources.Bucketed.swapStaged(spark, LshIndex.setsTable("lshdbl"))
    graft.sources.Bucketed.swapStaged(spark, LshIndex.bandsTable("lshdbl"))
    assert(spark.catalog.tableExists(LshIndex.mergingSetsTable("lshdbl")))
    val got = LshIndex.queryGen(batch, "lshdbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.distinct.lengthIs == got.length,
      "double-read state must not emit duplicate pairs")
    assert(got.toSet == ref && ref.nonEmpty)
    // re-running the merge cycle converges (stage's dropDuplicates
    // absorbs the cold/merging overlap) and clears the merging pair
    LshIndex.mergeStage(spark, "lshdbl")
    LshIndex.mergeCommit(spark, "lshdbl")
    assert(!spark.catalog.tableExists(LshIndex.mergingSetsTable("lshdbl")))
    assert(spark.table(LshIndex.setsTable("lshdbl")).count() ==
      a.unionByName(b).count())
    assert(LshIndex.queryGen(batch, "lshdbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == ref)
  }

  test("generational purge reaches every generation: no resurrection, and refused mid-merge") {
    assume(new java.io.File(sfDir).isDirectory, "driver testdata not present")
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val a = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))
    def pairs() = LshIndex.queryGen(batch, "lshpurge").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    LshIndex.buildGen(a, "lshpurge")
    LshIndex.appendHot(b, "lshpurge")
    val before = pairs()
    // victims from BOTH generations: one cold (a: doc_id % 3 == 0) and
    // one hot (b) near-dup target
    val coldVictim = before.map(_._1).find(_ % 3 == 0).get
    val hotVictim = before.map(_._1).find(_ % 3 == 1).get
    val victims = Seq(coldVictim, hotVictim)
    LshIndex.delete(victims.toDF("doc_id"), "lshpurge")
    val expected = before.filterNot(p => victims.contains(p._1))
    assert(pairs() == expected, "logical delete must hide both victims")
    // physical purge with the hot victim's rows STILL IN HOT — the r15
    // bug this test exists for: a cold-only purge dropped the
    // tombstones while the hot rows stayed physically present, so the
    // hot victim MATCHED AGAIN the moment the anti-join was gone
    LshIndex.purgeDeleted(spark, "lshpurge")
    assert(LshIndex.tombstoneCount(spark, "lshpurge") == 0L)
    assert(pairs() == expected, "purge must not resurrect deleted docs")
    val physical = (spark.table(LshIndex.setsTable("lshpurge"))
      .select("doc_id").as[Long].collect() ++
      spark.table(LshIndex.hotSetsTable("lshpurge"))
        .select("doc_id").as[Long].collect()).toSet
    assert(!victims.exists(physical), "purged rows must be physically gone")
    // purge mid-merge is refused (a racing stage would resurrect rows)
    LshIndex.delete(Seq(before.map(_._1).head).toDF("doc_id"), "lshpurge")
    LshIndex.rotateHot(spark, "lshpurge")
    val err = intercept[IllegalArgumentException](
      LshIndex.purgeDeleted(spark, "lshpurge"))
    assert(err.getMessage.contains("merge in flight"))
    LshIndex.mergeStage(spark, "lshpurge")
    LshIndex.mergeCommit(spark, "lshpurge")
    LshIndex.purgeDeleted(spark, "lshpurge") // between merges: fine
    assert(LshIndex.tombstoneCount(spark, "lshpurge") == 0L)
  }

  test("gateGen's shingle caches survive until the consuming action (no premature release)") {
    assume(new java.io.File(sfDir).isDirectory, "driver testdata not present")
    val docs = graft.Tables.documents(spark, sfDir)
    val a = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))
    LshIndex.buildGen(a, "lshcache")
    val gated = LshIndex.gateGen(batch, "lshcache")
    // collect() (not a write) so the executed plan we inspect below is
    // THIS dataset's own QueryExecution
    gated.collect()
    // the consuming action's executed plan must READ the registered
    // batch caches — the r14 gateGen ran its sizing count AFTER
    // queryGen registered the one-shot release listener, so the caches
    // were gone before this plan ever ran and every probe re-shingled
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      s"expected cached shingle reads in the executed plan:\n$plan")
    // and the one-shot listener still releases them afterwards
    assert(graft.Caches.awaitDrained(spark),
      "caches must drain after the consuming action: " +
        graft.Caches.remainingPersistentRDDs(spark).mkString(", "))
  }

  test("sliced mergeStage ≡ monolithic: identical staged rows, bounded files, overlap absorbed both ways") {
    assume(new java.io.File(sfDir).isDirectory, "driver testdata not present")
    val docs = graft.Tables.documents(spark, sfDir)
    val a = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    def prep(n: String): Unit = {
      LshIndex.buildGen(a, n); LshIndex.appendHot(b, n)
      LshIndex.rotateHot(spark, n)
    }
    def rows(t: String) = spark.table(t).collect().map(_.toString).toSet
    prep("lshsl_s"); prep("lshsl_m")
    // the slice handle must cover every file of both bucketed tables
    val bf = graft.sources.Bucketed.bucketFilesOf(spark,
      LshIndex.setsTable("lshsl_s"),
      graft.sources.Bucketed.bucketCount(spark, LshIndex.setsTable("lshsl_s")))
    assert(bf.isDefined && bf.get.values.map(_.size).sum ==
      spark.table(LshIndex.setsTable("lshsl_s")).inputFiles.length)
    // slices forced (the auto policy would pick 1 on this tiny
    // fixture — bounded-row slicing is a scale behavior)
    LshIndex.mergeStage(spark, "lshsl_s", slices = 8) // fully sliced
    LshIndex.mergeStage(spark, "lshsl_m", slices = 1) // monolithic fallback plan
    for (t <- Seq(LshIndex.setsTable _, LshIndex.bandsTable _))
      assert(rows(t("lshsl_s") + "__compact") == rows(t("lshsl_m") + "__compact"),
        "sliced and monolithic staged tables must hold identical rows")
    // the incremental pre-stage must be consumed by the final rename —
    // __compact existing still means "fully staged"
    assert(!spark.catalog.tableExists(LshIndex.setsTable("lshsl_s") + "__staging"))
    LshIndex.mergeCommit(spark, "lshsl_s")
    LshIndex.mergeCommit(spark, "lshsl_m")
    val buckets = graft.sources.Bucketed.bucketCount(spark,
      LshIndex.setsTable("lshsl_s"))
    // per-bucket appends across slices still land one file per bucket
    assert(spark.table(LshIndex.setsTable("lshsl_s")).inputFiles.length <= buckets)
    assert(spark.table(LshIndex.setsTable("lshsl_s")).count() ==
      a.unionByName(b).count())
    // the commit-crash cross-table overlap (byte-identical rows in cold
    // AND merging) must be absorbed by the MONOLITHIC path too — the
    // default sliced path's overlap case is pinned by the double-read
    // test above; this closes the fallback plan (the union-of-
    // co-bucketed-scans trap lives exactly there)
    LshIndex.appendHot(docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      .filter(col("doc_id") < 400), "lshsl_m")
    LshIndex.rotateHot(spark, "lshsl_m")
    LshIndex.mergeStage(spark, "lshsl_m", slices = 1)
    graft.sources.Bucketed.swapStaged(spark, LshIndex.setsTable("lshsl_m"))
    graft.sources.Bucketed.swapStaged(spark, LshIndex.bandsTable("lshsl_m"))
    val expect = spark.table(LshIndex.setsTable("lshsl_m")).count()
    LshIndex.mergeStage(spark, "lshsl_m", slices = 1)
    LshIndex.mergeCommit(spark, "lshsl_m")
    assert(spark.table(LshIndex.setsTable("lshsl_m")).count() == expect,
      "monolithic re-merge must dedup the cold/merging overlap")
  }

  test("a second generation cycle composes: rotate+merge again after the first commit") {
    assume(new java.io.File(sfDir).isDirectory, "driver testdata not present")
    val docs = graft.Tables.documents(spark, sfDir)
    val a = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
    val c = docs.filter(pmod(col("doc_id"), lit(4)) === 2)
    val batch = docs.filter(pmod(col("doc_id"), lit(9)) === 4)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ref = crossSlice(a.unionByName(b).unionByName(c), batch)
      .map(p => (p._1, p._2))
    LshIndex.buildGen(a, "lshgen2")
    LshIndex.appendHot(b, "lshgen2")
    LshIndex.rotateHot(spark, "lshgen2")
    LshIndex.mergeStage(spark, "lshgen2")
    LshIndex.mergeCommit(spark, "lshgen2")
    LshIndex.appendHot(c, "lshgen2")
    LshIndex.rotateHot(spark, "lshgen2")
    LshIndex.mergeStage(spark, "lshgen2")
    LshIndex.mergeCommit(spark, "lshgen2")
    assert(pairs(LshIndex.queryGen(batch, "lshgen2")) == ref && ref.nonEmpty)
    // both cycles folded into cold; hot empty again
    assert(spark.table(LshIndex.setsTable("lshgen2")).count() ==
      a.unionByName(b).unionByName(c).count())
    assert(spark.table(LshIndex.hotSetsTable("lshgen2")).count() == 0L)
  }

  test("rebucket 8→32 mid-lifecycle: answers row-for-row identical with tombstones live; stats count appends and collapse") {
    assume(new java.io.File(sfDir).isDirectory, "driver testdata not present")
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val a = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    // two separate hot appends, so max_bucket_files can observe depth 2
    val b1 = b.filter(pmod(col("doc_id"), lit(2)) === 0)
    val b2 = b.filter(pmod(col("doc_id"), lit(2)) === 1)
    val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))
    def pairs() = LshIndex.queryGen(batch, "lshrb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def statsBy(gen: String) = LshIndex.bucketStatsGen(spark, "lshrb")
      .filter(col("gen") === gen).select("max_bucket_files").distinct()
      .as[Long].collect().toSeq
    LshIndex.buildGen(a, "lshrb", buckets = 8)
    LshIndex.appendHot(b1, "lshrb")
    LshIndex.appendHot(b2, "lshrb")
    // the layout invariants the oracle's constant-1 column rests on:
    // a fresh build is one file per non-empty bucket; each
    // onePerBucket append stacks exactly one more
    assert(statsBy("cold") == Seq(1L), "fresh build must be depth 1")
    assert(statsBy("hot") == Seq(2L), "two appends must be depth 2")
    val before = pairs()
    assert(before.nonEmpty)
    // a live tombstone rides through the migration
    val victim = before.map(_._1).head
    LshIndex.delete(Seq(victim).toDF("doc_id"), "lshrb")
    val pre = pairs()
    assert(pre == before.filterNot(_._1 == victim))
    LshIndex.rebucket(spark, "lshrb", 32)
    for (t <- Seq(LshIndex.setsTable("lshrb"), LshIndex.bandsTable("lshrb"),
        LshIndex.hotSetsTable("lshrb"), LshIndex.hotBandsTable("lshrb"))) {
      spark.catalog.refreshTable(t)
      assert(graft.sources.Bucketed.bucketCount(spark, t) == 32,
        s"$t must carry the new bucket spec")
    }
    // the rewrite collapses append depth back to 1 under the new spec
    assert(statsBy("cold") == Seq(1L) && statsBy("hot") == Seq(1L))
    assert(pairs() == pre, "rebucket must not change any answer")
    assert(LshIndex.tombstoneCount(spark, "lshrb") == 1L,
      "tombstones survive the migration verbatim")
    // the migrated index still runs a full cycle, and a rebucket
    // mid-merge is refused (the staged merge slices under the old
    // count)
    LshIndex.rotateHot(spark, "lshrb")
    val err = intercept[IllegalArgumentException](
      LshIndex.rebucket(spark, "lshrb", 8))
    assert(err.getMessage.contains("merge in flight"))
    LshIndex.mergeStage(spark, "lshrb", slices = 4)
    LshIndex.mergeCommit(spark, "lshrb")
    assert(pairs() == pre, "post-migration merge cycle must not change answers")
    assert(graft.sources.Bucketed.bucketCount(spark,
      LshIndex.setsTable("lshrb")) == 32)
  }
}
