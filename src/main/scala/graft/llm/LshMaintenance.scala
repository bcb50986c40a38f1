package graft.llm

import java.util.concurrent.{ExecutorService, Executors, Future => JFuture}

import org.apache.spark.sql.SparkSession

/** The maintenance driver that puts the generational (hot/cold)
  * [[LshIndex]] under a streaming ingest loop — the piece that keeps
  * the index's O(corpus) compaction off the trigger (compacting INSIDE
  * the trigger made batch latency grow linearly with stream lifetime:
  * 14.8 s at ~1.5 M corpus rows → 17.6 s at ~2.7 M in the r14 soak of
  * the single-tier index this layout replaced).
  *
  * Split of labor, by cost class:
  *   - TRIGGER PATH (called from `foreachBatch`, must stay O(metadata)
  *     at any corpus size): [[maybeCommit]] — land a finished staged
  *     merge via [[LshIndex.mergeCommit]]'s renames; [[rotateAndStage]]
  *     — swap the hot generation aside via [[LshIndex.rotateHot]]'s
  *     renames and hand the O(corpus) work to the maintenance thread.
  *   - MAINTENANCE THREAD (one daemon executor, off the trigger):
  *     [[LshIndex.mergeStage]] — write the staged cold ∪ merging copy.
  *     Race-free by construction: the trigger only ever writes the
  *     HOT tables, the stage only ever reads cold + merging and writes
  *     the staged `__compact` pair, and the commit happens back on the
  *     trigger thread strictly after the stage future completes.
  *
  * One merge in flight at a time ([[rotateAndStage]] is a no-op while
  * one runs — hot keeps absorbing appends and rotates on a later
  * trigger). A staging FAILURE surfaces on the next trigger
  * ([[maybeCommit]] rethrows it): the stream fails loud rather than
  * letting the hot generation grow unboundedly behind a silently dead
  * merge; on restart [[recover]] resumes the interrupted merge (the
  * merging generation is still queryable meanwhile, so answers never
  * degrade).
  *
  * `exec` is injectable so DocStreamSpec can hold the stage back and
  * drive a merge across several triggers deterministically; production
  * callers use the default single daemon thread. `mergeSlices`
  * forwards to [[LshIndex.mergeStage]] (0 = auto: bounded-row slices,
  * see its doc; specs force a count to exercise slicing on small
  * fixtures).
  */
final class LshMaintenance(
    spark: SparkSession, name: String,
    exec: ExecutorService = LshMaintenance.defaultExecutor(),
    mergeSlices: Int = 0) {

  @volatile private var inFlight: JFuture[_] = null
  @volatile private var purgePending = false
  @volatile private var rebucketTo = 0

  /** Startup, BEFORE the first trigger: heal half-done metadata states
    * ([[LshIndex.repairGen]]) and resume an interrupted merge — a
    * merging generation with no live stage future gets re-staged from
    * scratch (mergeStage restarts cleanly; a crashed staged write is
    * cleared by its own clearStaged).
    *
    * Also RE-ARMS a pending purge when tombstones exist: purgePending
    * is process-local, so a restart between [[requestPurge]] and the
    * next safe trigger would otherwise silently lose the request —
    * queries stay correct via the anti-join, but the tombstoned rows'
    * PHYSICAL reclaim (the right-to-be-forgotten half) would wait
    * forever with nothing visibly wrong. Tombstones only exist to be
    * purged eventually, so surviving tombstones at startup ARE the
    * durable form of the request. */
  def recover(): Unit = {
    LshIndex.repairGen(spark, name)
    if (LshIndex.tombstoneCount(spark, name) > 0) purgePending = true
    if (spark.catalog.tableExists(LshIndex.mergingSetsTable(name)))
      submitStage()
  }

  /** Trigger path: if the staged merge finished, commit it — metadata
    * renames only. Rethrows a staging failure (fail loud; see class
    * doc). Call at the TOP of each micro-batch so the commit lands on
    * the first trigger after staging completes.
    *
    * `active` is the session the TRIGGER's queries run in —
    * `foreachBatch` hands over a frame bound to the streaming query's
    * CLONED session, and committing through any other session leaves
    * the clone's relation cache pointing at the pre-swap file listing
    * (the gate then dies with FAILED_READ_FILE.FILE_NOT_EXIST on the
    * dropped files — caught by DocStreamSpec's real-stream case).
    * Metadata ops through the reading session invalidate exactly the
    * cache that matters. */
  def maybeCommit(active: SparkSession = spark): Unit = {
    val f = inFlight
    if (f != null && f.isDone) {
      inFlight = null
      f.get() // rethrows a staging failure wrapped in ExecutionException
      LshIndex.mergeCommit(active, name)
    }
    // a requested rebucket/purge runs HERE — on the trigger thread,
    // the index's single writer — and only between merges (both ops'
    // check-then-act requires are only sound from this thread; see
    // their concurrency contracts). Deferred while a merge is staging
    // or staged-uncommitted; once the merge commits they run in that
    // SAME maybeCommit call (the commit above just dropped the merging
    // tables, so the gate below passes) — at latest, on the first
    // post-commit trigger. Rebucket first: the purge's rewrite then
    // already runs at the new parallelism.
    val safe = inFlight == null &&
      !active.catalog.tableExists(LshIndex.mergingSetsTable(name))
    if (rebucketTo > 0 && safe) {
      val n = rebucketTo
      rebucketTo = 0
      LshIndex.rebucket(active, name, n)
    }
    if (purgePending && safe) {
      purgePending = false
      LshIndex.purgeDeleted(active, name)
    }
  }

  /** Request a physical purge of tombstoned rows ([[LshIndex
    * .purgeDeleted]]) from ANY thread, without racing the ingest loop:
    * the purge itself executes inside the next safe [[maybeCommit]] —
    * on the trigger thread, between merges. The deliberate cost: the
    * purge is an O(corpus) rewrite and stalls that one trigger, the
    * right trade for a rare takedown batch (queries already exclude
    * the tombstoned docs via the anti-join the moment [[LshIndex
    * .delete]] ran — only the physical reclaim waits). */
  def requestPurge(): Unit = purgePending = true

  /** Whether a requested purge has not yet executed. Unlike the
    * in-memory flag, the REQUEST is durable: [[recover]] re-arms it
    * from the surviving tombstones after a restart. */
  def purgeIsPending: Boolean = purgePending

  /** Request a bucket-count migration ([[LshIndex.rebucket]]) from ANY
    * thread without racing the ingest loop — same routing as
    * [[requestPurge]]: executes inside the next safe [[maybeCommit]],
    * on the trigger thread, between merges. The O(corpus) rewrite
    * stalls that one trigger; afterwards every probe join and merge
    * slice runs up to the new bucket count wide. NOT re-armed by
    * [[recover]] (unlike a purge there is no on-disk marker of the
    * intent) — an operator who restarts mid-request re-requests, and
    * `lsh_gen_stats`' layout columns show whether it landed. */
  def requestRebucket(newBuckets: Int): Unit = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    rebucketTo = newBuckets
  }

  /** Whether a requested rebucket has not yet executed. */
  def rebucketIsPending: Boolean = rebucketTo > 0

  /** Trigger path, on the rotation cadence: swap hot aside (metadata
    * renames) and kick the off-trigger stage. No-op while a merge is
    * in flight or an uncommitted merging generation exists. Skips
    * rotating an EMPTY hot generation — a quiet stream would otherwise
    * churn no-op merges. Same `active`-session contract as
    * [[maybeCommit]].
    *
    * `hotFractionPm` is the LSM-style size-ratio gate: rotate only
    * when hot holds at least that permille of cold's rows (two
    * metadata-cheap parquet counts). Every merge rewrites ALL of cold,
    * so a fixed-cadence policy pays O(corpus) per cadence forever —
    * total merge work QUADRATIC in stream lifetime; under a ratio
    * gate cold grows geometrically between merges, so each row is
    * rewritten O(log N) times and merges self-sparsen exactly as they
    * get more expensive (the r15 soak's first generational leg, run
    * cadence-only at 30 s, spent most of its wall clock merging).
    * `hotFractionPm = 0` disables the gate (rotate whenever hot is
    * non-empty — what the deterministic specs use). */
  def rotateAndStage(active: SparkSession = spark,
                     hotFractionPm: Long = 0L): Unit =
    if (inFlight == null &&
        !active.catalog.tableExists(LshIndex.mergingSetsTable(name))) {
      val hotRows = active.table(LshIndex.hotSetsTable(name)).count()
      val due = hotRows > 0 && (hotFractionPm <= 0 ||
        hotRows * 1000L >=
          active.table(LshIndex.setsTable(name)).count() * hotFractionPm)
      if (due) {
        LshIndex.rotateHot(active, name)
        submitStage()
      }
    }

  /** Whether a merge is currently staged-or-staging — stays true until
    * a trigger COMMITS it (diagnostics and the soak's series). */
  def mergeInFlight: Boolean = inFlight != null

  /** Whether the background stage has finished (successfully or not)
    * and the next trigger's [[maybeCommit]] will act on it. */
  def stageCompleted: Boolean = {
    val f = inFlight
    f != null && f.isDone
  }

  private def jobGroup: String = s"lsh-maintenance-$name"

  private def submitStage(): Unit =
    inFlight = exec.submit(new Runnable {
      def run(): Unit = {
        // the merge's jobs go to a dedicated scheduler pool: under
        // spark.scheduler.mode=FAIR with a low-weight "maintenance"
        // pool the O(corpus) stage yields cores to trigger jobs
        // instead of occupying all task slots for its duration (the
        // r15 soak measured 20-28 s trigger latencies inside merge
        // windows vs ~13 s outside under FIFO). The property is
        // thread-local, so only this thread's jobs are tagged; under
        // the default FIFO scheduler the tag is inert. The job group
        // makes the stage's RUNNING jobs cancellable from close() —
        // interrupting the thread alone leaves submitted jobs running.
        spark.sparkContext.setJobGroup(jobGroup,
          s"LshIndex.mergeStage($name)", interruptOnCancel = true)
        spark.sparkContext.setLocalProperty(
          "spark.scheduler.pool", "maintenance")
        try {
          // mergeStage refreshes its own input tables in this session
          // (the previous commit's swaps/drops ran in the TRIGGER
          // session, so both the cold listing AND the re-used merging
          // table name can be stale here)
          LshIndex.mergeStage(spark, name, mergeSlices)
        } finally {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
          // thread-local like the pool tag — cleared so an injected
          // same-thread executor (the specs') doesn't leak the group
          spark.sparkContext.clearJobGroup()
        }
      }
    })

  /** Stop the maintenance work: interrupt the thread AND cancel the
    * stage's in-flight Spark jobs (the job group set in submitStage —
    * a thread interrupt alone leaves already-submitted jobs burning
    * cores; the r15 warmup leg measured exactly that bleed into the
    * measured window). A mid-stage kill leaves only a partial
    * `__staging`/`__compact`, which the next recover()'s re-stage
    * clears. */
  def close(): Unit = {
    exec.shutdownNow()
    scala.util.Try(spark.sparkContext.cancelJobGroup(jobGroup))
  }
}

object LshMaintenance {
  private def defaultExecutor(): ExecutorService =
    Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "lsh-maintenance")
      t.setDaemon(true)
      t
    })
}
