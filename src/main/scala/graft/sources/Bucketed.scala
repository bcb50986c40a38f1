package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Bucketed-table plumbing — the co-located join/aggregation path.
  *
  * At 100 TB the dominant cost of a fact-fact equi-join is shuffling
  * both sides; bucketing pre-shuffles ONCE at write time. Two tables
  * bucketed on the join key with the same bucket count join with ZERO
  * exchanges (BucketedJoinSpec asserts this on the physical plan), and
  * a groupBy on the bucket key aggregates exchange-free. `sortBy`
  * additionally lets sort-merge join skip its sorts when each bucket
  * holds one file.
  *
  * The reference's store has no physical layout control at all (its
  * sink is an unpartitioned MySQL table, `KafkaSparkProcessor.scala`'s
  * foreachRDD insert) — this is the Spark-native upgrade: layout as a
  * first-class property of the stored table.
  */
object Bucketed {

  /** Write `df` as a managed parquet table bucketed (and per-bucket
    * sorted) on `key`. Bucket count is a real tuning knob at scale:
    * it bounds write-side memory (one open file per bucket per task)
    * and fixes downstream join/agg parallelism. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, sorted: Boolean = true): Unit = {
    val w: DataFrameWriter[Row] = df.write
      .mode("overwrite").format("parquet").bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Append rows to an existing bucketed table with the SAME bucket
    * spec — new files land in the matching buckets, so the co-location
    * contract survives incremental loads (Spark rejects a mismatched
    * spec rather than silently degrading the layout).
    *
    * `onePerBucket` repartitions the rows on the bucket key first, so
    * the append lands EXACTLY one file per non-empty bucket instead of
    * one per (task, bucket) pair — unrepartitioned, a 32-task write
    * into 8 buckets leaves up to 256 files PER APPEND, and a
    * micro-batch loop's probe/scan cost then grows with batch count
    * times task count (the r16 32-bucket soak attempt measured the
    * blow-up: tasks × buckets files per trigger). The flip side is a
    * batch-sized shuffle and write parallelism capped at the bucket
    * count — right for a micro-batch append loop (tiny batches, every
    * file read many times), wrong for a one-shot BULK load (huge
    * batch, files read once), so it is opt-in. */
  def appendBucketed(df: DataFrame, table: String, key: String,
                     buckets: Int, sorted: Boolean = true,
                     onePerBucket: Boolean = false): Unit = {
    val rows = if (onePerBucket) df.repartition(buckets, df(key)) else df
    val w: DataFrameWriter[Row] = rows.write
      .mode("append").format("parquet").bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Bucket count of a stored bucketed table, read from the catalog.
    * An append or compaction MUST match the build-time bucket spec
    * (Spark rejects a mismatch rather than degrading the layout, which
    * turns a wrong caller parameter into a permanently failing write) —
    * so the stored table itself, never a caller parameter, is the
    * source of truth. */
  def bucketCount(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(
        s"table $table has no bucket spec — not a bucketed table"))

  /** Physical-fragmentation signal for a stored table: (n_files, rows).
    * Every [[appendBucketed]] adds at least one new file per non-empty
    * bucket it touches, so a micro-batch ingest loop grows file counts
    * linearly in batch count (~5,760/day at a 15 s trigger) while the
    * probe-side scan pays the per-file open/footer cost — rows-per-file
    * collapsing toward the batch size is the signal that [[compact]] is
    * due. File list comes from the scan's own resolved file index
    * (`inputFiles`), so it counts exactly what a probe would read. */
  def fileStats(spark: SparkSession, table: String): (Long, Long) = {
    val df = spark.table(table)
    (df.inputFiles.length.toLong, df.count())
  }

  /** Rewrite a bucketed table in place under its existing bucket spec,
    * collapsing accumulated append fragments to EXACTLY one file per
    * non-empty bucket: the rows are repartitioned on the bucket key
    * with the table's own bucket count before the rewrite, and
    * `repartition(n, key)` hashes identically to the bucket-id
    * assignment (both are pmod(murmur3(key), n)), so each write task
    * holds exactly one bucket's rows and emits exactly one file.
    * `dedup` additionally drops exact duplicate ROWS — the garbage an
    * at-least-once replayed append leaves behind (both index tables
    * are per-doc deterministic derivations, so a replay's rows are
    * byte-identical and full-row dedup is lossless there).
    *
    * Mechanics: Spark refuses to overwrite a table it is reading, so
    * the rewrite stages to `<table>__compact`, then swaps via
    * RENAME-RENAME-DROP (old table aside to `<table>__old`, staged
    * table into place, retired copy dropped) — the same sequence every
    * table-format compaction performs, minus the transactional commit
    * a real lakehouse format would add. Readers between statements see
    * a missing table rather than torn data, and — unlike a DROP-first
    * swap — NO crash point loses rows: until the final DROP both the
    * old and new copies exist on disk, so a failure mid-swap leaves a
    * recoverable `__old`/`__compact` table instead of a deleted one
    * (renames are metadata + a directory move on a filesystem; on an
    * object store a managed-table rename copies — a deployment there
    * wants a real table format's atomic commit anyway). */
  def compact(spark: SparkSession, table: String, key: String,
              dedup: Boolean = false, sorted: Boolean = true): Unit =
    rewriteInPlace(spark, table, key,
      src => if (dedup) src.dropDuplicates() else src, sorted)

  /** Rewrite a bucketed table in place as `transform(table)` under its
    * existing bucket spec, one file per non-empty bucket — the shared
    * staged-swap primitive under [[compact]] (identity-ish transform)
    * and the purge paths (tombstone anti-join). The staged table is
    * written while the LIVE table still exists — the transform reads
    * it lazily during the staged write, so no materialization
    * (checkpoint) of the survivors is ever needed — and the swap is
    * RENAME-RENAME-DROP: until the final DROP both copies exist on
    * disk, so NO crash point loses rows (a failure mid-swap leaves a
    * recoverable `__old`/`__compact` table; the next call's leftover
    * cleanup absorbs it). The transform must not CONSUME the table it
    * rewrites through another live reader mid-swap, and must keep a
    * column named `key` in its output (resolved by name, so a
    * transform may recompute it).
    *
    * `newBuckets > 0` rewrites under THAT bucket count instead of the
    * stored spec — the migration primitive under
    * [[graft.llm.LshIndex.rebucket]] (bucket count is the probe/merge
    * parallelism ceiling, so a live index sized at a historical
    * default must be able to move to the measured rule without a
    * from-scratch rebuild). Same crash contract: the staged copy is
    * complete under the new spec before any rename runs. */
  def rewriteInPlace(spark: SparkSession, table: String, key: String,
                     transform: DataFrame => DataFrame,
                     sorted: Boolean = true, newBuckets: Int = 0): Unit = {
    val buckets = if (newBuckets > 0) newBuckets else bucketCount(spark, table)
    clearStaged(spark, table)
    val src = spark.table(table)
    // the key is resolved by NAME on the transformed frame, so the
    // transform may recompute it (e.g. a re-assignment) — it only has
    // to keep a column of that name in its output
    val rows = transform(src)
    writeBucketed(rows.repartition(buckets, rows(key)),
      table + "__compact", key, buckets, sorted)
    swapStaged(spark, table)
  }

  /** Clear the `__compact`/`__old` leftovers a crashed staged swap can
    * leave behind — catalog entries AND orphaned warehouse directories
    * (a dropped in-memory catalog forgets the table but the directory
    * survives across sessions, and the next staged write would fail
    * with LOCATION_ALREADY_EXISTS). Also clears `__staging`, the
    * incremental pre-stage a sliced merge builds before renaming it to
    * `__compact` ([[graft.llm.LshIndex.mergeStage]]) — a crash
    * mid-slices leaves it incomplete, and unlike `__compact` its
    * existence must never be read as "ready to swap". */
  def clearStaged(spark: SparkSession, table: String): Unit =
    Seq(table + "__compact", table + "__old", table + "__staging").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Swap a fully-written `<table>__compact` into place:
    * RENAME-RENAME-DROP, so until the final DROP both copies exist on
    * disk and no crash point loses rows (a failure mid-swap leaves a
    * recoverable `__old`/`__compact` pair for [[clearStaged]]).
    * Factored out of [[rewriteInPlace]] so multi-table maintenance ops
    * (e.g. [[graft.llm.AnnIndex.recluster]]) can stage EVERY table
    * first and then run all swaps back-to-back — shrinking the
    * cross-table inconsistency window to metadata renames. */
  def swapStaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
    spark.sql(s"ALTER TABLE ${table}__compact RENAME TO $table")
    spark.sql(s"DROP TABLE ${table}__old")
  }

  /** A bucketed table's data files GROUPED BY BUCKET ID, parsed from
    * the writer's filename convention (`..._00003.c000.snappy.parquet`
    * — the `_NNNNN` suffix is the bucket id; same regex Spark's own
    * BucketingUtils.getBucketId uses). `None` when any file fails to
    * parse — including a digit run that does not fit an Int and a
    * parsed id outside `[0, buckets)`, which a caller slicing
    * `0 until buckets` would otherwise silently exclude from every
    * slice (the contract is "None rather than dropped rows", so the
    * range check must live HERE, not in each caller's loop bounds).
    * Callers must fall back to a whole-table plan on None.
    *
    * This is the slice handle for bounded maintenance: every copy of a
    * key lives in its key's bucket, so any cross-table op whose unit of
    * correctness is "all rows of a key" (dedup, merge, purge) can run
    * per bucket — K bounded jobs over path reads instead of one
    * O(corpus) job — reading exactly one bucket's files from each side
    * (no read amplification; bucket-pruned at the FILE level, which a
    * `pmod(hash(key), n)` filter cannot achieve — hash predicates don't
    * prune bucketed scans). Path reads also report UnknownPartitioning,
    * so per-slice dedups plan genuine exchanges — immune to the
    * union-of-co-bucketed-scans trap below by construction. */
  def bucketFilesOf(spark: SparkSession, table: String, buckets: Int)
      : Option[Map[Int, Seq[String]]] = {
    val re = """.*_(\d+)(?:\..*)?$""".r
    val parsed = spark.table(table).inputFiles.toSeq.map { f =>
      f.substring(f.lastIndexOf('/') + 1) match {
        case re(id) =>
          id.toIntOption.filter(i => i >= 0 && i < buckets).map(_ -> f)
        case _ => None
      }
    }
    if (parsed.exists(_.isEmpty)) None
    else Some(parsed.flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
  }

  /** Read a bucketed table's parquet files WITHOUT the bucket
    * metadata, so the scan reports UnknownPartitioning.
    *
    * Exists for one sharp edge: a UNION of two tables bucketed on the
    * same key can plan a downstream aggregate with NO exchange — each
    * child scan reports HashPartitioning(key) and the planner takes
    * the clustering as satisfied, but the union CONCATENATES the
    * children's bucket partitions, so equal keys from DIFFERENT tables
    * never meet and a `dropDuplicates`/`groupBy` over the union
    * deduplicates only within partitions (observed on Spark 4.1:
    * byte-identical rows across two co-bucketed tables survived a
    * full-row distinct; an explicit repartition below the aggregate is
    * optimized away as redundant). Cross-TABLE aggregation over
    * bucketed tables must read at least one side through this, which
    * forces a genuine exchange. Within ONE table the layout is safe —
    * all copies of a key share a bucket, hence a scan partition. */
  def readUnbucketed(spark: SparkSession, table: String): DataFrame = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    spark.read.schema(meta.schema).parquet(meta.location.toString)
  }

  /** Equi-join of two same-key, same-bucket-count tables — planned
    * exchange-free (the point of the layout). */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Hive-style partitioned parquet layout: directory-per-value on the
    * partition columns. A filter on a partition column prunes whole
    * directories at PLANNING time (`PartitionFilters` on the scan, zero
    * I/O for pruned values) — at 100 TB, partition-by-language or
    * by-date is the difference between scanning a shard and scanning
    * the corpus. Partition columns should be low-cardinality: each
    * value is a directory, and each task writes one open file per
    * value it sees. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)
}
