package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries read through here so filters/projections are declared on the
  * raw scan and Catalyst can push them into the parquet reader (check
  * `PushedFilters`/`ReadSchema` in `.explain("formatted")`). At 100 TB the
  * same call reads a partitioned table directory; nothing here assumes a
  * single file.
  */
object Tables {

  /** A path's inferred schema and what it was inferred from: the
    * session's parquet confs and a digest of the file listing. */
  private final case class Inferred(schema: StructType,
                                    confs: Map[String, String],
                                    listing: String)

  private val inferred = new ConcurrentHashMap[String, Inferred]()

  /** Read one table, inferring its schema once per path.
    *
    * A schema-less `spark.read.parquet` runs a Spark job to infer the
    * schema (`SchemaMergeUtils.mergeSchemasInParallel` reads a footer):
    * 104-154 ms and one job per read at `local[4]`, against 13-29 ms and
    * no job with the schema given. Every registry query starts here, so
    * that job used to be half of the `registry_queries` jobs per pass.
    * The first read of a path infers as before and keeps the schema;
    * later reads pass it with `.schema(...)`.
    *
    * A hit is used only when the session's parquet confs (every
    * `getAllConfs` key containing `parquet`, e.g. `binaryAsString`,
    * `nanosAsLong`) equal those it was inferred under, and the new
    * relation's file listing — which Spark makes on every read anyway —
    * has the same sorted `(path, length, mtime)` digest. Otherwise the
    * path is inferred again. So a hit returns exactly the schema
    * inference would return for the same files. Only the schema is
    * kept: a cached `DataFrame` or relation would keep a stale listing
    * and stay bound to one session. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val confs = spark.sessionState.conf.getAllConfs.filter(_._1.contains("parquet"))
    val hit = Option(inferred.get(path)).filter(_.confs == confs).flatMap { c =>
      val df = spark.read.schema(c.schema).parquet(path)
      Option.when(listing(df).contains(c.listing))(df)
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      listing(df).foreach(l => inferred.put(path, Inferred(df.schema, confs, l)))
      df
    }
  }

  /** SHA-256 over the sorted `(path, length, mtime)` of the files `df`
    * reads; `None` when it reads no listed file relation. */
  private def listing(df: DataFrame): Option[String] = {
    val files = fileRelations(df).flatten.flatMap(_.location match {
      case index: PartitioningAwareFileIndex => index.allFiles()
      case _ => Nil
    })
    Option.when(files.nonEmpty) {
      val md = MessageDigest.getInstance("SHA-256")
      files.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n")
        .sorted.foreach(line => md.update(line.getBytes(UTF_8)))
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  /** Unsplittable-input guard (optimization guide §2.5 "input skew:
    * one huge unsplittable file", §6 split sizing), applied SURGICALLY
    * at operator inputs whose map-side derivation is the query's
    * dominant cost — never blanket: when the scan yields fewer slices
    * than the session has cores, every map-side operator above it
    * (tokenize/shingle/explode, regex chains, partial aggregation)
    * runs serialized on those few tasks while the rest of the machine
    * idles. The driver-generated tables are exactly that shape: one
    * parquet file with ONE row group per table (verified with
    * pyarrow), so no split config can ever parallelize the read —
    * measured on kn_surprisal at sf0.1, the two corpus-derivation
    * broadcast builds ran as 1-task stages of ~5 s CPU each with 31
    * cores idle.
    *
    * When under-split, redistribute ONCE right after the read — on a
    * production-layout table (100 TB = thousands of splits) the guard
    * never fires and this is the identity; locally it unlocks
    * full-width map-side parallelism for one round-robin exchange of
    * the (column-pruned, filter-pushed — Catalyst pushes both through
    * a Repartition) scan output. NOT applied inside [[apply]] for all
    * queries: the same-session A/B measured it a clear LOSS on queries
    * whose per-row work is cheap (q6_forecast 0.24→1.17 s — the
    * round-robin exchange plus its retry-determinism sort costs more
    * than it parallelizes) and a ~2× win on corpus-derivation queries
    * (kn_surprisal 7.3→3.8 s, bigram_surprisal 5.7→3.0 s), so each
    * call site is individually measured. Results are unaffected: the
    * registry bans nondeterministic row functions (no rand()/sample()/
    * monotonically_increasing_id), and the full oracle record is
    * re-checked green after every adoption. */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedScanSlices(df).exists(_ < cores)) df.repartition(cores)
    else df
  }

  /** Estimated scan-task count of `df`'s leaf file relations, from
    * catalog/file-index METADATA only — deliberately NOT
    * `df.rdd.getNumPartitions`: building the RDD fires a
    * QueryExecutionListener event (funcName "rdd") and runs a real
    * job, which (a) costs one wasted job per [[spread]] call and
    * (b) trips one-shot [[Caches.releaseAfterNextAction]] listeners
    * registered by an earlier operator in the same query — measured as
    * dedup_recall_audit recomputing its unpersisted shingle table 4×
    * (3.3 s → 66 s at sf0.1) the moment a sibling operator called
    * spread after the listener was armed.
    *
    * Per file-relation leaf: each file contributes at least one task
    * and splits at `spark.sql.files.maxPartitionBytes` — the same
    * quantities FileSourceScanExec's packing uses, minus the open-cost
    * refinement, which cannot change the under-split verdict (open
    * cost only PACKS MORE files per task, never splits finer).
    * `None` (⇒ no repartition) when any leaf is not a file relation —
    * in-memory batches, cached relations and streaming sources are
    * already distributed by their producers. */
  private def estimatedScanSlices(df: DataFrame): Option[Long] = {
    val maxSplit = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val perLeaf = fileRelations(df).map(_.map { fs =>
      val files = math.max(1L, fs.location.inputFiles.length.toLong)
      val bytes = fs.location.sizeInBytes
      math.max(files, (bytes + maxSplit - 1) / maxSplit)
    })
    if (perLeaf.isEmpty || perLeaf.contains(None)) None
    else Some(perLeaf.flatten.sum)
  }

  /** Each leaf of `df`'s plan: its file relation, or `None`. */
  private def fileRelations(df: DataFrame): Seq[Option[HadoopFsRelation]] =
    df.queryExecution.analyzed.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(fs)
        case _ => None
      }
      case _ => None
    }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  /** `events.ts` has shipped under several parquet encodings across testdata
    * regenerations; normalize them all to TimestampType (session TZ pinned
    * UTC everywhere) so downstream `cast("long")` = epoch seconds:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright;
    *    with `spark.sql.legacy.parquet.nanosAsLong` (set in every session
    *    builder here) it arrives as LongType nanos — exact integer division
    *    (a double detour would lose precision: 1.7e18 ns > 2^53).
    *  - TIMESTAMP(micros, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ, and `cast(ntz as long)` is illegal under ANSI —
    *    rewrite to TimestampType; with UTC session TZ the instants match
    *    DuckDB's `epoch(ts)` exactly.
    *  - TIMESTAMP(micros, adjusted): already TimestampType, pass through. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = apply(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("ts div 1000000000").cast("timestamp"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
