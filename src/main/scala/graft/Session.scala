package graft

import org.apache.spark.sql.SparkSession

/** The one place that knows graft's session config. Every main builds
  * its session through [[local]], and the test session starts from
  * [[builder]], so a setting every run needs cannot go missing from one
  * copy: `events.parquet` carries TIMESTAMP(NANOS), which Spark refuses
  * to read without `nanosAsLong` (`Tables.events` turns the long nanos
  * back into TimestampType).
  *
  * Wiring follows the `SqlStrategy.setup` pattern: the extensions are
  * registered idempotently on the live session
  * ([[graft.functions.GraftExtensions.register]]), not through
  * `spark.sql.extensions`. */
object Session {

  /** Cores for a main's `local[n]` master: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with shuffle partitions = cpus, UTC session time,
    * nanos-as-long parquet timestamps, the UI off and the fork-free
    * local file system ([[graft.io.LocalIo]]). */
  def builder(cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    graft.io.LocalIo.hadoopConf.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    b
  }

  /** [[builder]] plus the extra `conf` pairs, log level WARN and the
    * graft extensions registered. */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val spark = conf.foldLeft(builder(cpus)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    spark
  }
}
