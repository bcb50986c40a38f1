package graft.streaming

import org.apache.spark.sql.DataFrame

/** Batch-output sinks used from `foreachBatch` (S-1..S-8, SURVEY §2.7).
  *
  * The reference's sink stack is: per-batch dedup → console `show()` →
  * Mongo append with `repartition(10)`, plus a dead MySQL JDBC variant,
  * with the first batch dropping the target store (accumulator-gated,
  * A-5/S-6/S-7). `foreachBatch` provides the batch id natively, so the
  * accumulator trick collapses to `batchId == 0`.
  */
trait TrendSink {
  def write(df: DataFrame, batchId: Long): Unit
}

object TrendSink {

  /** S-4 analog (+S-6/S-7/A-5): parquet store with first-batch
    * truncation. Mongo/MySQL become this sink with a different
    * `DataFrameWriter` format on a real cluster — append-mode semantics
    * are identical.
    *
    * S-8 is not ported: each batch is written with the partitioning its
    * data arrives in. The reference's `repartition(10)` spread connection
    * load over Mongo writers; here a deduped trend batch is a handful of
    * rows, and the round-robin exchange plus ten write tasks are pure
    * overhead: in a traced perfbench `trend_stream` pair at 4 cores,
    * dropping them cut `sinks.write_ms` per pass from 463 to 337 ms, jobs
    * from 6 to 4 and tasks from 30 to 10. */
  final case class ParquetSink(
      path: String,
      truncateFirstBatch: Boolean = true) extends TrendSink {
    def write(df: DataFrame, batchId: Long): Unit = {
      val mode =
        if (truncateFirstBatch && batchId == 0L) "overwrite" else "append"
      df.write.mode(mode).parquet(path)
    }
  }

  /** S-5 (dead code in the reference, `KafkaSparkProcessor.scala:259-283`):
    * JDBC append with the same first-batch DROP semantics (S-6). Kept
    * behind the trait; exercised only where a JDBC url is reachable. */
  final case class JdbcSink(
      url: String,
      table: String,
      props: java.util.Properties,
      repartition: Option[Int] = Some(10)) extends TrendSink {
    def write(df: DataFrame, batchId: Long): Unit = {
      val out = repartition.map(df.repartition(_)).getOrElse(df)
      val mode = if (batchId == 0L) "overwrite" else "append"
      out.write.mode(mode).jdbc(url, table, props)
    }
  }

  /** S-3: console `show()` per batch. */
  final case class ConsoleSink(numRows: Int = 20) extends TrendSink {
    def write(df: DataFrame, batchId: Long): Unit = df.show(numRows, false)
  }

  /** S-1 stand-in: the Kafka producer sink re-expressed. Keeps the
    * producer option names (`KafkaTwitterProducer.java:80-86`); collects
    * to an in-memory buffer for tests (`topic` → buffer key). On a real
    * cluster this is `df.write.format("kafka").option("topic", ...)`. */
  final class MemoryProducerSink(
      val topic: String = "tweets-1",
      val acks: String = "all",
      val batchSize: Int = 16384,
      val lingerMs: Int = 1) extends TrendSink {
    val buffer = new scala.collection.concurrent.TrieMap[Long, Array[org.apache.spark.sql.Row]]()
    def write(df: DataFrame, batchId: Long): Unit =
      buffer.put(batchId, df.collect())
  }

  /** Fan-out to several sinks (console + store, like the reference's
    * show-then-write loop `KafkaSparkProcessor.scala:116-120`). */
  final case class MultiSink(sinks: Seq[TrendSink]) extends TrendSink {
    def write(df: DataFrame, batchId: Long): Unit = {
      df.persist()
      try sinks.foreach(_.write(df, batchId))
      finally df.unpersist()
    }
  }
}
