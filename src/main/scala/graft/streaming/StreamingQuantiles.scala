package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.BottomK
import graft.functions.FixedPoint.units

/** Continuous per-type value quantiles — the streaming leg of the
  * bottom-k sample sketch ([[graft.functions.BottomK]]), completing
  * the stream/batch symmetry the other sketches already have
  * ([[StreamingDistinct]] for KMV, [[StreamingHeavyHitters]] for
  * Misra-Gries):
  *
  *   - state per event type is ONE bounded (hash, value) buffer
  *     (≤ 2k longs forever — no watermark needed, the state never
  *     grows with the stream);
  *   - the per-row update is [[BottomK.insert]], the IDENTICAL code
  *     the batch Aggregator runs over the same column-side
  *     `xxhash64(event_id)` — the retained set is a function of the
  *     input set, so after any trigger sequence it EQUALS the batch
  *     sketch of the concatenated input exactly (spec-pinned), and
  *     emitted quantiles match the batch estimates bit-for-bit;
  *   - each trigger emits the updated types' current p50/p90 micros
  *     (Update mode — the estimate revises as data arrives; unlike
  *     distinct counts it is NOT monotone, which is why the sketch,
  *     not a running max, is the state).
  *
  * An at-least-once replay re-inserts identical (hash, value) pairs,
  * which the buffer dedups by hash — the same idempotence that makes
  * the batch sketch multiplicity-blind. */
object StreamingQuantiles {

  final case class QState(n: Int, hs: Array[Long], vs: Array[Long])
  final case class QuantileEstimate(event_type: String, retained: Int,
                                    p50_micro: Long, p90_micro: Long)

  val DefaultK = 512

  /** Streaming quantile tracker. `events` needs `event_type`,
    * `event_id` and `value` columns; run in Update mode. NULL values
    * carry no evidence and are excluded, same domain decision as
    * [[graft.ops.Windows.valueOutliers]]. */
  def estimateStream(events: DataFrame,
                     k: Int = DefaultK): Dataset[QuantileEstimate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), xxhash64(col("event_id")).as("h"),
        units(col("value"), 6).as("v"))
      .filter(col("v").isNotNull)
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        update(k))
  }

  /** Discrete ⌈q·m⌉-th smallest retained value — the same rank
    * convention as [[BottomK.quantile]], Scala-side so stream
    * emissions and batch columns agree bit-for-bit. */
  private[streaming] def quantileOf(vs: Array[Long], n: Int,
                                    q: Double): Long = {
    val sorted = java.util.Arrays.copyOf(vs, n)
    java.util.Arrays.sort(sorted)
    sorted(math.max(1, math.ceil(q * n).toInt) - 1)
  }

  private def update(k: Int)(
      eventType: String, rows: Iterator[(String, Long, Long)],
      state: GroupState[QState]): Iterator[QuantileEstimate] = {
    val st = state.getOption.getOrElse(
      QState(0, Array.emptyLongArray, Array.emptyLongArray))
    var buf = (st.n, st.hs, st.vs)
    rows.foreach { case (_, h, v) =>
      buf = BottomK.insert(buf, h ^ Long.MinValue, v, k)
    }
    state.update(QState(buf._1, buf._2, buf._3))
    if (buf._1 == 0) Iterator.empty
    else Iterator.single(QuantileEstimate(eventType, buf._1,
      quantileOf(buf._3, buf._1, 0.5), quantileOf(buf._3, buf._1, 0.9)))
  }
}
