package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frozen-profile outlier gate for metric streams — the streaming twin
  * of [[graft.ops.Windows.valueOutliers]], deployed the way robust
  * monitors actually run: the median/MAD profile is computed OFFLINE
  * on a trusted batch window, frozen into the stream plan as a
  * literal map, and applied per row with no join, no aggregation, no
  * state store (the [[DocStream.modelGate]] shape). Re-freezing is a
  * stream restart with a new literal — profile drift is a deploy, not
  * a state migration, so the gate's semantics are reproducible from
  * the code alone.
  *
  * A row passes when `|round(value·10⁶) − median| ≤ nMads·MAD` for
  * its event type; types absent from the profile pass (no evidence is
  * not evidence of anomaly — the conservative default for a gate that
  * DROPS data). All integer micros, same quantization as the batch
  * operator, so gate decisions match the batch outlier flags row for
  * row. */
object MetricGate {

  /** Batch-side profile: event_type → (median_micro, mad_micro),
    * collected from [[graft.ops.Windows.valueOutliers]]. The collect
    * is |event types|-sized — parameters, not data (the
    * [[graft.llm.Classifier.freezeWeights]] contract). */
  def freezeProfile(events: DataFrame): Map[String, (Long, Long)] =
    graft.ops.Windows.valueOutliers(events).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("median_micro"), r.getAs[Long]("mad_micro"))))
      .toMap

  /** The per-row keep predicate over a frozen profile, exposed for
    * batch/stream parity tests. */
  def keepExpr(eventType: Column, value: Column,
               profile: Map[String, (Long, Long)],
               nMads: Long = 3L): Column = {
    if (profile.isEmpty) lit(true)
    else {
      val med = map(profile.toSeq.sortBy(_._1).flatMap { case (k, (m, _)) =>
        Seq(lit(k), lit(m)) }: _*)
      val mad = map(profile.toSeq.sortBy(_._1).flatMap { case (k, (_, d)) =>
        Seq(lit(k), lit(d)) }: _*)
      val v = graft.functions.FixedPoint.units(value, 6)
      // NULL values pass explicitly (the comparison would be NULL and the
      // filter would silently drop them): no evidence is not evidence of
      // anomaly — same domain decision as the batch operator, which
      // excludes NULLs from its medians rather than ranking them.
      value.isNull ||
        element_at(med, eventType).isNull ||
        abs(v - element_at(med, eventType)) <=
          lit(nMads) * element_at(mad, eventType)
    }
  }

  /** Stateless stream filter: keep in-band rows (needs `event_type`
    * and `value` columns). */
  def outlierGate(events: DataFrame, profile: Map[String, (Long, Long)],
                  nMads: Long = 3L): DataFrame =
    events.filter(keepExpr(col("event_type"), col("value"), profile, nMads))
}
