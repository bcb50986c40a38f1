package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.FixedPoint.units

/** Event-time window aggregations — the batch analogs of A-1's
  * `reduceByKeyAndWindow(_ + _, Seconds(60))` with a 15 s slide
  * (`KafkaSparkProcessor.scala:131-140`; SURVEY.md §2.9).
  *
  * Window starts are computed arithmetically on epoch seconds (not with
  * `window()`'s struct column) so the same query is expressible in the
  * DuckDB oracle; `graft.streaming` uses the native `window()` form.
  *
  * Scale: both are single-shuffle partial+final hash aggregates keyed on
  * (window_start, event_type). The sliding variant explodes each row into
  * its 4 covering windows *before* the partial aggregate — 4× map-side
  * rows, still one shuffle, no self-joins.
  */
object Windows {

  /** Tumbling 60 s counts per event type. `cast(ts as long)` floors to
    * epoch seconds; `sec - (sec mod 60)` stays in exact integer arithmetic
    * (a `floor(sec/60)*60` would detour through DOUBLE). */
  def tumblingCounts(events: DataFrame): DataFrame = {
    val sec = col("ts").cast("long")
    events
      .select((sec - pmod(sec, lit(60L))).as("window_start"), col("event_type"))
      .groupBy("window_start", "event_type")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Sliding 60 s window, 15 s slide: each event belongs to the 4 windows
    * whose start is `floor((sec - off) / 60) * 60 + off` for
    * `off ∈ {0,15,30,45}` — the exact window set
    * `reduceByKeyAndWindow(..., Seconds(60))` maintains at a 15 s batch
    * interval. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .select(col("ts").cast("long").as("sec"), col("event_type"))
      .select(
        explode(array(lit(0L), lit(15L), lit(30L), lit(45L))).as("off"),
        col("sec"), col("event_type"))
      .select(
        (col("sec") - col("off") - pmod(col("sec") - col("off"), lit(60L))
          + col("off")).as("window_start"),
        col("event_type"))
      .groupBy("window_start", "event_type")
      .agg(count(lit(1)).as("cnt"))

  /** A-3 (`KafkaSparkProcessor.scala:126`): the per-batch record count,
    * batch form. */
  def streamCount(events: DataFrame): DataFrame =
    events.agg(count(lit(1)).as("n"))

  /** Per-user sessionization with a gap timeout (the session-window
    * extension from SURVEY §2.9), in the lag/cumsum form every SQL
    * engine shares: a session starts where the gap to the previous
    * event exceeds `gapSec`.
    *
    * Scale: one shuffle on user_id; the two window passes and the final
    * aggregate all share that partitioning (no re-shuffle). Per-user
    * event counts bound the window state — the standard sessionization
    * shape. Order is (sec, event_id) so ties are deterministic. */
  def userSessions(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("sec", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("sec"))
      .withColumn("prev", lag("sec", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("sec") - col("prev") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("sec").as("session_start"),
        max("sec").as("session_end"))
  }

  /** Semi-structured payload stats: the `props` column is a JSON blob
    * (schema-on-read, the event-pipeline norm), extracted per row with
    * the codegen'd `get_json_object` path expression — no UDF, no
    * driver-side parse, and the scan still prunes to (event_type,
    * props). Missing keys surface as a counted `n_missing`, not a
    * silent zero; the mean is integer-exact over the coalesced sum. */
  def eventPropStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(coalesce(col("k"), lit(0L))).as("k_sum"),
        max("k").as("k_max"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"))
      .select(col("event_type"), col("n_events"), col("k_sum"),
        col("k_max"), col("n_missing"),
        expr("k_sum div n_events").as("mean_k"))

  /** Daily activity matrix via PIVOT: one row per day, one count
    * column per event type — the wide dashboard shape. The type list
    * is pinned (never inferred): inference would run an extra distinct
    * scan AND make the output schema data-dependent, which breaks
    * checkpoint/schema contracts downstream at scale. Plans as one
    * hash aggregate over |days| groups (conditional counts fold
    * map-side); absent (day, type) combinations surface as 0, not
    * NULL, so the matrix is dense and engine-independent. */
  def eventTypePivot(events: DataFrame,
                     types: Seq[String] = Seq("click", "error", "purchase",
                       "signup", "view")): DataFrame =
    events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .groupBy("day")
      .pivot("event_type", types)
      .count()
      .na.fill(0L, types)

  /** The inverse of [[eventTypePivot]] via native UNPIVOT: the wide
    * matrix melts back to dense (day, event_type, n_events) long form
    * — zeros included, so pivot∘melt is lossless and the long form is
    * safe to re-aggregate. Unpivot is a zero-shuffle Expand over the
    * |days|-row matrix (each row fans out to |types| rows in place);
    * the only exchange in the whole plan is the pivot's own day
    * aggregate. The melted shape is what incremental consumers want
    * back (the pivot is for dashboards; joins and rollups want long). */
  def eventTypeMelt(events: DataFrame,
                    types: Seq[String] = Seq("click", "error", "purchase",
                      "signup", "view")): DataFrame =
    eventTypePivot(events, types)
      .unpivot(Array(col("day")), types.map(col).toArray,
        "event_type", "n_events")

  /** Corpus-level sessionization rollup over [[userSessions]]: the
    * engagement summary a dashboard reads — session count, events per
    * session (exact permille), single-event bounce count, and duration
    * aggregates, all integer-exact. One extra ~single-row aggregation
    * on top of the session shuffle. */
  def sessionStats(events: DataFrame, gapSec: Long = 1800L): DataFrame =
    userSessions(events, gapSec)
      .select((col("session_end") - col("session_start")).as("dur"),
        col("n_events"))
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("total_events"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_single"),
        sum("dur").as("total_dur_sec"),
        max("dur").as("max_dur_sec"))
      .select(col("n_sessions"), col("total_events"), col("n_single"),
        expr("(1000 * total_events) div n_sessions").as("mean_events_pm"),
        col("total_dur_sec"), col("max_dur_sec"),
        expr("total_dur_sec div n_sessions").as("mean_dur_sec"))

  /** As-of join — an operator Spark has no native form of (SURVEY §2.6
    * notes the reference has none either; this is the extension set):
    * for every left event, the latest right event with
    * `right.sec <= left.sec` for the same key.
    *
    * Implemented as union + carry-forward window, NOT a range join: both
    * sides shuffle once on the key, and `last(_, ignoreNulls)` over the
    * (sec, side) order propagates the most recent right value to each
    * left row — O(n log n) per key partition, no per-row range probe.
    * Right rows must be unique per (key, sec) for determinism — callers
    * pre-aggregate (e.g. max) — and sort before left rows on ties so
    * `<=` semantics hold. */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      key: String, sec: String, rightValue: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{StructField, StructType}
    val side = "__graft_asof_side"
    val rv = "__graft_asof_rv"
    require(!left.columns.contains(rightValue) &&
      !left.columns.exists(Set(side, rv)),
      s"left side must not contain columns named $rightValue/$side/$rv")
    // The carried payload is a STRUCT wrapper: a right row whose VALUE is
    // NULL still carries a non-null struct, so `last(_, ignoreNulls)`
    // matches it instead of skipping back to a stale older value (true
    // as-of semantics; DuckDB's ASOF JOIN returns the NULL).
    val rvType = StructType(Seq(StructField("v", right.schema(rightValue).dataType)))
    val l = left.withColumn(side, lit(1))
      .withColumn(rv, lit(null).cast(rvType))
    // NULL join keys / times never match (join semantics): drop them from
    // the right side; a left row with NULL sec sorts nulls-first and sees
    // no right rows, and a NULL-key partition holds no right rows — both
    // yield NULL, matching the oracle.
    val r = right.filter(col(key).isNotNull && col(sec).isNotNull)
      .select(col(key), col(sec), struct(col(rightValue).as("v")).as(rv))
      .withColumn(side, lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col(sec), col(side))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn(rv, last(col(rv), ignoreNulls = true).over(w))
      .filter(col(side) === 1)
      .withColumn(rightValue, col(rv).getField("v"))
      .drop(side, rv)
  }

  /** `asof_join` query shape: each click event joined to the latest
    * preceding purchase value of the same user. */
  def clickAsofPurchase(events: DataFrame): DataFrame = {
    val sec = col("ts").cast("long")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), sec.as("sec"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), sec.as("sec"), col("value"))
      .groupBy("user_id", "sec").agg(max("value").as("purchase_value"))
    asofJoin(clicks, purchases, "user_id", "sec", "purchase_value")
      .select("event_id", "user_id", "sec", "purchase_value")
  }

  /** Ordered conversion funnel (view → click → purchase): per stage,
    * the number of users who completed the whole PREFIX in event-time
    * order — a user counts for stage i only if their earliest
    * stage-i event at-or-after their stage-(i−1) completion time
    * exists. The strict-prefix semantics (not "did each stage ever
    * happen") is what separates a funnel from three independent
    * counts.
    *
    * Computed as a chain of per-user min-time aggregates: `t_0 =
    * min(sec | stage_0)`, `t_i = min(sec | stage_i, sec ≥ t_{i−1})`.
    * Every aggregate and join keys on user_id, so at scale the whole
    * chain rides ONE hash partitioning (no re-shuffle between
    * stages); the final report is |stages| rows built from a
    * broadcast-sized depth rollup. `conv_pm` is cumulative (vs stage
    * 0), `step_pm` is per-edge (vs previous stage) — both integer
    * permille, NULL on an empty previous stage rather than a
    * division blow-up. */
  def eventFunnel(events: DataFrame,
                  stages: Seq[String] = Seq("view", "click", "purchase"))
      : DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val e = events.select(col("user_id"), col("ts").cast("long").as("sec"),
      col("event_type"))
    // per-user completion time of each stage prefix; left-fold keeps
    // user_id co-partitioned through the chain
    val first = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("sec").as("t"))
    val perStage: Seq[DataFrame] = stages.tail.scanLeft(first) { (prev, st) =>
      e.filter(col("event_type") === st)
        .join(prev.select(col("user_id"), col("t").as("t_prev")), "user_id")
        .filter(col("sec") >= col("t_prev"))
        .groupBy("user_id").agg(min("sec").as("t"))
    }
    // |stages| single-row counts unioned into the report (each count
    // is a full aggregate over an already-small per-user table)
    val counts = perStage.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i.toLong).as("stage_idx"), lit(stages(i)).as("stage"),
          col("n_users"))
    }.reduce(_ unionAll _)
    import org.apache.spark.sql.expressions.Window
    val byIdx = Window.orderBy("stage_idx")
    // |stages|-row window: the single-partition sort is on the report,
    // never on data
    counts
      .withColumn("n_first", org.apache.spark.sql.functions.first("n_users")
        .over(byIdx.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_prev", lag("n_users", 1).over(byIdx))
      .select(col("stage_idx"), col("stage"), col("n_users"),
        when(col("n_first") > 0, expr("(1000 * n_users) div n_first"))
          .as("conv_pm"),
        when(col("n_prev") > 0, expr("(1000 * n_users) div n_prev"))
          .as("step_pm"))
  }

  /** Cohort retention matrix: users cohorted by their first active
    * day; for each (cohort_day, day_offset) cell, how many of that
    * cohort were active again `offset` days later, as a count and a
    * permille of the cohort's size. The standard "are users coming
    * back" table every activity dashboard renders.
    *
    * Scale shape: ONE wide user-keyed shuffle — `collect_set(day)`
    * dedups activity map-side and lands each user's day vector in a
    * single row (bounded by the day span, not event volume); cohort
    * (array_min) and per-day offsets derive with array ops on that
    * row, so no second event-scale exchange exists. The final
    * rollups group on ~|days|² cells / |days| cohorts, and cohort
    * sizes join back as a |days|-row broadcast. Day arithmetic is
    * `sec div 86400` — pure integers, identical in any engine. */
  def cohortRetention(events: DataFrame): DataFrame = {
    // ONE wide user-keyed shuffle: collect_set dedups days map-side
    // and lands each user's whole activity vector in one row; cohort
    // (min) and offsets then derive with array ops, no re-shuffle
    val perUser = events
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"))
      .groupBy("user_id")
      .agg(collect_set("day").as("days"))
      .select(col("user_id"), array_min(col("days")).as("cohort_day"),
        col("days"))
    val cells = perUser
      .select(col("cohort_day"), explode(col("days")).as("day"))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = perUser.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    cells.join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        expr("(1000 * n_active) div cohort_size").as("retention_pm"))
  }

  /** Trailing-window active users (the DAU/WAU dashboard series):
    * for every day in the data, the EXACT count of distinct users
    * active in the trailing `windowDays` days. Exact sliding distinct
    * cannot ride a window-function frame (distinct doesn't decompose),
    * so each user's active days fan out to the report days they cover
    * and distinct (user, report_day) contributions are counted.
    * Report days past the data's max day don't appear (no zero-fill
    * beyond the data).
    *
    * Scale shape: ONE wide user-keyed shuffle (`collect_set(day)`
    * with map-side dedup); the window fan-out AND the per-user
    * report-day dedup both happen in-array on the user's day vector
    * (bounded by the day span, not event volume), so no second
    * event-scale exchange exists; the final count groups ~|days|
    * keys. At a 90-day window over years of data, swap the exact
    * per-user vectors for per-day HLL sketch merges (the
    * [[graft.llm.TextAnalysis.approxDistinctNgrams]] trade). */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    // ONE wide user-keyed shuffle: each user's deduped day vector
    // expands to its covered report days IN-ARRAY (flatten +
    // array_distinct), so the per-(user, report_day) distinct never
    // becomes a second event-scale exchange
    val perUser = events
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"))
      .groupBy("user_id")
      .agg(collect_set("day").as("days"))
      .select(col("user_id"),
        array_distinct(flatten(transform(col("days"), d =>
          sequence(d, d + (windowDays - 1))))).as("covered"),
        array_max(col("days")).as("user_max"))
    val span = perUser.agg(max("user_max").as("max_day"))
    perUser
      .select(col("user_id"), explode(col("covered")).as("report_day"))
      .join(broadcast(span))
      .filter(col("report_day") <= col("max_day"))
      .groupBy("report_day")
      .agg(count(lit(1)).as("active_users"))
  }

  /** Event transition matrix: counts of consecutive (prev → next)
    * event-type pairs within each user's time-ordered stream, with
    * row-normalized permilles — the first-order Markov picture of how
    * users move through the product ("what follows a view?"). Ties
    * on the same second order by event_id, the repo-wide
    * deterministic tiebreak.
    *
    * Scale: one shuffle on user_id for the lag window (per-user
    * partitions, the sessionization shape); the transition rollup
    * groups |types|² keys and row totals join back as a |types|-row
    * broadcast. */
  def eventTransitions(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val pairs = events
      .select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("sec"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy("prev_type").agg(sum("cnt").as("row_total"))
    pairs.join(broadcast(totals), "prev_type")
      .select(col("prev_type"), col("next_type"), col("cnt"),
        expr("(1000 * cnt) div row_total").as("transition_pm"))
  }

  /** Time-to-convert distribution for [[eventFunnel]] completers: for
    * every user finishing the whole stage chain, the seconds from
    * first-stage entry to final-stage completion, rolled up to count
    * / min / discrete lower median / max — the latency half of the
    * funnel story (the conversion RATE is [[eventFunnel]]).
    *
    * The median is the same engine-exact ⌈n/2⌉-th-smallest used by
    * [[valueOutliers]]; here the ranked set is one row per CONVERTING
    * user, so the single-partition window is report-sized, not
    * event-sized. Stage-chain computation rides the one user-keyed
    * partitioning exactly as in [[eventFunnel]]. */
  def funnelLatency(events: DataFrame,
                    stages: Seq[String] = Seq("view", "click", "purchase"))
      : DataFrame = {
    require(stages.size >= 2, "latency needs at least two stages")
    val e = events.select(col("user_id"), col("ts").cast("long").as("sec"),
      col("event_type"))
    val first = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("sec").as("t0"))
    val completed = stages.tail.foldLeft(
      first.withColumn("t", col("t0"))) { (prev, st) =>
      e.filter(col("event_type") === st)
        .join(prev.select(col("user_id"), col("t0"), col("t").as("t_prev")),
          "user_id")
        .filter(col("sec") >= col("t_prev"))
        .groupBy("user_id", "t0").agg(min("sec").as("t"))
    }
    val lat = completed.select((col("t") - col("t0")).as("latency_sec"))
    import org.apache.spark.sql.expressions.Window
    val ranked = lat
      .withColumn("rn", row_number().over(
        Window.orderBy("latency_sec")).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(lit(1))))
    val med = ranked.filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("latency_sec").as("median_sec"))
    // Left join: when no user completes the funnel `med` is empty, and an
    // inner join would collapse the single aggregate row to zero rows —
    // the report must still emit (n_converted=0, NULL latencies).
    lat.agg(count(lit(1)).as("n_converted"),
        min("latency_sec").as("min_sec"),
        max("latency_sec").as("max_sec"))
      .join(broadcast(med), lit(true), "left")
      .select("n_converted", "min_sec", "median_sec", "max_sec")
  }

  /** Robust per-type outlier report over the metric column: median,
    * MAD (median absolute deviation) and the count of events beyond
    * 3·MAD — the standard robust alternative to mean/stddev z-scores,
    * immune to the outliers it is hunting. The data-quality gate a
    * metrics pipeline runs before trusting a day's events.
    *
    * Engine-exact by construction: values quantize to integer micros
    * and both medians are the DISCRETE lower median (the ⌈n/2⌉-th
    * smallest — `quantile_disc(0.5)` in SQL engines), computed with a
    * per-type row_number rather than an interpolating percentile, so
    * no float ever reaches the output. Tie order inside row_number
    * cannot affect WHICH VALUE sits at the median rank.
    *
    * Scale shape: two ranked passes (values, then deviations), each a
    * per-event-type sort — the type cardinality bounds parallelism,
    * so a skewed type pays one big per-partition sort; the
    * approx-percentile twin is the escape hatch at that point
    * (same trade as [[graft.llm.TextAnalysis.tokenQuantiles]] vs its
    * `_approx` form). The median/MAD tables are |types|-row
    * broadcasts. */
  def valueOutliers(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def lowerMedian(df: DataFrame, vCol: String, out: String): DataFrame = {
      val byType = Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(byType.orderBy(col(vCol))).cast("long"))
        .withColumn("n", count(lit(1)).over(byType))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(vCol).as(out))
    }
    // NULL metric values carry no evidence: excluded from the domain
    // explicitly (row_number would otherwise rank them nulls-first and
    // shift the median rank; SQL quantile_disc ignores them — both
    // engines must share one domain).
    val v = events.select(col("event_type"),
      units(col("value"), 6).as("v"))
      .filter(col("v").isNotNull)
    val med = lowerMedian(v, "v", "median_micro")
    val dev = v.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("v") - col("median_micro")))
    val mad = lowerMedian(dev.select(col("event_type"), col("dev")),
      "dev", "mad_micro")
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        max("median_micro").as("median_micro"),
        max("mad_micro").as("mad_micro"),
        sum(when(col("dev") > lit(3L) * col("mad_micro"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("event_type"), col("n_events"), col("median_micro"),
        col("mad_micro"), col("n_outliers"),
        expr("(1000 * n_outliers) div n_events").as("outlier_pm"))
  }

  /** The native Structured-Streaming-ready form of [[userSessions]]
    * (`session_window` merges state incrementally with a watermark);
    * batch-evaluable too — tests cross-validate it against the lag/cumsum
    * form. */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Per-day peak session concurrency — the capacity-planning number
    * ("how many users were on at once"), computed as the classic
    * delta sweep: +1 at each session start, −1 one second after its
    * end, net deltas per second, running sum, max. Sessions attribute
    * to the day they START (a day-crossing session counts toward its
    * start day only — the definition is exact and the oracle replays
    * it; no clip is silent).
    *
    * Scale shape: the sweep partitions by day, so the running-sum
    * sort is bounded by one day's distinct seconds — never a global
    * single-partition window. Upstream, sessions already collapsed
    * the event table on one user-keyed shuffle; everything here
    * moves (day, sec, delta) rows. */
  def sessionConcurrency(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r18 restructure (driver r17 measured the r17 persist form at
    // ×0.73 vs r16 and ANTI-scaling — slower at 32 cores than 8; the
    // cost was plan width, not recompute):
    //   - n_sessions is FUSED into the sweep: every session emits
    //     exactly one +1 delta at its start, so the per-day session
    //     count is the per-day sum of start-deltas — the third
    //     consumer of the sessionized frame, its groupBy exchange and
    //     the broadcast join all disappear (guide §1.2: don't compute
    //     things twice).
    //   - the sweep clusters by DAY ONCE: an explicit day-keyed
    //     repartition below groupBy(day, t) satisfies the clustering
    //     of the group-by, the running-sum window AND the final
    //     per-day aggregate (hash(day) clusters every (day, t) group),
    //     collapsing three differently-keyed exchanges into one
    //     (guide §2.4: operations keyed the same way share one
    //     exchange). Explicit count, so AQE's byte-based coalescing
    //     cannot fold the CPU-carrying sweep to one task.
    //   - with only the two union branches left reading the sessionized
    //     frame, the persist cost more than the recompute it saved
    //     (ReuseExchange already shares the user_id shuffle; paired A/B
    //     below) — dropped.
    val s = userSessions(events, gapSec)
      .withColumn("day",
        date_format(col("session_start").cast("timestamp"), "yyyy-MM-dd"))
    val deltas = s.select(col("day"), col("session_start").as("t"),
        lit(1L).as("d"))
      .unionAll(s.select(col("day"), (col("session_end") + 1L).as("t"),
        lit(-1L).as("d")))
      .repartition(events.sparkSession.sparkContext.defaultParallelism,
        col("day"))
      .groupBy("day", "t")
      .agg(sum("d").as("net"),
        sum(when(col("d") === 1L, 1L).otherwise(0L)).as("starts"))
    val byDay = Window.partitionBy("day").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("running", sum("net").over(byDay))
      .groupBy("day")
      .agg(max("running").as("peak_concurrent"),
        sum("starts").as("n_sessions"))
      .select(col("day"), col("n_sessions"), col("peak_concurrent"))
  }

  /** Z-order layout analysis for the events table — the decision
    * report behind multi-dimensional file clustering at 100 TB: if
    * files were written in Z-curve order over (user_id, day), what
    * min/max bounds would each file's footer carry? Both per-user and
    * per-day queries prune on those bounds; a 1-D day layout gives
    * per-user queries nothing (every file spans all users —
    * ZOrderSpec measures the difference as a file-skip count).
    *
    * Dimensions range-quantize to 8 bits against their observed
    * min/max (one 1-row broadcast — constant high bits would waste
    * curve resolution otherwise), interleave via the static
    * shift/mask fold ([[graft.functions.ZOrder]]), and group into
    * `buckets` equal Z ranges standing in for files. Everything is
    * exact integer arithmetic, so the oracle reproduces the whole
    * report — bucket population AND bounds — bit for bit.
    *
    * The write path this report prices is one
    * `repartitionByRange(z)` — a single range shuffle, the same cost
    * as any sorted write. */
  def zOrderLayout(events: DataFrame, buckets: Int = 32): DataFrame = {
    import graft.functions.ZOrder
    // Integer bucket width: a non-divisor would yield buckets+1 ranges
    // (65536/buckets truncates) and silently diverge from any consumer
    // deriving the divisor from the same constant.
    require(buckets > 0 && 65536 % buckets == 0,
      s"buckets must divide 65536 (2^16 z-values), got $buckets")
    val base = events.select(col("user_id"),
      datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("d"))
    val rng = base.agg(min("user_id").as("u_min"), max("user_id").as("u_max"),
      min("d").as("d_min"), max("d").as("d_max"))
    base.join(broadcast(rng))
      .withColumn("uq", expr("((user_id - u_min) * 256L) div (u_max - u_min + 1L)"))
      .withColumn("dq", expr("((d - d_min) * 256L) div (d_max - d_min + 1L)"))
      .withColumn("z", ZOrder.interleave(col("uq"), col("dq")))
      .withColumn("bucket", expr(s"z div ${65536L / buckets}L"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("user_id").as("min_user"), max("user_id").as("max_user"),
        min("d").as("min_day"), max("d").as("max_day"))
  }

  /** Per-type EWMA of the daily event count with spike flags — the
    * exponential-smoothing twin of [[trendSpikes]]' rolling mean (an
    * EWMA never forgets a level shift completely; the 3-bucket mean
    * does after 3 buckets — ops teams run both). All arithmetic is
    * fixed-point integer milli-counts with `div`, so the recurrence
    * is bit-identical on any engine — the oracle replays it as a
    * recursive CTE.
    *
    * An EWMA is inherently sequential, so the scale move is to make
    * the sequential part SMALL, not parallel: the fact table reduces
    * to per-(type, day) counts first (one map-side-combined shuffle),
    * and the recurrence folds a |days|-element array per type with
    * `aggregate()` — a native higher-order function over kilobyte
    * rows. Nothing sequential ever sees an event row. */
  def dailyEwma(events: DataFrame, alphaPermille: Long = 300L,
                factorPermille: Long = 2000L): DataFrame = {
    val a = alphaPermille; val b = 1000L - alphaPermille
    val daily = events
      .groupBy(col("event_type"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val series = daily
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("cnt"))))
        .as("series"))
    series.select(col("event_type"), expr(
      s"""aggregate(
         |  series,
         |  named_struct('e', -1L, 'rows',
         |    cast(array() as array<struct<day:string,cnt:bigint,
         |                                 ewma:bigint,spike:bigint>>)),
         |  (acc, x) -> named_struct(
         |    'e', CASE WHEN acc.e < 0L THEN x.cnt * 1000L
         |         ELSE ($a * x.cnt * 1000L + $b * acc.e) div 1000L END,
         |    'rows', array_append(acc.rows, named_struct(
         |      'day', x.day, 'cnt', x.cnt,
         |      'ewma', CASE WHEN acc.e < 0L THEN x.cnt * 1000L
         |              ELSE ($a * x.cnt * 1000L + $b * acc.e) div 1000L END,
         |      'spike', CASE WHEN acc.e >= 0L
         |                    AND x.cnt * 1000000L > $factorPermille * acc.e
         |               THEN 1L ELSE 0L END))),
         |  acc -> acc.rows)""".stripMargin).as("rows"))
      .select(col("event_type"), explode(col("rows")).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        col("r.cnt").as("n_events"), col("r.ewma").as("ewma_milli"),
        col("r.spike").as("is_spike"))
  }

  /** New vs returning active users per day — the growth-analytics
    * split every product dashboard leads with. Two aggregates share
    * one user-keyed exchange: the per-user first-seen day, and the
    * distinct (day, user) activity table; a user counts as NEW on
    * exactly their first-seen day. The join is |users|-sized on both
    * sides — at 100 TB both are products of the same shuffle, and the
    * daily report frame is |days| rows. */
  def newVsReturning(events: DataFrame): DataFrame = {
    val act = events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id"))
      .distinct()
    val firstSeen = act.groupBy("user_id").agg(min("day").as("first_day"))
    act.join(firstSeen, "user_id")
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"))
  }

  /** Holt double-exponential smoothing of the daily counts — the
    * trend-aware companion of [[dailyEwma]] (an EWMA lags behind any
    * sustained ramp; Holt carries an explicit trend term and its
    * one-step forecast is what capacity alerting compares against).
    * Same scale shape: the fact table reduces to |type|×|day| counts
    * in one aggregate, and the inherently sequential recurrence folds
    * over per-type sorted ARRAYS — nothing sequential ever sees an
    * event row.
    *
    * All arithmetic is fixed-point integer millis with an explicit
    * FLOOR division (`(y − pmod(y,1000)) div 1000`): the trend term
    * goes negative on down-ramps, where truncating `div` and SQL's
    * flooring `//` disagree — the floor form is written out on both
    * engines, so the recurrence is bit-identical including negatives
    * (the oracle replays it as a recursive CTE). */
  def dailyHolt(events: DataFrame, alphaPermille: Long = 300L,
                betaPermille: Long = 200L): DataFrame = {
    val a = alphaPermille; val b = 1000L - alphaPermille
    val bb = betaPermille; val cb = 1000L - betaPermille
    def fd(y: String) = s"((($y) - pmod(($y), 1000L)) div 1000L)"
    val daily = events
      .groupBy(col("event_type"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val series = daily
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("cnt"))))
        .as("series"))
    val lNew = fd(s"$a * x.cnt * 1000L + $b * (acc.l + acc.tr)")
    val trNew = fd(s"$bb * ($lNew - acc.l) + $cb * acc.tr")
    series.select(col("event_type"), expr(
      s"""aggregate(
         |  series,
         |  named_struct('l', -1L, 'tr', 0L, 'rows',
         |    cast(array() as array<struct<day:string,cnt:bigint,
         |      level:bigint,trend:bigint,forecast:bigint>>)),
         |  (acc, x) -> CASE WHEN acc.l < 0L THEN named_struct(
         |      'l', x.cnt * 1000L, 'tr', 0L,
         |      'rows', array_append(acc.rows, named_struct(
         |        'day', x.day, 'cnt', x.cnt, 'level', x.cnt * 1000L,
         |        'trend', 0L, 'forecast', x.cnt * 1000L)))
         |    ELSE named_struct(
         |      'l', $lNew, 'tr', $trNew,
         |      'rows', array_append(acc.rows, named_struct(
         |        'day', x.day, 'cnt', x.cnt, 'level', $lNew,
         |        'trend', $trNew, 'forecast', $lNew + $trNew))) END,
         |  acc -> acc.rows)""".stripMargin).as("rows"))
      .select(col("event_type"), explode(col("rows")).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        col("r.cnt").as("n_events"), col("r.level").as("level_milli"),
        col("r.trend").as("trend_milli"),
        col("r.forecast").as("forecast_milli"))
  }

  /** Distinct-user overlap between event-type pairs via KMV set
    * sketches ([[graft.functions.Kmv]]) — the audience-overlap
    * question HLL cannot answer, shaped for 100 TB: one event-scan
    * pass builds a ≤k-long sketch PER TYPE (typed bounded-buffer agg,
    * map-side partial), and every pairwise intersection is array math
    * over |types| kilobyte rows — no user-scale pair join anywhere in
    * the estimating path.
    *
    * Same reporting discipline as [[hllWeeklyUsers]]: the exact side
    * (distinct (user,type) self-join — the thing the sketch REPLACES
    * at scale; computed here as QC) defines the pair set, and the
    * sketch's properties cross to the oracle as 0/1 metrics:
    *  - `est_ok`: intersection estimate within `errPermille` of exact
    *    (exact by construction while distinct users < k — the sketch
    *    IS the value set — and ~1/√k relative error beyond);
    *  - `merge_invariant`: the per-type sketch equals the union of
    *    that type's PER-DAY sketches, as exact array equality — the
    *    retained set is a function of the input set, so any rollup
    *    tree lands on identical arrays (what makes pre-sketched daily
    *    partitions safe to re-aggregate forever). */
  def userTypeOverlap(events: DataFrame, k: Int = 1024,
                      errPermille: Long = 50L): DataFrame = {
    import graft.functions.Kmv
    val spark = events.sparkSession
    import spark.implicits._
    val hashed = events.select(col("event_type"),
      date_trunc("DAY", col("ts")).as("day"), xxhash64(col("user_id")).as("h"))
    // Tuple group key (not a packed string): an event_type containing the
    // would-be separator can never mis-split, and the file stays greppable
    // text. `day_s` is empty for the direct per-type sketch so both
    // variants share one code path.
    def sketchBy(withDay: Boolean): DataFrame =
      hashed.select(col("event_type"),
          (if (withDay) date_format(col("day"), "yyyy-MM-dd") else lit(""))
            .as("day_s"), col("h"))
        .as[(String, String, Long)]
        .groupByKey(t => (t._1, t._2)).mapValues(_._3)
        .agg(new Kmv.KmvAgg(k).toColumn.name("sk"))
        .toDF("key", "sk")
        .select(col("key._1").as("event_type"), col("sk"))
    val direct = sketchBy(withDay = false)
    val rolled = sketchBy(withDay = true)
      .groupBy("event_type")
      .agg(Kmv.unionAll(collect_list(col("sk")), k).as("sk_rolled"))
    val sk = direct.join(rolled, "event_type")
      .withColumn("merge_ok",
        when(col("sk") === col("sk_rolled"), 1L).otherwise(0L))
    val p = events.select("user_id", "event_type").distinct()
    val exact = p.as("a").join(p.as("b"), Seq("user_id"))
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    exact
      .join(sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
        col("merge_ok").as("m_a")), "type_a")
      .join(sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
        col("merge_ok").as("m_b")), "type_b")
      .withColumn("est", Kmv.intersectEstimate(col("sk_a"), col("sk_b"), k))
      .select(col("type_a"), col("type_b"), col("exact_overlap"),
        when(abs(col("est") - col("exact_overlap")) * 1000L
          <= lit(errPermille) * col("exact_overlap"), 1L).otherwise(0L)
          .as("est_ok"),
        least(col("m_a"), col("m_b")).as("merge_invariant"))
  }

  /** Incremental-view-maintenance proof for the daily rollup: the
    * corpus splits at a day boundary into a "yesterday's materialized
    * view" half and a "today's delta" half, each aggregates
    * INDEPENDENTLY, and the two partial states merge by re-aggregation
    * — count and sum are mergeable, so merge(Σold, Σnew) must equal
    * recompute(all), and the ORACLE computes the recompute side
    * directly from raw events. This is the contract that lets a
    * 100 TB nightly maintain its rollups by touching only the new
    * partition: the merge shuffles |groups| partial rows, never the
    * historical fact table. */
  def incrementalRollup(events: DataFrame,
                        splitDay: String = "1970-01-08"): DataFrame = {
    def partial(df: DataFrame): DataFrame = df
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"),
        units(col("value"), 2).as("v_c"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(coalesce(col("v_c"), lit(0L))).as("value_c"))
    val base = partial(events.filter(
      col("ts") < lit(splitDay).cast("timestamp")))
    val delta = partial(events.filter(
      col("ts") >= lit(splitDay).cast("timestamp")))
    base.unionAll(delta)
      .groupBy("day", "event_type")
      .agg(sum("n_events").as("n_events"), sum("value_c").as("value_c"))
  }

  /** Last-touch purchase attribution: every purchase attributes to the
    * LATEST view by the same user at or before it, within the
    * attribution window — the marketing-analytics as-of shape. Same
    * union + carry-forward plan as [[asofJoin]]: one shuffle on
    * user_id, views sort before purchases at equal seconds (a view in
    * the same second counts), `last(ignoreNulls)` carries the most
    * recent view time forward, and the window bound applies as a
    * residual. No per-purchase subquery, no range join — the carry
    * costs one user-keyed sort regardless of window size. */
  def purchaseAttribution(events: DataFrame,
                          windowSec: Long = 7L * 86400): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events.select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("sec"), col("event_type"))
    val tagged = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("sec"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"), col("sec").as("view_sec"))
      .unionAll(e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sec"), lit(1).as("kind"),
          col("event_id"), lit(null).cast("long").as("view_sec")))
    val byUser = Window.partitionBy("user_id").orderBy("sec", "kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_view", last("view_sec", ignoreNulls = true)
        .over(byUser))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("sec").as("purchase_sec"),
        when(col("last_view").isNotNull &&
          col("sec") - col("last_view") <= windowSec, col("last_view"))
          .as("attributed_view_sec"))
      .withColumn("delay_sec",
        col("purchase_sec") - col("attributed_view_sec"))
      .withColumn("attributed",
        when(col("attributed_view_sec").isNotNull, 1L).otherwise(0L))
  }

  /** Per-type value quantiles via the MERGEABLE bottom-k sample
    * sketch ([[graft.functions.BottomK]]) — the quantile leg of the
    * sketch algebra (KMV/HLL: distinct; Misra-Gries: heavy hitters).
    * Unlike `approx_percentile`'s one-shot answer, the sketch is an
    * ARTIFACT: per-day sketches union into per-type by plain array
    * ops, and because the retained set is a function of the input
    * set, the rollup lands on the IDENTICAL array — checked here as
    * exact equality (`merge_invariant`). Estimates stay engine-side;
    * what crosses to the oracle are 0/1 metrics: p50/p90 inside the
    * exact ±`epsPermille` rank band (the QC side pays one per-type
    * sort — at true scale it is sampled, not run per-query).
    * Scale shape: one shuffle of slim (type, day, hash, value) rows
    * into kilobyte sketches; the estimate path never re-touches
    * events. */
  def valueQuantilesSketch(events: DataFrame, k: Int = 512,
                           epsPermille: Long = 80L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.BottomK
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        xxhash64(col("event_id")).as("h"),
        units(col("value"), 6).as("v"))
      .filter(col("v").isNotNull)
    def sketchBy(withDay: Boolean): DataFrame =
      rows.select(col("event_type"),
          (if (withDay) col("day") else lit("")).as("day_s"),
          col("h"), col("v"))
        .as[(String, String, Long, Long)]
        .groupByKey(t => (t._1, t._2)).mapValues(t => (t._3, t._4))
        .agg(new BottomK.BottomKAgg(k).toColumn.name("sk"))
        .toDF("key", "sk")
        .select(col("key._1").as("event_type"), col("sk"))
    val direct = sketchBy(withDay = false)
    // day partitions are disjoint (an event id has ONE day), so the
    // rollup union skips the O(n²) struct-distinct pass — see
    // BottomK.unionDisjoint (13 s -> sub-second, measured)
    val rolled = sketchBy(withDay = true)
      .groupBy("event_type")
      .agg(BottomK.unionDisjoint(collect_list(col("sk")), k)
        .as("sk_rolled"))
    // exact rank bands — integer arithmetic so the band edges are
    // engine-exact: lo = max(1, n·(q−ε) div 1000), hi = ceil analog.
    // ONE sort pass total: counts come from a hash aggregate (a
    // count-over-partition window would be a second sort), and all
    // four band ranks extract from the same ranked frame via
    // conditional aggregates (the first cut ran four window passes
    // over the event table and was the bench's slowest query by 5×).
    val counts = rows.groupBy("event_type").agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy("event_type").orderBy("v")
    val ranked = rows
      .withColumn("rn", row_number().over(byType).cast("long"))
      .join(broadcast(counts), "event_type")
    def loR(qpm: Long) =
      greatest(lit(1L), expr(s"(n * ${qpm - epsPermille}) div 1000"))
    def hiR(qpm: Long) =
      least(col("n"), expr(s"(n * ${qpm + epsPermille} + 999) div 1000"))
    val bands = ranked
      .filter(col("rn") === loR(500L) || col("rn") === hiR(500L) ||
        col("rn") === loR(900L) || col("rn") === hiR(900L))
      .groupBy("event_type")
      .agg(min(when(col("rn") === loR(500L), col("v"))).as("lo_p50"),
        max(when(col("rn") === hiR(500L), col("v"))).as("hi_p50"),
        min(when(col("rn") === loR(900L), col("v"))).as("lo_p90"),
        max(when(col("rn") === hiR(900L), col("v"))).as("hi_p90"))
    direct
      .join(broadcast(rolled), "event_type")
      .join(broadcast(bands), "event_type")
      .join(broadcast(counts.select(col("event_type"),
        col("n").as("n_events"))), "event_type")
      .select(col("event_type"), col("n_events"),
        size(col("sk")).cast("long").as("n_retained"),
        when(BottomK.quantile(col("sk"), 0.5).between(
          col("lo_p50"), col("hi_p50")), 1L).otherwise(0L).as("p50_ok"),
        when(BottomK.quantile(col("sk"), 0.9).between(
          col("lo_p90"), col("hi_p90")), 1L).otherwise(0L).as("p90_ok"),
        when(col("sk") === col("sk_rolled"), 1L).otherwise(0L)
          .as("merge_invariant"))
  }

  /** Weekly distinct users via MERGEABLE HLL sketches — the sketch
    * re-aggregation pattern that makes distinct counting tractable at
    * 100 TB: sketch ONCE at the finest granularity (per day), then
    * roll up along any hierarchy by unioning fixed-size register
    * arrays (`hll_union_agg`), never re-touching the fact table. A
    * daily sketch at lgK=12 is ≤ ~2.5 KB regardless of cardinality,
    * so the weekly rollup shuffles |days| kilobyte rows where the
    * exact rollup re-shuffles every event.
    *
    * The output carries the two properties that make the pattern
    * trustworthy, each as an oracle-checkable 0/1 metric (the
    * `lsh_frag_stats` discipline — invariants as
    * data, estimates never leave the engine):
    *  - `merge_invariant`: the week estimate is IDENTICAL whether the
    *    daily sketches are unioned directly or through an intermediate
    *    2-chunk rollup — union is register-wise max, so any
    *    re-aggregation tree lands on the same registers (the exactness
    *    HIP estimators give up post-union; what's left is still
    *    deterministic and shape-independent, which is what a
    *    re-aggregating warehouse needs);
    *  - `est_ok`: the merged estimate is within `errPermille` of the
    *    exact distinct count (lgK=12 ⇒ ~1.6% relative standard error;
    *    the exact side costs one extra event-scale shuffle and exists
    *    for the QC report — at true scale it is sampled, not run
    *    per-query).
    *
    * The alternative (approx_count_distinct) yields one number per
    * group but no mergeable artifact — no rollup, no cross-snapshot
    * union, no incremental maintenance; persisting the sketch column
    * is the point. */
  def hllWeeklyUsers(events: DataFrame, lgK: Int = 12,
                     errPermille: Long = 50L): DataFrame = {
    val daily = events
      .select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), lgK).as("sk"))
      .withColumn("week", date_trunc("WEEK", col("day")))
    val direct = daily.groupBy("week")
      .agg(count(lit(1)).as("n_days"), hll_union_agg(col("sk")).as("sku"))
    val rechunked = daily
      .withColumn("chunk", pmod(dayofyear(col("day")), lit(2)))
      .groupBy("week", "chunk")
      .agg(hll_union_agg(col("sk")).as("skc"))
      .groupBy("week")
      .agg(hll_union_agg(col("skc")).as("sku2"))
    val exact = events
      .select(date_trunc("WEEK", col("ts")).as("week"), col("user_id"))
      .groupBy("week")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    direct.join(rechunked, "week").join(exact, "week")
      .select(date_format(col("week"), "yyyy-MM-dd").as("week"), col("n_days"),
        col("exact_users"),
        when(abs(hll_sketch_estimate(col("sku")) - col("exact_users")) * 1000L
          <= lit(errPermille) * col("exact_users"), 1L).otherwise(0L)
          .as("est_ok"),
        when(hll_sketch_estimate(col("sku")) ===
          hll_sketch_estimate(col("sku2")), 1L).otherwise(0L)
          .as("merge_invariant"))
  }
}
