package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** One CLOSED session emitted by the streaming sessionizer (Append
  * mode cannot emit in-progress updates). Top-level: Spark's state/row
  * encoders codegen against these and need stable, outer-pointer-free
  * classes. Totals are decimal — matching the batch twin's exact
  * arithmetic. */
case class SessionUpdate(userId: Long, nEvents: Long, totalValue: java.math.BigDecimal,
    sessionStart: java.sql.Timestamp, sessionEnd: java.sql.Timestamp)

/** Keyed per-user session state (O(1) per user). */
case class SessionState(nEvents: Long, totalValue: java.math.BigDecimal,
    start: java.sql.Timestamp, last: java.sql.Timestamp)

/** Running per-user funnel counters emitted each batch the user's
  * counts change (counts are MONOTONE — a newer row supersedes older
  * ones for the same user). */
case class FunnelUpdate(userId: Long, nViews: Long, nConverted: Long)

/** One enriched left-side event from the streaming as-of join
  * (priorTsUs = -1 when no right-side event preceded it). */
case class AsofUpdate(eventId: Long, userId: Long, tsUs: Long, priorTsUs: Long)

/** Keyed as-of state: the greatest right-side event time seen for this
  * user — O(1) regardless of stream length. */
case class AsofState(lastRightTsUs: Long)

/** Keyed per-user funnel state: the last event's (type, micros) for
  * the adjacency test plus the running counters — O(1) per user
  * regardless of stream length. */
case class FunnelState(lastType: String, lastTsUs: Long,
    nViews: Long, nConverted: Long)

/** One first-ever sighting of a user (dayUs = the UTC day-truncated
  * event time in micros), emitted exactly once per user. */
case class FirstSeen(userId: Long, dayUs: Long)

/** One observed (event_type → next event_type) adjacency — the delta
  * feed whose plain count aggregate IS the transition matrix. */
case class TransitionDelta(eventType: String, nextType: String)

/** Keyed per-user adjacency state: the last event's (type, micros,
  * id) — O(1) per user regardless of stream length. */
case class TransState(lastType: String, lastTsUs: Long)

/** One observed inter-event gap, keyed by the LATER event — the delta
  * feed whose aggregate is [[Events.interEventGaps]]'s per-user stats
  * (or [[Events.gapPercentiles]]'s distribution). */
case class GapDelta(userId: Long, eventId: Long, gapUs: Long)

/** Keyed per-user cadence state: the last event's (micros, id) plus a
  * seen flag — O(1) per user regardless of stream length. */
case class GapState(lastTsUs: Long, lastEventId: Long, seen: Boolean)

/** Event analytics over the `events` table (event_id, ts, user_id,
  * event_type, value, props), in two forms:
  *
  *  1. BATCH operators (oracle-checked) — the exact computation, used
  *     for backfill and as the semantic ground truth;
  *  2. STREAMING operators — the same aggregations as unbounded
  *     Structured Streaming plans with watermarks and, for
  *     sessionization, explicit keyed state via
  *     `flatMapGroupsWithState`.
  *
  * The reference has no streaming at all (SURVEY.md §2-I) — this is
  * the scale-path extension: at 100 TB/day, the tumbling/session
  * aggregates run incrementally with bounded state instead of
  * re-scanning history.
  */
object Events {

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  // ---------------------------------------------------------------- batch

  /** `value` as exact decimal — double sums are order-dependent across
    * engines/partitionings; decimal sums are associative and therefore
    * deterministic at any parallelism (this is also the right call at
    * 100 TB: partial-aggregate order is never reproducible there).
    *
    * The AGGREGATION runs in decimal; the FINAL projection casts the
    * total to DOUBLE so the driver's canonical-value hash agrees with
    * the DuckDB-via-pandas oracle (which coerces decimals to float64).
    * Decimal→double conversion of one already-exact total is itself
    * deterministic — the order-dependence only afflicts double SUMS. */
  private def valueDec = col("value").cast("decimal(18,6)")

  /** Hourly tumbling counts per event type. date_trunc (not window())
    * keys the group — identical semantics, cross-engine comparable. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events.groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(valueDec).cast("double").as("total_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Gap-based sessionization (30-min inactivity): lag + running sum
    * assigns session ordinals per user, then session-level rollup.
    * One shuffle on user_id; the two windows share the partitioning. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionized(events, gapMinutes)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        sum(valueDec).cast("double").as("total_value"))
      .orderBy("user_id", "session_seq")

  /** The shared sessionization core: events plus a `session_seq`
    * column (gaps-and-islands over the (ts, event_id) total order,
    * microsecond-exact gap test — both engines compare the same
    * integers). One copy feeds [[sessionize]] and
    * [[sessionPercentiles]] so the session definition can never
    * drift between the listing and the distribution. */
  private def sessionized(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val newSession = when(
      unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
        > gapMinutes * 60L * 1000000L, 1L).otherwise(lit(0L))
    events.withColumn("is_new",
        when(lag(col("ts"), 1).over(byUser).isNull, 1L).otherwise(newSession))
      .withColumn("session_seq", sum(col("is_new")).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Corpus-wide SESSION-shape distribution — duration and size
    * percentiles over the [[sessionized]] islands, one row: the
    * numbers that justify (or indict) the chosen gap threshold and
    * size state stores for stateful streaming. Durations are exact
    * integer µs (max − min per session), so `percentile` /
    * `quantile_cont` interpolate bit-identically; n_events is an
    * exact long.
    *
    * Scale shape: the session windows shuffle once on user_id (same
    * exchange as [[sessionize]]); sessions collapse to one row each
    * in the (user, seq) aggregate (partial combine absorbs the
    * events), and the global exact percentile buffers only the
    * |sessions|-sized duration column — with `approx_percentile` as
    * the drop-in sketch at extreme scale, mirroring
    * fi_size_percentiles' pairing. */
  def sessionPercentiles(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionized(events, gapMinutes)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("dur_us"))
      .agg(count(lit(1)).as("n_sessions"),
        expr("percentile(dur_us, 0.5D)").as("dur_p50"),
        expr("percentile(dur_us, 0.9D)").as("dur_p90"),
        max(col("dur_us")).as("dur_max"),
        expr("percentile(n_events, 0.5D)").as("events_p50"),
        expr("percentile(n_events, 0.9D)").as("events_p90"))

  /** Per-event trailing-hour activity via a RANGE window over event
    * time (seconds) per user — the batch twin of a sliding-window
    * stream aggregate. */
  def rollingHourByUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    events.select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("events_last_hour"),
        sum(valueDec).over(w).cast("double").as("value_last_hour"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("events_last_hour"), col("value_last_hour"))
      .orderBy("event_id")
  }

  /** Funnel step detection: per user, 'view' events whose immediately
    * next event is a 'click' within `withinMinutes` — lead() over the
    * per-user event sequence, one shuffle on user_id. */
  def funnel(events: DataFrame, withinMinutes: Int = 10): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val marked = events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_us", lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
    marked.filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_views"),
        sum(when(col("next_type") === "click" &&
          col("gap_us") <= withinMinutes * 60L * 1000000L, 1L).otherwise(0L))
          .as("n_converted"))
      .filter(col("n_converted") > 0)
      .orderBy("user_id")
  }

  /** AS-OF join (point-in-time lookup): each `leftType` event gets the
    * user's most recent `rightType` event timestamp at or before it —
    * the join shape behind feature lookups, attribution, and
    * point-in-time dimension reads in a training pipeline.
    *
    * Expressed WITHOUT a join: the naive form is a range join
    * (left × right on user AND r.ts <= l.ts, keep the max) whose
    * candidate fan-out is per-user quadratic at scale. Spark-first the
    * two sides are the SAME partitioned stream: filter both types,
    * carry the last right-side timestamp forward with a running
    * `last(_, ignoreNulls)` window per user, keep the left rows.
    * ONE shuffle on user_id, no join node in the plan at all; the
    * same-instant tie (`r.ts <= l.ts` includes equality) is honored by
    * sorting right rows before left rows within a timestamp. Gap math
    * is microsecond-integer — exact on both engines. */
  def asofPrior(events: DataFrame, leftType: String = "purchase",
      rightType: String = "view"): DataFrame = {
    val rightFirst = when(col("event_type") === rightType, 0).otherwise(1)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), rightFirst, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.filter(col("event_type").isin(leftType, rightType))
      .withColumn("prior_ts",
        last(when(col("event_type") === rightType, col("ts")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === leftType)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        date_format(col("prior_ts"), "yyyy-MM-dd HH:mm:ss").as("prior_view_ts"),
        (unix_micros(col("ts")) - unix_micros(col("prior_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  /** Top-k users by total value (deterministic tie-break on user_id).
    * Sorted on the DOUBLE-cast total so cast-induced ties rank the
    * same as in the oracle's double sort. */
  def topUsers(events: DataFrame, k: Int = 10): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(valueDec).cast("double").as("total_value"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(k)

  /** Per-user inter-event-gap statistics — the cadence profile behind
    * bot/anomaly triage (impossibly regular or impossibly fast users)
    * and sessionization-threshold tuning (where does the gap
    * distribution break?). Gaps are measured in MICROSECONDS as exact
    * longs (`unix_micros` deltas) over the total order (ts, event_id),
    * so ties are deterministic; the mean is the only double, built
    * from one exact-long sum by a fixed division chain both engines
    * evaluate identically. Single-event users keep NULL gap stats
    * (there is no gap, not a zero gap).
    *
    * Scale shape: ONE shuffle on user_id feeds the lag window, and the
    * per-user aggregate reuses that partitioning (no second
    * exchange) — cost is a sort within each user's partition slice,
    * the same shape as sessionization. user_id is a fine-grained key;
    * no hot partitions. */
  def interEventGaps(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("gap_us")).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us")).as("sum_gap_us"))
      .select(col("user_id"), col("n_events"), col("n_gaps"),
        col("min_gap_us"), col("max_gap_us"),
        (col("sum_gap_us").cast("double") / col("n_gaps").cast("double") /
          lit(1000000.0)).as("mean_gap_s"))
      .orderBy("user_id")
  }

  /** Daily cumulative distinct users — the scale rewrite of
    * `count(DISTINCT user_id) OVER (ORDER BY day)`. The naive form
    * re-scans an ever-growing prefix per day (O(days · events) with
    * per-frame distinct state); instead each user contributes only
    * their FIRST-seen day (one hash aggregate, map-side partials),
    * first-sights roll up to one row per day, and the only running
    * window is over that O(days) frame — at 100 TB the heavy work is
    * two shuffles whose width is |users| then |days|, never a
    * distinct-within-window. Days with activity but no new users
    * still appear (left join against the observed-day spine). */
  def cumulativeUsersDaily(events: DataFrame): DataFrame = {
    val firstSeen = events.groupBy(col("user_id"))
      .agg(min(date_trunc("day", col("ts"))).as("day"))
    val perDay = firstSeen.groupBy("day").agg(count(lit(1)).as("new_users"))
    val days = events.select(date_trunc("day", col("ts")).as("day")).distinct()
    // running sum over the per-day aggregate: O(days) rows in the one
    // global window (same reviewed shape as packShards' block totals)
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(perDay, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"),
        sum(col("new_users")).over(w).as("cumulative_users"))
      .orderBy("day")
  }

  /** Generalized N-step funnel ("loose" semantics): per user, the
    * first `steps(0)` event, then the first `steps(1)` event at or
    * after it and within `withinMinutes` of it, then the first
    * `steps(2)` after THAT, and so on — the standard multi-step
    * conversion query (view → click → purchase), where each stage
    * time is the earliest qualifying event given the previous stage.
    *
    * Shape: ONE shuffle on user_id; each stage is a `min(when(...))`
    * window over the whole user partition referencing the previous
    * stage's (per-user-constant) time, so all N window passes reuse
    * the same exchange+sort. No joins, no per-step re-scans — at
    * 100 TB this is N column-projection passes over one partitioned
    * sort, vs the naive N-way self-join. Gap math is micros-integer;
    * emitted times render as strings for cross-engine parity. Only
    * users who reached stage 1 appear. */
  def funnelSteps(events: DataFrame, steps: Seq[String],
      withinMinutes: Long = 30): DataFrame = {
    require(steps.size >= 2, "need at least two funnel steps")
    val winUs = withinMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id")
    val base = events
      .filter(col("event_type").isin(steps: _*))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    // stage 0: unconditioned first event of the entry type
    val withT = steps.zipWithIndex.foldLeft(base) { case (df, (step, i)) =>
      val cond =
        if (i == 0) col("event_type") === step
        else col("event_type") === step &&
          col("us") >= col(s"t${i - 1}") &&
          col("us") - col(s"t${i - 1}") <= winUs
      df.withColumn(s"t$i", min(when(cond, col("us"))).over(w))
    }
    val stage = steps.indices.map(i =>
      when(col(s"t$i").isNotNull, 1).otherwise(0)).reduceLeft(_ + _)
    withT
      .groupBy("user_id")
      .agg(max(col("t0")).as("t0"), // per-user constants: max picks the value
        steps.indices.tail.map(i => max(col(s"t$i")).as(s"t$i")): _*)
      .filter(col("t0").isNotNull)
      .select(col("user_id") +:
        steps.indices.map(i =>
          date_format(timestamp_micros(col(s"t$i")), "yyyy-MM-dd HH:mm:ss")
            .as(s"ts_${steps(i)}")) :+
        stage.as("stage"): _*)
      .orderBy("user_id")
  }

  /** Daily per-type volume anomalies: each (event_type, day)'s count
    * z-scored against its own TRAILING 7-day window (rows between 7
    * and 1 preceding over a DENSIFIED day spine, so 7 rows ARE 7 days
    * and a zero-event day — the outage this monitor exists to catch —
    * gets a row, a z-score, and a flag; the current day never
    * contaminates its own baseline). The monitoring query a pipeline
    * runs over ingest volumes to catch upstream breakage.
    *
    * Cross-engine determinism: mean and variance come from exact
    * integer window sums ((Σn², Σn, cnt) — count aggregation over
    * longs, order-independent), combined in fixed double expressions;
    * `sqrt` is correctly-rounded per IEEE-754 (unlike `ln`/`exp`,
    * which are libm-implementation-defined and banned from oracle
    * surfaces here). Negative variance dust from cancellation clamps
    * to 0; z is null until 3 trailing days exist or when std == 0.
    *
    * Scale shape: one hash aggregate events → (type, day) rows, then
    * windows over that O(types · days) frame partitioned by type —
    * the raw stream is never windowed. */
  def dailyAnomaly(events: DataFrame, zFlag: Double = 2.0): DataFrame = {
    val observed = events
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // Densify: every (type, day) over the corpus's full day range gets
    // a row, zero-count days included. Without the spine, an OUTAGE day
    // emits no row — the one event this monitor exists to flag — and
    // the "trailing 7 days" frame silently spans gaps (7 ROWS ≠ 7 days
    // for a sparse type). The spine is O(types · days): a sequence()
    // off one min/max aggregate row cross-joined with the type domain —
    // both sides domain-bounded, nothing event-sized.
    val bounds = events.agg(
      min(date_trunc("day", col("ts"))).as("d0"),
      max(date_trunc("day", col("ts"))).as("d1"))
    val days = bounds.select(explode(expr(
      "sequence(d0, d1, interval 1 day)")).as("day"))
    val types = events.select(col("event_type")).distinct()
    val daily = days.crossJoin(types)
      .join(observed, Seq("day", "event_type"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    val cnt = count(col("n")).over(w)
    val s1 = sum(col("n")).over(w)
    val s2 = sum(col("n") * col("n")).over(w)
    val mean = s1.cast("double") / cnt.cast("double")
    val variance = greatest(
      s2.cast("double") / cnt.cast("double") - mean * mean, lit(0.0))
    val std = sqrt(variance)
    val z = when(cnt >= 3 && std > 0.0,
      (col("n").cast("double") - mean) / std)
    daily
      .withColumn("trailing_mean", when(cnt >= 3, mean))
      .withColumn("z", z)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("trailing_mean"), col("z"),
        coalesce(abs(col("z")) >= zFlag, lit(false)).as("anomalous"))
      .orderBy("event_type", "day")
  }

  /** Cohort retention matrix: users grouped by FIRST-seen day (the
    * cohort), counted on each later activity day as an offset from
    * the cohort day — the standard growth-analytics view (day-0 size,
    * day-N retention) over the same first-seen aggregate
    * [[cumulativeUsersDaily]] uses.
    *
    * Scale shape: (user, day) pairs are distinct-ed FIRST (one shuffle
    * keyed by user+day, map-side combine folds each user's intra-day
    * events before anything moves), so the cohort join and the final
    * aggregate run on |users|·|active days| rows, never |events|. No
    * distinct-within-window, no self-join of the raw stream. The
    * retained fraction divides two exact longs per row — bit-identical
    * across engines. The per-cohort day-0 denominator comes from a
    * window over the aggregated matrix (O(cohorts · offsets) rows). */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val cohorts = userDays.groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"))
    val matrix = userDays.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users")) // (user, day) is distinct already
    val wCohort = Window.partitionBy("cohort_day")
    matrix
      .withColumn("cohort_size",
        max(when(col("day_offset") === 0, col("n_users"))).over(wCohort))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"), col("cohort_size"),
        (col("n_users").cast("double") / col("cohort_size").cast("double"))
          .as("retained_frac"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Daily distinct users via HLL sketch, CONTRACT-checked: emits the
    * exact per-day count alongside a boolean asserting the
    * `approx_count_distinct` estimate landed within `maxRelErr` of it.
    * The oracle computes the exact count and literal TRUE — so the row
    * hash-matches iff the sketch held its error bound. This is the
    * 100 TB shape for distinct-user curves: the sketch is a fixed-size
    * mergeable state (no per-user shuffle at all when only the curve
    * is needed); the exact aggregate here exists to power the contract
    * and mirrors [[cumulativeUsersDaily]]'s first-seen shape. */
  def approxUsersDaily(events: DataFrame, rsd: Double = 0.05,
      maxRelErr: Double = 0.15): DataFrame =
    events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd).as("approx"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast("double") <=
          lit(maxRelErr) * col("exact_users").cast("double"))
          .as("within_bound"))
      .orderBy("day")

  /** Two-stage salted per-type totals — identical result to the plain
    * groupBy (the oracle runs the unsalted SQL) with the hot key's
    * rows split across `saltBuckets` partial groups first. Decimal
    * sums keep the two-stage reassociation exact.
    *
    * Honest scope (measured, case `salted_agg_skewed` in
    * `artifacts/NAIVE_r04.jsonl` and `NAIVE_r07.jsonl`): for an
    * ALGEBRAIC aggregate like this sum, the plain groupBy already
    * neutralizes hot keys — partial combine collapses them map-side,
    * so the salted form costs ~1.4× pure overhead and exists here as
    * the exercised demonstration of the SkewTools lever. Reach for it
    * when the aggregation state does NOT collapse under partial
    * combine (very large per-key distinct or collect-style states);
    * for skewed JOIN keys, AQE's skew-join is the first lever. */
  def typeTotalsSalted(events: DataFrame, saltBuckets: Int = 32): DataFrame =
    graft.operators.SkewTools.saltedAgg(events,
        col("event_type"), valueDec, saltBuckets)
      .select(col("k").as("event_type"), col("n").as("n_events"),
        col("total").cast("double").as("total_value"))
      .orderBy("event_type")

  /** Trailing-window distinct users per day via MERGEABLE daily HLL
    * sketches (Spark 4's Datasketches `hll_*` functions). One corpus
    * pass builds a sketch per day; a trailing window is then a union
    * of ≤ `windowDays` sketches over the tiny day table — the
    * production incremental pattern: store per-day sketches, answer
    * ANY window (7d, 28d, month-to-date) by merging, never re-touching
    * the event stream. Contrast [[approxUsersDaily]], which sketches
    * per-day counts only — union-mergeability is what a single
    * `approx_count_distinct` cannot give.
    *
    * The contract row carries the EXACT trailing count (from distinct
    * (user, day) pairs — a far smaller relation than events) and the
    * sketch-within-`maxRelErr` verdict, so sketch drift is a red row.
    * The day×day range join is domain-bounded (|days|² at most, ≤
    * windowDays partners per day) — never the event stream. */
  def slidingUsersSketch(events: DataFrame, windowDays: Int = 7,
      maxRelErr: Double = 0.15): DataFrame = {
    val days = events.select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = days.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val spine = daily.select(col("day").as("d"))
    val inWin = col("day") <= col("d") &&
      col("day") >= date_sub(col("d"), windowDays - 1)
    val est = spine.join(daily, inWin)
      .groupBy("d").agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
    val exact = spine.join(days.distinct(), inWin)
      .groupBy("d").agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(est, Seq("d"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("exact_users"),
        (abs(col("est_users") - col("exact_users")).cast("double") <=
          col("exact_users").cast("double") * maxRelErr).as("within_bound"))
      .orderBy("day")
  }

  /** Markov next-event transition matrix: for each ordered pair of
    * event types, how many times a user's event of type A was
    * immediately followed by one of type B, and the conditional
    * probability P(next=B | cur=A). The classic input to behavioral
    * path analysis / next-action models.
    *
    * Scale shape: ONE shuffle on user_id for the `lead` window (the
    * per-user sequence is the only ordering this needs); the
    * (type, next_type) aggregate map-side-combines |types|² keys, so
    * the reduce side is tiny at any corpus size. The probability
    * normalization is a window over the AGGREGATED matrix — O(|types|²)
    * rows, not raw input (allow-listed shape: window-over-aggregate).
    * Division is double-over-exact-ints — bit-identical cross-engine
    * (same convention as [[tumblingHourly]]'s final cast). */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = events.select(col("event_type"),
        lead(col("event_type"), 1).over(byUser).as("next_type"))
      .filter(col("next_type").isNotNull)
    pairs.groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("event_type")).cast("double"))
      .orderBy("event_type", "next_type")
  }

  // ------------------------------------------------------------ streaming

  /** Unbounded source over a directory of parquet event files. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Streaming twin of [[tumblingHourly]]: 1-hour tumbling windows
    * with a 2-hour watermark bounding state. Append-mode compatible.
    * Sums in decimal like the batch twin — double sums would make the
    * streaming result depend on micro-batch/partition order and
    * diverge from the batch backfill. */
  def streamingTumblingHourly(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(valueDec).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming sessionization with explicit keyed state: events group
    * by user; a session closes after `gapMinutes` of event-time
    * inactivity (watermark-driven timeout). State per user is O(1) —
    * the streaming answer to [[sessionize]]'s full-history windows.
    *
    * Out-of-order tolerance: a late-but-within-watermark event merges
    * into the open session by EXTENDING its bounds (`start = min`,
    * `last = max`) — it never rewinds `last`, which would fabricate
    * gaps and split sessions that were actually continuous. Value
    * totals accumulate in decimal(18,6) like the batch twin. */
  def streamingSessions(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): Dataset[SessionUpdate] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60 * 1000L
    events.withWatermark("ts", "2 hours")
      .selectExpr("user_id", "ts", "CAST(value AS DECIMAL(18,6)) AS value")
      .as[(Long, Timestamp, java.math.BigDecimal)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(userId, s.nEvents, s.totalValue, s.start, s.last))
          } else {
            val sorted = rows.toSeq.sortBy(_._2.getTime)
            var closedSessions = List.empty[SessionUpdate]
            var cur = state.getOption
            sorted.foreach { case (_, ts, v) =>
              cur match {
                case Some(s) if ts.getTime - s.last.getTime <= gapMs =>
                  cur = Some(s.copy(nEvents = s.nEvents + 1,
                    totalValue = s.totalValue.add(v),
                    start = if (ts.before(s.start)) ts else s.start,
                    last = if (ts.after(s.last)) ts else s.last))
                case Some(s) =>
                  closedSessions ::= SessionUpdate(userId, s.nEvents, s.totalValue,
                    s.start, s.last)
                  cur = Some(SessionState(1, v, ts, ts))
                case None =>
                  cur = Some(SessionState(1, v, ts, ts))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last.getTime + gapMs)
            }
            closedSessions.reverseIterator
          }
      }
  }

  /** Streaming feed for the first-seen family ([[cumulativeUsersDaily]],
    * [[retentionCohorts]]'s cohort assignment): emits each user's
    * first-ever sighting exactly once, with O(1) keyed state (a single
    * "seen" marker per user). Downstream, new-users-per-day is a
    * stateless aggregation of this trickle — the 100 TB/day shape for
    * growth curves, where the raw stream never re-shuffles and state
    * is |users| bits, not history.
    *
    * Same in-order caveat as [[streamingAsof]]: append mode can't
    * retract, so a user's first sighting is decided by the earliest
    * event in the batch that introduces them — exact when per-user
    * delivery is event-time-ordered across batches (the equivalence
    * spec replays chronologically). */
  def streamingFirstSeen(spark: SparkSession, events: DataFrame): Dataset[FirstSeen] = {
    import spark.implicits._
    events.withWatermark("ts", "2 hours")
      .selectExpr("user_id", "unix_micros(date_trunc('DAY', ts)) AS day_us")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, FirstSeen](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator(FirstSeen(userId, rows.map(_._2).min))
          }
      }
  }

  /** Streaming twin of [[asofPrior]]: per-user O(1) state — just the
    * greatest right-side timestamp seen. Left-side events are enriched
    * and emitted the batch they arrive; right-side events only advance
    * the state. Within a batch events apply in (ts, right-first,
    * event_id) order, matching the batch window's tie rule; as with
    * [[streamingFunnel]], in-order-per-user delivery inside the
    * watermark makes the streamed enrichment equal the batch backfill.
    * A right-side event never needs replaying: the as-of contract is
    * "latest at or before", so state is one monotone max, not a
    * window. */
  def streamingAsof(spark: SparkSession, events: DataFrame,
      leftType: String = "purchase", rightType: String = "view"): Dataset[AsofUpdate] = {
    import spark.implicits._
    events.withWatermark("ts", "2 hours")
      .filter(col("event_type").isin(leftType, rightType))
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS ts_us")
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[AsofState]) =>
          var s = state.getOption.getOrElse(AsofState(Long.MinValue))
          val out = Seq.newBuilder[AsofUpdate]
          rows.toSeq
            .sortBy(r => (r._4, if (r._3 == rightType) 0 else 1, r._2))
            .foreach { case (_, eventId, typ, tsUs) =>
              if (typ == rightType) {
                if (tsUs > s.lastRightTsUs) s = AsofState(tsUs)
              } else {
                out += AsofUpdate(eventId, userId, tsUs,
                  if (s.lastRightTsUs == Long.MinValue) -1L else s.lastRightTsUs)
              }
            }
          state.update(s)
          out.result().iterator
      }
  }

  /** Streaming twin of [[transitionMatrix]]: keyed state carries only
    * each user's LAST event across batch boundaries; every observed
    * adjacency is emitted as a delta row, so the matrix itself is a
    * downstream count aggregate of the delta feed (incrementally
    * maintainable, or batch-aggregated at read time). State is O(1)
    * per user — the stream can run forever.
    *
    * Cross-batch inversions: an event OLDER than the state's last
    * emitted event (late within the watermark, but its successor
    * already left in a prior batch) cannot retroactively interpose, so
    * it is DROPPED — emitting it forward would fabricate an adjacency
    * the batch twin (ORDER BY ts, event_id) never produces, and
    * regressing state to the older event would corrupt every
    * subsequent delta. Under in-order-per-user delivery the drop path
    * never fires and streaming equals the batch backfill exactly. */
  def streamingTransitions(spark: SparkSession, events: DataFrame): Dataset[TransitionDelta] = {
    import spark.implicits._
    events.withWatermark("ts", "2 hours")
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS ts_us")
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, TransitionDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[TransState]) =>
          var s = state.getOption.getOrElse(TransState(null, Long.MinValue))
          val out = Seq.newBuilder[TransitionDelta]
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, _, typ, tsUs) =>
            if (tsUs >= s.lastTsUs) {
              if (s.lastType != null) out += TransitionDelta(s.lastType, typ)
              s = TransState(typ, tsUs)
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** Streaming twin of [[interEventGaps]]: keyed state carries only
    * each user's LAST (micros, event_id) across batch boundaries;
    * every observed gap is emitted as a [[GapDelta]] keyed by the
    * later event, so per-user stats and distribution percentiles are
    * downstream aggregates of the delta feed. State is O(1) per user.
    *
    * Ordering contract (same as [[streamingTransitions]]): events
    * sort by (ts, event_id) within a batch; an event older than the
    * state's last emitted event cannot retroactively interpose and is
    * DROPPED — under in-order-per-user delivery the drop path never
    * fires and the streamed gap set equals the batch lag-window's
    * exactly. */
  def streamingGaps(spark: SparkSession, events: DataFrame): Dataset[GapDelta] = {
    import spark.implicits._
    events.withWatermark("ts", "2 hours")
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[GapState, GapDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[GapState]) =>
          var s = state.getOption.getOrElse(GapState(Long.MinValue, Long.MinValue, false))
          val out = Seq.newBuilder[GapDelta]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, eid, tsUs) =>
            if (!s.seen) s = GapState(tsUs, eid, true)
            else if (tsUs > s.lastTsUs ||
                (tsUs == s.lastTsUs && eid > s.lastEventId)) {
              // strict > on the id: an at-least-once REDELIVERY of the
              // state's own last event (same ts, same id) must not
              // re-emit a spurious 0-gap; a genuinely distinct same-ts
              // event still passes via its greater id
              out += GapDelta(uid, eid, tsUs - s.lastTsUs)
              s = GapState(tsUs, eid, true)
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** Day-of-week × hour-of-day activity heatmap — the operational
    * load matrix (when do users show up; when can maintenance run).
    * Spark's `dayofweek` is 1=Sunday..7=Saturday; the oracle maps
    * DuckDB's 0-based `dayofweek` with a +1, and both extract hour
    * from the same UTC instant. The count and decimal-exact value sum
    * partial-combine map-side onto ≤ 168 keys, but the EXACT
    * `countDistinct(user_id)` forces a two-phase distinct expansion
    * keyed on (dow, hod, user_id) — user-granular rows do shuffle
    * once before collapsing. `approx_count_distinct` is the drop-in
    * single-aggregate form when that expansion matters at scale. */
  def hourlyHeatmap(events: DataFrame): DataFrame =
    events.groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(valueDec).cast("double").as("total_value"))
      .orderBy("dow", "hod")

  /** [[hourlyHeatmap]]'s PRODUCTION twin: distinct users per cell via
    * `approx_count_distinct`, CONTRACT-checked against the exact count
    * ([[approxUsersDaily]] pattern — the oracle emits the exact value
    * and literal TRUE, so the row hash-matches iff the sketch held its
    * `maxRelErr` bound). At scale this is the aggregate to run: the
    * HLL sketch is fixed-size mergeable state that partial-combines
    * map-side onto ≤ 168 keys — no user-granular shuffle at all —
    * where the exact `countDistinct` expands every row to a
    * (dow, hod, user_id) key first. The exact aggregate here exists
    * only to power the contract. */
  def hourlyHeatmapApprox(events: DataFrame, rsd: Double = 0.05,
      maxRelErr: Double = 0.15): DataFrame =
    events.groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id"), rsd).as("approx"),
        sum(valueDec).cast("double").as("total_value"))
      .select(col("dow"), col("hod"), col("n_events"), col("n_users"),
        (abs(col("approx") - col("n_users")).cast("double") <=
          lit(maxRelErr) * col("n_users").cast("double")).as("within_bound"),
        col("total_value"))
      .orderBy("dow", "hod")

  /** Events-per-user POWER-LAW histogram: users bucketed by
    * ⌊log₂(n_events)⌋ + 1 (the binary-string length: n = 1 → bucket
    * 1, 2-3 → 2, 4-7 → 3, …) — the one-glance answer to "is this
    * stream a few bots or a long tail?" (a straight line across
    * buckets = power law; a spike in the top bucket = automation).
    * The bucket is computed as `length(bin(n))` — an EXACT integer
    * both engines derive from the binary string, with none of libm's
    * last-bit variability.
    *
    * Scale shape: two hash aggregates (user_id, then ~64 buckets),
    * both with map-side partial combine; nothing else moves. */
  def activityHistogram(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .groupBy(length(bin(col("n_events"))).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        min(col("n_events")).as("min_events"),
        max(col("n_events")).as("max_events"),
        sum(col("n_events")).as("total_events"))
      .orderBy("bucket")

  /** Corpus-wide gap-distribution percentiles — the number that SETS
    * the sessionization threshold (a 30-min cutoff should sit far
    * above p90 of within-session gaps). Gaps are exact integer µs and
    * the interpolation is Spark `percentile`'s own
    * `lower·(1−frac) + higher·frac`, which matches DuckDB's
    * `quantile_cont` bit-for-bit on these integers (the
    * fi_size_percentiles precedent — pinned by this row's oracle).
    *
    * Scale shape: the lag window shuffles once on user_id; the
    * percentiles then come from a DISTRIBUTED range-partitioned sort
    * of the gap column + a rank pick — replacing the single-aggregate
    * `percentile(...)` form, which buffers every distinct gap value in
    * ONE reducer (measured 2.2 s of this query's 2.7 s at sf1, and a
    * genuine single-node memory wall at 100 TB where the sort scales
    * out and the rank pick collects ≤ 10 rows). The construction is
    * deliberately EAGER (the cosinePairsLsh doctrine: a handful of
    * narrow one-column jobs at build time), returning the 1-row local
    * result. `approx_percentile` remains the one-pass sketch twin
    * ([[gapPercentilesApprox]]). */
  def gapPercentiles(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (n, v) = exactPercentiles(
      gapsOf(events).select("gap_us"), "gap_us", Seq(0.25, 0.5, 0.75, 0.9, 0.99))
    Seq((n, v(0), v(1), v(2), v(3), v(4)))
      .toDF("n_gaps", "p25", "p50", "p75", "p90", "p99")
  }

  /** Exact interpolated percentiles of a LongType column via a
    * distributed range-partitioned sort + rank pick — the scale form
    * of `percentile(col, p)`, which buffers every value in ONE
    * reducer. Interpolation is Spark `percentile`'s own
    * `lower·(1−frac) + higher·frac` (matches DuckDB's quantile_cont
    * bit-for-bit on integers — oracle-pinned). Eager: a few narrow
    * one-column jobs; collects ≤ 2·|ps| rows. Returns (count, one
    * value per p; all None on empty input). */
  private[streaming] def exactPercentiles(df: DataFrame, column: String,
      ps: Seq[Double]): (Long, Seq[Option[Double]]) = {
    val indexed = df.select(col(column))
      .orderBy(column).rdd.map(_.getLong(0))
      .zipWithIndex().map(_.swap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = indexed.count()
      if (n == 0L) return (0L, ps.map(_ => Option.empty[Double]))
      val positions = ps.map(p => p * (n - 1))
      val ranks = positions
        .flatMap(x => Seq(math.floor(x).toLong, math.ceil(x).toLong)).toSet
      val byRank = indexed.filter { case (r, _) => ranks(r) }.collect().toMap
      (n, positions.map { pos =>
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        val d = pos - lo
        Some(byRank(lo) * (1.0 - d) + byRank(hi) * d)
      })
    } finally { indexed.unpersist(false); () }
  }

  /** The per-user inter-event gap column (exact integer µs over the
    * (ts, event_id) total order) — shared by the exact and approx
    * percentile forms. One shuffle on user_id. */
  private def gapsOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
  }

  /** `exact ≈ approx` contract boolean: within `pct` relative value
    * error, with the 0-exact degenerate case requiring approx = 0
    * (the fi_size_percentiles_approx guard). */
  private def withinPct(approx: Column, exact: Column, pct: Double): Column =
    when(exact === 0, approx === 0)
      .otherwise(abs(approx.cast("double") / exact.cast("double") - 1.0) <= pct)

  /** [[gapPercentiles]]' APPROX twin — the event-scale form:
    * `approx_percentile` is a one-pass mergeable quantile summary.
    * Contract row (the fi_size_percentiles_approx pattern): the exact
    * values hash-compare against DuckDB's quantile_cont, and booleans
    * assert the sketch landed within 10% relative value error — far
    * above accuracy 10000's rank error on this data, so the row fails
    * only if the sketch genuinely breaks. The exact reference values
    * come from the SAME distributed sort + rank pick as
    * [[gapPercentiles]] (not the single-reducer `percentile`
    * aggregate — the contract's reference must itself hold at the
    * scale the sketch exists for); the gap column is cached so the
    * sort and the sketch share one upstream pass, and the exact
    * values — being driver-known — enter the sketch aggregate's plan
    * as LITERALS, so the bounds-check logic stays in the plan with no
    * join node at all. */
  def gapPercentilesApprox(events: DataFrame): DataFrame = {
    val gaps = graft.operators.OpCaches.shared("ev.gaps")(
      gapsOf(events).select("gap_us"))
    val (n, ex) = exactPercentiles(gaps, "gap_us", Seq(0.5, 0.9, 0.99))
    def exLit(o: Option[Double]): Column =
      o.map(lit).getOrElse(lit(null)).cast("double")
    gaps
      .agg(
        expr("approx_percentile(gap_us, 0.5D, 10000)").as("a50"),
        expr("approx_percentile(gap_us, 0.9D, 10000)").as("a90"),
        expr("approx_percentile(gap_us, 0.99D, 10000)").as("a99"))
      .select(lit(n).as("n_gaps"), exLit(ex(0)).as("exact_p50"),
        exLit(ex(1)).as("exact_p90"), exLit(ex(2)).as("exact_p99"),
        withinPct(col("a50"), exLit(ex(0)), 0.10).as("p50_in_bounds"),
        withinPct(col("a90"), exLit(ex(1)), 0.10).as("p90_in_bounds"),
        withinPct(col("a99"), exLit(ex(2)), 0.10).as("p99_in_bounds"))
  }

  /** [[sessionPercentiles]]' APPROX twin over the session-duration
    * column — same contract shape as [[gapPercentilesApprox]]: exact
    * values hash-compared, sketch pinned within 10%. */
  def sessionPercentilesApprox(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionized(events, gapMinutes)
      .groupBy(col("user_id"), col("session_seq"))
      .agg((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
        .as("dur_us"))
      .agg(count(lit(1)).as("n_sessions"),
        expr("percentile(dur_us, 0.5D)").as("exact_p50"),
        expr("percentile(dur_us, 0.9D)").as("exact_p90"),
        expr("approx_percentile(dur_us, 0.5D, 10000)").as("a50"),
        expr("approx_percentile(dur_us, 0.9D, 10000)").as("a90"))
      .select(col("n_sessions"), col("exact_p50"), col("exact_p90"),
        withinPct(col("a50"), col("exact_p50"), 0.10).as("p50_in_bounds"),
        withinPct(col("a90"), col("exact_p90"), 0.10).as("p90_in_bounds"))

  /** Streaming twin of [[funnel]]: per-user O(1) state — the LAST
    * event's (type, timestamp) for the view→click adjacency test plus
    * two running counters. Each batch a user's counts change, a
    * [[FunnelUpdate]] row is emitted; counts are monotone, so the
    * newest row per user is the current funnel (consumers keep a
    * last-write-wins view, exactly like reading an updating aggregate).
    *
    * Ordering contract: events are sorted by (ts, event_id) WITHIN a
    * batch (matching the batch twin's window order); an event arriving
    * in a LATER batch than a same-user event with a greater timestamp
    * cannot retroactively interpose — with the 2-hour watermark and
    * in-order-per-user delivery inside it, the streaming counts equal
    * the batch backfill. Unlike sessionization there is nothing to
    * time out: state is two counters and one event, not a window. */
  def streamingFunnel(spark: SparkSession, events: DataFrame,
      withinMinutes: Int = 10): Dataset[FunnelUpdate] = {
    import spark.implicits._
    val gapUs = withinMinutes * 60L * 1000000L
    events.withWatermark("ts", "2 hours")
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS ts_us")
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(null, Long.MinValue, 0L, 0L))
          val before = (s.nViews, s.nConverted)
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, _, typ, tsUs) =>
            if (s.lastType == "view" && typ == "click" && tsUs - s.lastTsUs <= gapUs)
              s = s.copy(nConverted = s.nConverted + 1)
            if (typ == "view") s = s.copy(nViews = s.nViews + 1)
            s = s.copy(lastType = typ, lastTsUs = tsUs)
          }
          state.update(s)
          if ((s.nViews, s.nConverted) != before)
            Iterator(FunnelUpdate(userId, s.nViews, s.nConverted))
          else Iterator.empty
      }
  }
}
