package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-time operators: tumbling windows, gap sessionization, ordered
  * transitions, and a backward as-of join.
  *
  * Everything here is one shuffle on the natural key (user/window) with
  * window functions doing the sequential logic — no driver-side state,
  * no per-group collect. Sessionization uses Spark's `session_window`
  * (the same operator Structured Streaming uses, so the batch and
  * streaming paths share semantics — see graft.streaming).
  *
  * The reference has no time/stream operators (SURVEY.md §2: "single
  * finite batch per server run", `server.py:260-263`).
  */
object Events {

  /** Tumbling event-time window aggregate. */
  def tumblingAgg(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessions per user via `session_window` (new session when
    * the gap to the previous event is STRICTLY greater than `gap` —
    * an exactly-gap-length silence stays in-session). Emits min/max
    * event ts rather than the padded window end so the output is
    * gap-parameter-free. */
  def sessionize(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("start_ts")).as("session_start_us"),
        unix_micros(col("end_ts")).as("session_end_us"),
        col("n_events"), col("sum_value"))

  /** Cumulative distinct users per day — growth-curve analytics.
    * `count(DISTINCT) OVER (ORDER BY day)` is unsupported (and would be
    * quadratic anyway); the scalable form is the first-seen trick: each
    * user contributes once, on their first active day, and a running
    * sum over the per-day first-seen counts gives the cumulative
    * distinct count. Two shuffles total (user, then day) regardless of
    * data size.
    *
    * The running sum is a bounded array prefix fold (the
    * [[Stats.distributedNtile]] idiom), NOT an unpartitioned window:
    * the per-day counts are calendar-bounded (30 years ≈ 11k rows), so
    * they collapse into one sorted array in a single aggregation
    * buffer. Semantics are identical, but the plan contains no
    * WindowExec — keeping `WindowExec: No Partition Defined` out of
    * the logs entirely, so any FUTURE single-partition window is a
    * real regression signal instead of noise. */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstDay = events
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
    firstDay.groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))
      .agg(sort_array(collect_list(struct(col("day"), col("new_users"))))
        .as("__arr"))
      .select(explode(expr(
        "transform(__arr, (x, i) -> named_struct(" +
          "'day', x.day, 'new_users', x.new_users, " +
          "'cum_users', aggregate(slice(__arr, 1, i + 1), 0L, " +
          "(a, y) -> a + y.new_users)))")).as("__m"))
      .select(col("__m.day").as("day"), col("__m.new_users").as("new_users"),
        col("__m.cum_users").as("cum_users"))
  }

  /** Gaps-and-islands: per-user consecutive-day activity streaks. The
    * classic `day - row_number()` grouping constant: within one
    * gap-free run of distinct days, date minus rank is constant, so
    * grouping on it splits each user's days into islands. One shuffle
    * on user_id; the window and both aggregations reuse that
    * partitioning. Returns one row per user with streak stats. */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"))
  }

  /** Merge overlapping/touching `[start_us, end_us)` intervals per key
    * into maximal disjoint spans — the interval-union primitive behind
    * "active coverage" (device uptime, content-visible time, lease
    * coalescing). Gaps-and-islands on the time axis: within a key,
    * order by start and open a new span exactly when the next start
    * exceeds the running max of ends seen so far (running max, not
    * `lag(end)` — an interval can be fully contained in an earlier one,
    * which a lag-based test misclassifies). One shuffle on `keyCol`;
    * the running-max window, the island id, and the final aggregation
    * all reuse that single key partitioning — per-key sequential work,
    * never global. Touching intervals (next start == current end)
    * merge, as half-open semantics dictate. */
  def mergeIntervals(intervals: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("start_us").asc, col("end_us").asc)
    val runMax = max(col("end_us"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    intervals
      .withColumn("new_span",
        when(runMax.isNull || col("start_us") > runMax, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("span_id"))
      .agg(min(col("start_us")).as("span_start_us"),
        max(col("end_us")).as("span_end_us"),
        count(lit(1)).as("n_merged"))
      .drop("span_id")
  }

  /** Markov-style transition counts: (event_type -> next event_type) per
    * user in event-time order (event_id tiebreak). */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Sliding (hopping) event-time windows: each event lands in
    * width/slide windows. Same operator as tumblingAgg with a slide —
    * output row count multiplies by width/slide, which is the cost to
    * budget at scale. */
  def slidingAgg(events: DataFrame, width: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Range join: enrich rows against a SMALL interval table
    * (`lo <= value < hi`). Planned as a broadcast nested-loop join —
    * correct for dimension-sized interval sets (tiers, buckets, SLA
    * bands); interval sets that don't fit a broadcast need binning to
    * an equi-key first. */
  def rangeJoin(facts: DataFrame, intervals: DataFrame,
      valueCol: Column): DataFrame =
    facts.join(broadcast(intervals),
      valueCol >= col("lo") && valueCol < col("hi"))

  /** Backward as-of join across two tables: for each left row, the most
    * recent right row with `right.ts <= left.ts` on the same key —
    * the general form of [[asofPrior]], same single-sort strategy
    * (tag, union, window) so disjoint inputs need no self-stream trick. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, leftIdCol: String, rightIdCol: String): DataFrame = {
    val l = left.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      col(leftIdCol).as("__lid")).withColumn("__rid", lit(null).cast("long"))
      .withColumn("__side", lit(1))
    val r = right.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      col(rightIdCol).as("__rid")).withColumn("__lid", lit(null).cast("long"))
      .withColumn("__side", lit(0))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__side").asc, col("__rid").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, 0)
    l.select("__k", "__ts", "__lid", "__rid", "__side")
      .union(r.select("__k", "__ts", "__lid", "__rid", "__side"))
      .withColumn("matched_id", last(col("__rid"), ignoreNulls = true).over(w))
      .withColumn("matched_ts_us",
        last(when(col("__side") === 0, unix_micros(col("__ts"))), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("matched_id").isNotNull)
      .select(col("__lid").as("left_id"), col("__k").as("key"),
        unix_micros(col("__ts")).as("ts_us"), col("matched_id"),
        (unix_micros(col("__ts")) - col("matched_ts_us")).as("lag_us"))
  }

  /** Backward as-of join within one event stream: for each left-predicate
    * row, the most recent right-predicate row with `right.ts <= left.ts`
    * (inclusive) on the same key.
    *
    * Spark-first plan: tag sides, ONE shuffle+sort on (key, ts, side,
    * id), then `last(..., ignoreNulls)` over an unbounded-preceding
    * frame carries the latest right row forward — no join at all, so
    * there's no candidate explosion regardless of key skew. This is the
    * composition strategy of SURVEY.md §2 ("as-of via window"); a
    * custom SparkPlan isn't warranted when a single sort-window
    * expresses it exactly.
    */
  def asofPrior(events: DataFrame, isLeft: Column, isRight: Column): DataFrame = {
    val tagged = events
      .withColumn("__left", isLeft).withColumn("__right", isRight)
      .filter(col("__left") || col("__right"))
      // right rows order before left rows at equal ts -> inclusive match
      .withColumn("__side", when(col("__right"), 0).otherwise(1))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("__side").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("matched_id",
        last(when(col("__right"), col("event_id")), ignoreNulls = true).over(w))
      .withColumn("matched_ts_us",
        last(when(col("__right"), unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("__left") && col("matched_id").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("matched_id"),
        (unix_micros(col("ts")) - col("matched_ts_us")).as("lag_us"))
  }

  /** Strict-order funnel: per user, stage k counts only if an event of
    * stage k's type occurred STRICTLY AFTER the user's earliest
    * qualifying stage-(k-1) time — the standard conversion-funnel
    * definition (a purchase before the first view does not convert).
    * One row per stage with the user count that reached it.
    *
    * Each stage is a per-user min aggregation joined to the previous
    * stage's (user, time) table — k shuffles on user_id, each stage's
    * table no bigger than the user set, so the plan is a narrowing
    * chain, not an event-table self-join. Each stage table is
    * localCheckpoint'd: it has two consumers (its own count and the
    * next stage's join), and without the checkpoint stage i's plan
    * would nest all i-1 predecessors — O(k²) re-analysis, the
    * iterative-loop trap documented on
    * [[Dedup.connectedComponents]]. */
  def funnel(events: DataFrame, stages: Seq[String],
      typeCol: String = "event_type", userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val reachedPerStage = stages.foldLeft(List.empty[DataFrame]) { (acc, stage) =>
      val evs = events.filter(col(typeCol) === stage)
        .select(col(userCol).as("user_id"), col(tsCol).as("t"))
      val reached = acc match {
        case Nil =>
          evs.groupBy("user_id").agg(min(col("t")).as("t_reached"))
        case prev :: _ =>
          evs.join(prev.select(col("user_id"), col("t_reached").as("t_prev")),
              Seq("user_id"))
            .filter(col("t") > col("t_prev"))
            .groupBy("user_id").agg(min(col("t")).as("t_reached"))
      }
      reached.localCheckpoint(true) :: acc
    }
    reachedPerStage.reverse.zip(stages.zipWithIndex).map {
      case (df, (stage, i)) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i).as("stage_idx"), lit(stage).as("stage"),
            col("n_users"))
    }.reduce(_ union _)
  }

  /** Weekly cohort retention: users grouped by first-seen week, counted
    * once per (cohort, active-week-offset) — the classic retention
    * triangle. Two shuffles (first-seen per user, then the cohort
    * grid); the distinct() collapses each user's events to at most one
    * row per active week BEFORE the final count, so the grid
    * aggregation is user×weeks-sized, not event-sized. */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val first = events.groupBy(col(userCol).as("user_id"))
      .agg(min(col(tsCol)).as("first_ts"))
    events.select(col(userCol).as("user_id"), col(tsCol).as("ts"))
      .join(first, Seq("user_id"))
      .select(col("user_id"),
        date_trunc("week", col("first_ts")).as("cw"),
        date_trunc("week", col("ts")).as("aw"))
      .distinct()
      .groupBy(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("aw"), col("cw")) / 7).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Recency-weighted (exponential-decay) aggregation: per key,
    * `sum(value · 2^(-(t_max - ts)/halfLife))` — the standard
    * freshness-weighted engagement/feature score. The anchor `t_max` is
    * a one-row aggregate broadcast back, so the whole operator is one
    * bounded broadcast + one map-side-combined keyed aggregation; the
    * weight is computed per row in codegen, never via a window or
    * self-join.
    *
    * Oracle tolerance: the query layer rounds `decayed_sum` to 6
    * decimals for the hash compare. That relies on cross-engine
    * SUMMATION-ORDER agreement only up to ~1 ulp per term — exact at
    * test scale, but inherently fuzzy as group sizes grow (a
    * near-boundary 7th decimal can flip). A hash-stable production
    * check should compare with an epsilon (or sort the weighted terms
    * before summing, which buys bit-exactness at the cost of a
    * per-group sort) — same trade as the centroid-anchor rounding
    * documented in [[Clustering]]. */
  def decayedSum(events: DataFrame, keyCol: Column, tsCol: Column,
      valCol: Column, halfLifeHours: Double): DataFrame = {
    require(halfLifeHours > 0, "halfLifeHours must be positive")
    val anchor = events.agg(max(tsCol).as("__tmax"))
    events.select(keyCol.as("k"), tsCol.as("__ts"), valCol.as("__v"))
      .crossJoin(broadcast(anchor))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v") * pow(lit(2.0),
          -(unix_micros(col("__tmax")) - unix_micros(col("__ts"))).cast("double")
            / lit(halfLifeHours * 3600.0 * 1e6))).as("decayed_sum"))
  }

  /** Calendar gap-fill: aggregate to a daily grain, then left-join a
    * dense date spine (min..max day via `sequence`) so missing days
    * appear as explicit zero rows with `is_gap = 1` — the resample step
    * every time-series rollup needs before moving averages or
    * forecasting (a gap silently skipped is a wrong moving average).
    *
    * Scale shape: the daily aggregation is the only event-scale work
    * (one map-side-combined shuffle). The spine is bounded by calendar
    * days, not data (30 years ≈ 11k rows), so the single-row bounds
    * aggregate, the exploded spine, and any downstream single-partition
    * window over the result stay trivially small at any corpus size.
    */
  def gapFillDaily(df: DataFrame, tsCol: Column, valCol: Column): DataFrame = {
    val daily = df.groupBy(to_date(tsCol).as("day"))
      .agg(sum(valCol).as("__v"))
    val spine = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    spine.join(daily, Seq("day"), "left_outer")
      .select(col("day"),
        coalesce(col("__v"), lit(0.0)).as("value"),
        when(col("__v").isNull, lit(1)).otherwise(lit(0)).as("is_gap"))
  }

  /** Trailing moving average over [[gapFillDaily]] output WITHOUT a
    * WindowExec: the day spine is calendar-bounded (rows = distinct
    * days, not corpus size — see gapFillDaily's scaladoc), so the whole
    * series fits one `sort_array(collect_list(struct))` aggregate and
    * the per-day average is a bounded `slice`+`aggregate` fold over
    * that array (the Stats.distributedNtile pattern). Keeps the engine
    * at ZERO unpartitioned windows, so a "No Partition Defined"
    * warning in any log is a real regression, never expected noise
    * (EngineSweepSpec sweeps every query plan for that invariant).
    * Sum order inside each fold is day-ascending — deterministic. */
  def gapFillMovingAvg(g: DataFrame, maWindow: Int): DataFrame = {
    val n = maWindow
    g.agg(sort_array(collect_list(struct(col("day"), col("value"), col("is_gap"))))
        .as("arr"))
      .select(explode(expr(
        s"""transform(arr, (x, i) -> named_struct(
           |  'day', x.day, 'value', x.value, 'is_gap', x.is_gap,
           |  'ma', aggregate(slice(arr, greatest(1, i - ${n - 2}), least(i + 1, $n)),
           |          cast(0.0 as double), (acc, y) -> acc + y.value)
           |        / least(i + 1, $n)))""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.value").as("value"),
        col("r.is_gap").as("is_gap"), col("r.ma").as("ma"))
  }

  /** SCD2 (type-2 slowly-changing-dimension) interval builder: collapse
    * a per-key change log into `[valid_from, valid_to)` attribute
    * intervals, open intervals flagged `is_current`. Consecutive equal
    * attribute values merge into one interval; `valid_to` of a closed
    * interval is the `valid_from` of its successor (the half-open
    * convention, so per-key intervals tile time with no gaps).
    *
    * The change-detection lag and the successor lead share one window
    * spec `(key, ts, id)`, so the whole operator is a single shuffle on
    * the dimension key regardless of history depth — the standard way to
    * rebuild a dimension table from a CDC/event stream at any scale.
    * `valid_to` of the open interval is `Long.MaxValue` epoch-µs rather
    * than NULL so downstream `BETWEEN` probes need no null branch. */
  def scd2Intervals(events: DataFrame, keyCol: String, attrCol: String,
      tsCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    events
      .select(col(keyCol), col(attrCol), col(tsCol), col(idCol))
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col(attrCol))
      .withColumn("__next_ts", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(attrCol),
        unix_micros(col(tsCol)).as("valid_from"),
        coalesce(unix_micros(col("__next_ts")), lit(Long.MaxValue)).as("valid_to"),
        col("__next_ts").isNull.cast("int").as("is_current"))
  }
}
