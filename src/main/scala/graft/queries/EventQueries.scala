package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Events
import graft.sources.Sources

/** Event-time queries over `events`. The testdata generator has
  * emitted `ts` as TIMESTAMP(NANOS)-as-int64, µs-NTZ, and plain µs
  * across rounds; `Sources.events` normalizes all of them to a µs
  * `TimestampType` (see its scaladoc), and every oracle casts
  * `ts::TIMESTAMP` so DuckDB lands on the same µs values whatever the
  * on-disk encoding. Timestamps are emitted as epoch micros.
  */
object EventQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_events_hourly" -> { (s, dir) =>
      Events.tumblingAgg(Sources.events(s, dir), "1 hour")
    },
    "q_sessionize" -> { (s, dir) =>
      Events.sessionize(Sources.events(s, dir), "30 minutes")
    },
    "q_event_transitions" -> { (s, dir) =>
      Events.transitions(Sources.events(s, dir))
    },
    // z-score outliers per event type (global window mean/std)
    "q_zscore_outliers" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
      Sources.events(s, dir)
        .withColumn("z",
          (col("value") - avg(col("value")).over(w)) / stddev_samp(col("value")).over(w))
        .filter(abs(col("z")) > 2.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_outliers"),
          round(min(col("value")), 4).as("min_outlier_value"),
          round(max(col("value")), 4).as("max_outlier_value"))
    },
    "q_events_sliding" -> { (s, dir) =>
      Events.slidingAgg(Sources.events(s, dir), "1 hour", "15 minutes")
    },
    // interval union per user: every event opens a 40-minute activity
    // interval; overlapping/touching intervals coalesce into maximal
    // spans (Events.mergeIntervals — one user_id shuffle end to end)
    "q_merge_intervals" -> { (s, dir) =>
      val iv = Sources.events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + lit(2400000000L)).as("end_us"))
      Events.mergeIntervals(iv, "user_id")
    },
    // leakage-safe time split: first 80% of event time (exact in-plan
    // quantile cutoff, floored to seconds) → train, rest → test; the
    // per-split summary exposes the boundary + the user overlap a
    // hash split would have hidden (Sampling.temporalSplit)
    "q_temporal_split" -> { (s, dir) =>
      graft.operators.Sampling
        .temporalSplit(Sources.events(s, dir), col("ts"), 0.8)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(unix_micros(col("ts"))).as("min_ts_us"),
          max(unix_micros(col("ts"))).as("max_ts_us"))
    },
    "q_funnel" -> { (s, dir) =>
      Events.funnel(Sources.events(s, dir), Seq("view", "click", "purchase"))
    },
    "q_cohort_retention" -> { (s, dir) =>
      Events.cohortRetention(Sources.events(s, dir))
    },
    "q_range_join" -> { (s, dir) =>
      import s.implicits._
      val tiers = Seq(("low", 0.0, 50.0), ("mid", 50.0, 150.0),
        ("high", 150.0, 1e18)).toDF("tier", "lo", "hi")
      Events.rangeJoin(Sources.events(s, dir), tiers, col("value"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
    },
    "q_asof_join_2table" -> { (s, dir) =>
      val ev = Sources.events(s, dir)
      Events.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"),
        keyCol = "user_id", tsCol = "ts",
        leftIdCol = "event_id", rightIdCol = "event_id")
    },
    "q_asof_join" -> { (s, dir) =>
      Events.asofPrior(Sources.events(s, dir),
        isLeft = col("event_type") === "purchase",
        isRight = col("event_type") === "view")
    },
    // recency-weighted engagement score per user (7-day half-life)
    "q_decayed_engagement" -> { (s, dir) =>
      Events.decayedSum(Sources.events(s, dir), col("user_id"),
          col("ts"), col("value"), halfLifeHours = 168.0)
        .select(col("k").as("user_id"), col("n"),
          round(col("decayed_sum"), 6).as("decayed_sum"))
    },
    // calendar gap-fill + 7-day moving average over daily order revenue;
    // the average is a bounded array fold over the date spine
    // (gapFillMovingAvg) rather than an unpartitioned window, so the
    // engine plans ZERO no-partition WindowExecs and that warning stays
    // a trustworthy regression signal (EngineSweepSpec pins this)
    "q_ts_gapfill" -> { (s, dir) =>
      Events.gapFillMovingAvg(
          Events.gapFillDaily(Sources.table(s, dir, "orders"),
            col("o_orderdate"), col("o_totalprice")), 7)
        .select(col("day"), round(col("value"), 4).as("rev"),
          round(col("ma"), 4).as("ma7"), col("is_gap"))
    },
    // SCD2 dimension rebuild from the event stream: per-user event_type
    // history collapsed to [valid_from, valid_to) intervals
    "q_scd2_intervals" -> { (s, dir) =>
      Events.scd2Intervals(Sources.events(s, dir),
        keyCol = "user_id", attrCol = "event_type",
        tsCol = "ts", idCol = "event_id")
    },
  )

  val oracles: Map[String, String] = Map(
    "q_merge_intervals" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS start_us,
        |    epoch_us(ts::TIMESTAMP) + 2400000000 AS end_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, start_us, end_us,
        |    max(end_us) OVER (PARTITION BY user_id
        |      ORDER BY start_us, end_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
        |  FROM iv),
        |f AS (
        |  SELECT user_id, start_us, end_us,
        |    CASE WHEN run_max IS NULL OR start_us > run_max
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM m),
        |g AS (
        |  SELECT user_id, start_us, end_us,
        |    sum(new_span) OVER (PARTITION BY user_id
        |      ORDER BY start_us, end_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |  FROM f)
        |SELECT user_id, min(start_us) AS span_start_us,
        |  max(end_us) AS span_end_us, count(*)::BIGINT AS n_merged
        |FROM g GROUP BY user_id, span_id""".stripMargin,
    "q_temporal_split" ->
      """WITH cut AS (
        |  SELECT floor(quantile_cont(epoch_us(ts::TIMESTAMP), 0.8))::BIGINT
        |    // 1000000 AS cut_s
        |  FROM events)
        |SELECT CASE WHEN epoch_us(ts::TIMESTAMP) // 1000000 <= cut_s
        |         THEN 'train' ELSE 'test' END AS split,
        |  count(*)::BIGINT AS n_events,
        |  count(DISTINCT user_id)::BIGINT AS n_users,
        |  min(epoch_us(ts::TIMESTAMP)) AS min_ts_us,
        |  max(epoch_us(ts::TIMESTAMP)) AS max_ts_us
        |FROM events CROSS JOIN cut
        |GROUP BY 1""".stripMargin,
    "q_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id
        |  FROM events),
        |ch AS (
        |  SELECT * FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS prev
        |    FROM e)
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type,
        |  epoch_us(ts) AS valid_from,
        |  coalesce(epoch_us(lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)), 9223372036854775807) AS valid_to,
        |  CASE WHEN lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM ch""".stripMargin,
    "q_decayed_engagement" ->
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events),
        |m AS (SELECT max(ts) AS tmax FROM e)
        |SELECT user_id, count(1)::BIGINT AS n,
        |  round(sum(value * pow(2.0,
        |    -(epoch_us(tmax) - epoch_us(ts)) / (168.0 * 3600.0 * 1e6))), 6)
        |    AS decayed_sum
        |FROM e CROSS JOIN m GROUP BY user_id""".stripMargin,
    "q_ts_gapfill" ->
      """WITH daily AS (
        |  SELECT o_orderdate::DATE AS day, sum(o_totalprice) AS v
        |  FROM orders GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series((SELECT min(day) FROM daily),
        |                                (SELECT max(day) FROM daily),
        |                                INTERVAL 1 DAY))::DATE AS day),
        |j AS (
        |  SELECT s.day, coalesce(d.v, 0.0) AS v,
        |         CASE WHEN d.v IS NULL THEN 1 ELSE 0 END AS is_gap
        |  FROM spine s LEFT JOIN daily d USING (day))
        |SELECT day, round(v, 4) AS rev,
        |  round(avg(v) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
        |  is_gap
        |FROM j""".stripMargin,
    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
        |s0 AS (SELECT user_id, min(ts) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM e JOIN s0 ON e.user_id = s0.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1)
        |SELECT 0 AS stage_idx, 'view' AS stage, count(1) AS n_users FROM s0
        |UNION ALL
        |SELECT 1, 'click', count(1) FROM s1
        |UNION ALL
        |SELECT 2, 'purchase', count(1) FROM s2""".stripMargin,
    "q_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts FROM events),
        |f AS (SELECT user_id, min(ts) AS first_ts FROM e GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT e.user_id,
        |    date_trunc('week', f.first_ts) AS cw,
        |    date_trunc('week', e.ts) AS aw
        |  FROM e JOIN f ON e.user_id = f.user_id)
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
        |  (date_diff('day', cw, aw) // 7)::INTEGER AS week_offset,
        |  count(1) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin,
    "q_events_hourly" ->
      """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP)) AS window_start_us,
        |  event_type, count(1) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts, value FROM events),
        |d AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |            THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) AS session_end_us,
        |  count(1) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "q_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type FROM events),
        |n AS (
        |  SELECT event_type, lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS next_type
        |  FROM e)
        |SELECT event_type, next_type, count(1) AS n
        |FROM n WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "q_zscore_outliers" ->
      """WITH z AS (
        |  SELECT event_type, value,
        |    (value - avg(value) OVER (PARTITION BY event_type))
        |      / stddev_samp(value) OVER (PARTITION BY event_type) AS z
        |  FROM events)
        |SELECT event_type, count(1) AS n_outliers,
        |  round(min(value), 4) AS min_outlier_value,
        |  round(max(value), 4) AS max_outlier_value
        |FROM z WHERE abs(z) > 2.0 GROUP BY event_type""".stripMargin,
    "q_events_sliding" ->
      """WITH hops AS (
        |  SELECT event_type, value,
        |    time_bucket(INTERVAL 15 MINUTE, ts::TIMESTAMP)
        |      - (h.hop * INTERVAL 15 MINUTE) AS w_start
        |  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS hop) h)
        |SELECT epoch_us(w_start) AS window_start_us, event_type,
        |  count(1) AS n, round(sum(value), 4) AS sum_value
        |FROM hops GROUP BY 1, 2""".stripMargin,
    "q_range_join" ->
      """WITH tiers(tier, lo, hi) AS (
        |  VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1e18))
        |SELECT tier, count(1) AS n, round(sum(value), 4) AS sum_value
        |FROM events JOIN tiers ON value >= lo AND value < hi
        |GROUP BY tier""".stripMargin,
    "q_asof_join_2table" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE event_type = 'view')
        |SELECT p.event_id AS left_id, p.user_id AS key, epoch_us(p.ts) AS ts_us,
        |  v.event_id AS matched_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM p ASOF JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  v.event_id AS matched_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM p ASOF JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,
  )
}
