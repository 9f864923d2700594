package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.gates.Shared.t
import graft.ops.EventWindows

/** Event-time analytics over the events table: tumbling, sliding and
  * session windows, time-series smoothing and decomposition, gap fill,
  * funnels, attribution, retention and cohorts, Markov transitions,
  * point-in-time features and dashboard trends. */
object EventGates {

  val all: Seq[Gate] = Seq(

    // Tumbling 1-hour windows per event type.
    Gate("q21_event_window", (s, dir) =>
      EventWindows.tumbling(t(s, dir, "events"), "ts", "1 hour",
          Seq("event_type"),
          Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
        .select(col("window_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type"),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Sliding 1-hour windows every 30 minutes (each event lands in 2).
    Gate("q22_sliding_window", (s, dir) =>
      EventWindows.sliding(t(s, dir, "events"), "ts", "1 hour", "30 minutes",
          Seq.empty, Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
        .select(col("window_start"), col("n"), col("sum_value"))
        .orderBy("window_start"),
      """WITH b AS (
        |  SELECT make_timestamp(CAST(floor(epoch(ts)/1800)*1800*1000000 AS BIGINT)) AS b0,
        |         value
        |  FROM events
        |), w AS (
        |  SELECT unnest([b0, b0 - INTERVAL 30 MINUTE]) AS window_start, value FROM b
        |)
        |SELECT window_start, COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),

    // Gap-based sessionization (30-minute inactivity) + session rollup.
    Gate("q23_sessionize", (s, dir) =>
      EventWindows.sessionStats(t(s, dir, "events"), "user_id", "ts",
          "value", gapSeconds = 1800, orderTieCol = "event_id")
        .orderBy("user_id", "session_id"),
      """WITH l AS (
        |  SELECT user_id, ts, event_id, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), f AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM l
        |), s AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       date_trunc('second', MIN(ts)) AS session_start,
        |       COUNT(1) AS n_events, ROUND(SUM(value), 4) AS sum_value,
        |       CAST(epoch(date_trunc('second', MAX(ts)))
        |            - epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS duration_s
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Per-user bounded-window normalized EWMA over event values (the
    // keyed smoothing feature): one shuffle on user_id, O(window) fold
    // per row.
    Gate("q86_ewma", (s, dir) =>
      graft.ops.TimeSeries.ewma(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "value", alpha = 0.3, window = 20)
        .select(col("event_id"), col("user_id"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("event_id"),
      """WITH r AS (
        |  SELECT event_id, user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |)
        |SELECT a.event_id, a.user_id,
        |  ROUND(SUM(b.value * POWER(0.7, a.rn - b.rn))
        |        / SUM(POWER(0.7, a.rn - b.rn)), 6) AS ewma
        |FROM r a JOIN r b
        |  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
        |GROUP BY a.event_id, a.user_id
        |ORDER BY a.event_id""".stripMargin),

    // Ordered funnel signup -> click -> purchase: earliest-match
    // chaining, one user-key shuffle, per-user fold.
    Gate("q88_funnel", (s, dir) =>
      graft.ops.Funnel.funnelCounts(t(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("signup", "click", "purchase"))
        .orderBy("step"),
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, MIN(ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, MIN(ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT 1::BIGINT AS step, 'signup' AS step_name,
        |         (SELECT COUNT(1) FROM s1) AS n_users
        |  UNION ALL
        |  SELECT 2::BIGINT, 'click', (SELECT COUNT(1) FROM s2)
        |  UNION ALL
        |  SELECT 3::BIGINT, 'purchase', (SELECT COUNT(1) FROM s3)
        |) ORDER BY step""".stripMargin),

    // Weekly cohort retention over events.
    Gate("q89_retention", (s, dir) =>
      graft.ops.Cohorts.retention(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset"),
      """WITH f AS (
        |  SELECT user_id,
        |         CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('week', ts) AS DATE) AS activity_week
        |  FROM events
        |)
        |SELECT cohort_week,
        |       CAST(datediff('day', cohort_week, activity_week) / 7 AS BIGINT)
        |         AS week_offset,
        |       COUNT(1) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // SCD2 validity intervals: collapse each user's consecutive runs
    // of an unchanged event_type (gaps-and-islands, one key shuffle).
    Gate("q93_scd2_intervals", (s, dir) =>
      graft.ops.Scd.runIntervals(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "event_type", "ts")
        .orderBy("user_id", "valid_from"),
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(event_type) OVER w IS NULL
        |           OR event_type <> LAG(event_type) OVER w
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), r AS (
        |  SELECT *, SUM(chg) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS run
        |  FROM x
        |), g AS (
        |  SELECT user_id, run, MIN(event_type) AS event_type,
        |         MIN(ts) AS valid_from
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT user_id, event_type, valid_from,
        |  LEAD(valid_from) OVER
        |    (PARTITION BY user_id ORDER BY run) AS valid_to
        |FROM g ORDER BY user_id, valid_from""".stripMargin),

    // First-order Markov transition matrix over per-user event
    // sequences (one key shuffle + bounded-state agg).
    Gate("q95_transitions", (s, dir) =>
      graft.ops.Markov.transitions(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "event_type")
        .orderBy("from_type", "to_type"),
      """WITH s AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, COUNT(1) AS n FROM s
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin),

    // Rolling z-score anomaly flags on each user's value series
    // (trailing 20-row frame, sample stddev).
    Gate("q96_rolling_z", (s, dir) =>
      graft.ops.TimeSeries.rollingZ(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "value", window = 20, z = 3.0)
        .select(col("event_id"), col("user_id"), col("zscore"),
          col("is_anomaly"))
        .orderBy("event_id"),
      """SELECT event_id, user_id,
        |  CASE WHEN s > 0 THEN ROUND((value - m) / s, 4) END AS zscore,
        |  COALESCE(CASE WHEN s > 0
        |    THEN ABS(ROUND((value - m) / s, 4)) > 3.0 END, FALSE)
        |    AS is_anomaly
        |FROM (
        |  SELECT event_id, user_id, value,
        |    AVG(value) OVER w AS m, STDDEV_SAMP(value) OVER w AS s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |ORDER BY event_id""".stripMargin),

    // Last-touch attribution: each purchase attributed to the user's
    // most recent preceding non-purchase event type.
    Gate("q99_attribution", (s, dir) =>
      graft.ops.Funnel.lastTouch(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "event_type", convType = "purchase")
        .select(col("event_id"), col("user_id"), col("last_touch"))
        .orderBy("event_id"),
      """SELECT event_id, user_id, last_touch FROM (
        |  SELECT event_id, user_id, event_type,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_touch
        |  FROM events
        |)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),

    // Hourly spine gap-fill with forward fill (the timeseries
    // interpolation op): a generated per-user hourly spine left-joins
    // observed means, missing hours carry the last seen value.
    Gate("q110_gap_fill", (s, dir) => {
      val ev = t(s, dir, "events").where(col("user_id") % 199 === 0)
      val hourly = ev.groupBy(col("user_id"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(round(avg(col("value")), 6).as("v"))
      val bounds = ev.groupBy(col("user_id"))
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
      val spine = bounds.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "hour"), "left")
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .withColumn("observed", col("v").isNotNull)
        .select(col("user_id"), col("hour"), col("filled"), col("observed"))
        .orderBy("user_id", "hour")
    },
      """WITH ev AS (
        |  SELECT * FROM events WHERE user_id % 199 = 0
        |), hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour,
        |         ROUND(AVG(value), 6) AS v
        |  FROM ev GROUP BY 1, 2
        |), bounds AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
        |         date_trunc('hour', MAX(ts)) AS h1
        |  FROM ev GROUP BY 1
        |), spine AS (
        |  SELECT user_id,
        |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM bounds
        |)
        |SELECT s.user_id, s.hour,
        |  LAST_VALUE(h.v IGNORE NULLS) OVER
        |    (PARTITION BY s.user_id ORDER BY s.hour
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  h.v IS NOT NULL AS observed
        |FROM spine s LEFT JOIN hourly h USING (user_id, hour)
        |ORDER BY user_id, hour""".stripMargin),

    // OHLC 6-hour resampling bars per user: one hash agg, endpoint
    // values via min_by/max_by (no per-bar sort).
    Gate("q104_ohlc_bars", (s, dir) =>
      graft.ops.TimeSeries.ohlcBars(t(s, dir, "events"), "user_id",
          "ts", "value", barSeconds = 21600L)
        .orderBy("user_id", "bar_start"),
      """SELECT user_id,
        |  CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bar_start,
        |  arg_min(value, ts) AS open, MAX(value) AS high,
        |  MIN(value) AS low, arg_max(value, ts) AS close,
        |  COUNT(1) AS n, ROUND(AVG(value), 6) AS mean
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bar_start""".stripMargin),

    // Window aggregates Spark lacks natively (DISTINCT-in-window,
    // median-in-window), re-expressed as frame-array expressions.
    Gate("q103_window_rewrites", (s, dir) =>
      graft.ops.TimeSeries.rollingDistinctMedian(t(s, dir, "events"),
          "user_id", Seq("ts", "event_id"), "event_type", "value",
          window = 20)
        .select(col("event_id"), col("user_id"), col("n_distinct"),
          col("rolling_median"))
        .orderBy("event_id"),
      """SELECT event_id, user_id,
        |  CAST(COUNT(DISTINCT event_type) OVER w AS BIGINT) AS n_distinct,
        |  ROUND(MEDIAN(value) OVER w, 6) AS rolling_median
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // Point-in-time feature aggregation (the feature-store join,
    // leakage-free by construction): for every purchase, that user's
    // click count/value over the strictly-preceding 24h — a RANGE
    // window on epoch seconds, ONE user-key shuffle, no self-join,
    // no row explosion (the naive time-range self-join is O(events x
    // window) at 100 TB; the frame walk is O(events)).
    Gate("q116_pit_features", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("__sec"))
        .rangeBetween(-86400L, -1L)
      t(s, dir, "events")
        .withColumn("__sec", unix_timestamp(col("ts")))
        .withColumn("n_clicks_24h",
          count(when(col("event_type") === "click", 1)).over(w))
        .withColumn("sum_clicks_24h",
          round(coalesce(sum(when(col("event_type") === "click",
            col("value"))).over(w), lit(0.0)), 6))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("n_clicks_24h"),
          col("sum_clicks_24h"))
        .orderBy("event_id")
    },
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), f AS (
        |  SELECT event_id, user_id, event_type,
        |    COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER w
        |      AS n_clicks_24h,
        |    SUM(CASE WHEN event_type = 'click' THEN value END) OVER w AS s
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |               RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id,
        |       CAST(n_clicks_24h AS BIGINT) AS n_clicks_24h,
        |       ROUND(COALESCE(s, 0), 6) AS sum_clicks_24h
        |FROM f WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),

    // Recency-weighted user activity: exponentially time-decayed click
    // value per user, 7-day half-life, reference = the frame's own max
    // timestamp (1-row broadcast; deterministic, never wall-clock).
    Gate("q122_decayed_sum", (s, dir) =>
      graft.ops.TimeSeries.decayedSum(
          t(s, dir, "events").where(col("event_type") === "click"),
          "user_id", "ts", "value", halfLifeSeconds = 604800.0)
        .orderBy("user_id"),
      """WITH c AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT MAX(epoch(ts)) AS tref FROM c)
        |SELECT user_id, COUNT(1) AS n,
        |  ROUND(SUM(value * POWER(0.5,
        |        (r.tref - epoch(ts)) / 604800.0)), 6) AS decayed
        |FROM c CROSS JOIN r
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Native session_window in BATCH: same µs-precision windows as
    // q149 without the watermark cut — the complete session set.
    Gate("q150_session_window_batch", (s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        |), b AS (
        |  SELECT user_id, event_id, value, us,
        |    CASE WHEN us - lag(us) OVER w >= 1800000000
        |         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), g AS (
        |  SELECT user_id, value, us,
        |    SUM(brk) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |)
        |SELECT user_id, make_timestamp(MIN(us)) AS session_start,
        |  make_timestamp(MAX(us) + 1800000000) AS session_end,
        |  CAST(COUNT(1) AS BIGINT) AS n_events,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // CUSUM change detection per user (Page 1954) via the drawup
    // identity (cumsum minus running min — the recursion's
    // window-expressible form). k/h from ROUNDED global moments so
    // the sequential folds are bit-identical cross-engine.
    Gate("q210_cusum", (s, dir) => {
      val ev = t(s, dir, "events").where(col("value").isNotNull)
      val st = ev.agg(round(avg(col("value")), 6).as("__k"),
        round(stddev_samp(col("value")) * 2, 6).as("__h"))
      graft.ops.TimeSeries.cusum(ev.crossJoin(broadcast(st)),
          "user_id", Seq("ts", "event_id"), "value",
          col("__k"), col("__h"))
        .select(col("user_id"), col("n"), col("max_cusum"),
          col("n_alarms"),
          col("first_alarm.event_id").as("first_alarm_event"))
        .orderBy("user_id")
    },
      """WITH st AS (
        |  SELECT ROUND(AVG(value), 6) AS k,
        |    ROUND(stddev_samp(value) * 2, 6) AS h
        |  FROM events WHERE value IS NOT NULL
        |), b AS (
        |  SELECT user_id, ts, event_id, st.h,
        |    SUM(value - st.k) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS S
        |  FROM events, st WHERE value IS NOT NULL
        |), c AS (
        |  SELECT user_id, ts, event_id, h,
        |    S - LEAST(MIN(S) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 0) AS s
        |  FROM b
        |), al AS (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM c WHERE s > h
        |)
        |SELECT c.user_id, CAST(COUNT(1) AS BIGINT) AS n,
        |  ROUND(MAX(s), 6) AS max_cusum,
        |  CAST(SUM(CASE WHEN s > h THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarms,
        |  MAX(f.first_alarm_event) AS first_alarm_event
        |FROM c LEFT JOIN (
        |  SELECT user_id, event_id AS first_alarm_event FROM al
        |  WHERE rn = 1) f ON f.user_id = c.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Sample autocorrelation of each event type's daily count series
    // at lags 1..7 — the seasonality/persistence diagnostic; the
    // stream reduces to the bounded daily frame before any pairing.
    Gate("q229_autocorr", (s, dir) =>
      graft.ops.TimeSeries.dailyAutocorr(t(s, dir, "events"),
          "event_type", "ts", maxLag = 7)
        .orderBy("event_type", "lag"),
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(1) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2
        |), mu AS (
        |  SELECT g, AVG(x) AS mu FROM daily GROUP BY 1
        |), st AS (
        |  SELECT daily.g, MAX(mu) AS mu, SUM((x - mu) * (x - mu)) AS ss
        |  FROM daily JOIN mu USING (g) GROUP BY 1
        |), lags AS (
        |  SELECT unnest(range(1, 8)) AS lag
        |), pairs AS (
        |  SELECT a.g, l.lag, a.x AS xa, b.x AS xb
        |  FROM daily a CROSS JOIN lags l
        |  JOIN daily b ON b.g = a.g AND b.d = a.d + CAST(l.lag AS INTEGER)
        |)
        |SELECT p.g AS event_type, CAST(p.lag AS INTEGER) AS lag,
        |  COUNT(1) AS n_pairs,
        |  ROUND(CASE WHEN MAX(ss) > 0
        |    THEN SUM((xa - mu) * (xb - mu)) / MAX(ss) END, 6) AS acf
        |FROM pairs p JOIN st ON st.g = p.g
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Entropy rate of the first-order event-type chain — how
    // predictable is the next action, in nats per transition; the
    // scalar audit over q95's transition frame.
    Gate("q230_entropy_rate", (s, dir) =>
      graft.ops.Markov.entropyRate(t(s, dir, "events"), "user_id",
        Seq("ts", "event_id"), "event_type"),
      """WITH s AS (
        |  SELECT event_type AS f,
        |    LEAD(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events
        |), c AS (
        |  SELECT f, t, CAST(COUNT(1) AS DOUBLE) AS n FROM s
        |  WHERE t IS NOT NULL GROUP BY 1, 2
        |), w AS (
        |  SELECT f, t, n, SUM(n) OVER (PARTITION BY f) AS nf,
        |    SUM(n) OVER () AS tot
        |  FROM c
        |)
        |SELECT ROUND(-SUM((nf / tot) * (n / nf) * ln(n / nf)), 6) AS h_rate,
        |  CAST(MAX(tot) AS BIGINT) AS n_transitions,
        |  CAST(COUNT(DISTINCT f) AS BIGINT) AS n_states
        |FROM w""".stripMargin),

    // Gaps-and-islands: stitch each user's 30-minute activity
    // intervals into maximal sessions (touching merges), one island
    // row out per stitched interval.
    Gate("q234_interval_merge", (s, dir) =>
      graft.ops.EventWindows.coalesceIntervals(
          t(s, dir, "events").select(col("user_id"), col("ts").as("s_ts"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("e_ts")),
          "user_id", "s_ts", "e_ts")
        .orderBy("user_id", "island"),
      """WITH iv AS (
        |  SELECT user_id, ts AS s_ts, ts + INTERVAL 30 MINUTE AS e_ts
        |  FROM events
        |), x AS (
        |  SELECT user_id, s_ts, e_ts,
        |    MAX(e_ts) OVER (PARTITION BY user_id ORDER BY s_ts, e_ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv
        |), y AS (
        |  SELECT user_id, s_ts, e_ts,
        |    CASE WHEN pmax IS NULL OR s_ts > pmax THEN 1 ELSE 0 END AS brk
        |  FROM x
        |), z AS (
        |  SELECT user_id, s_ts, e_ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY s_ts, e_ts
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM y
        |)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  MIN(s_ts) AS start, MAX(e_ts) AS "end",
        |  COUNT(1) AS n_merged
        |FROM z GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Day-of-week-adjusted daily anomaly screen: divide out the
    // weekly seasonal index, z-score the residual series — "is this
    // Monday odd for a Monday".
    Gate("q237_seasonal_z", (s, dir) =>
      graft.ops.TimeSeries.seasonalZ(t(s, dir, "events"),
          "event_type", "ts")
        .orderBy("event_type", "d"),
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(1) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2
        |), f AS (
        |  SELECT g, isodow(d) - 1 AS dow, AVG(x) AS dow_avg
        |  FROM daily GROUP BY 1, 2
        |), o AS (
        |  SELECT g, AVG(x) AS all_avg FROM daily GROUP BY 1
        |), adj AS (
        |  SELECT daily.g, d, x,
        |    CAST(ROUND(x / (dow_avg / all_avg) * 1e6, 0) AS BIGINT) AS am
        |  FROM daily JOIN f ON f.g = daily.g AND f.dow = isodow(d) - 1
        |  JOIN o ON o.g = daily.g
        |), st AS (
        |  SELECT g, SUM(am) AS s,
        |    SUM(CAST(am AS HUGEINT) * CAST(am AS HUGEINT)) AS ss,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM adj GROUP BY 1
        |), ms AS (
        |  SELECT g, CAST(s AS DOUBLE) / n AS mu,
        |    SQRT(GREATEST((CAST(ss AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1),
        |      0.0)) AS sd
        |  FROM st
        |)
        |SELECT adj.g AS event_type, d, CAST(x AS BIGINT) AS n,
        |  ROUND(CASE WHEN sd > 0 THEN (am - mu) / sd END, 6) AS z,
        |  coalesce(abs((am - mu) / sd) > 2, false) AS anomaly
        |FROM adj JOIN ms ON ms.g = adj.g
        |ORDER BY 1, 2""".stripMargin),

    // Holt double exponential smoothing of the per-type daily count
    // series with a 7-day-ahead linear forecast - the trend-aware
    // sibling of q86's EWMA, folded sequentially per group.
    Gate("q245_holt", (s, dir) =>
      graft.ops.TimeSeries.holt(t(s, dir, "events"), "event_type", "ts")
        .orderBy("event_type"),
      // row-by-row recursive CTE, NOT list_reduce: DuckDB 1.0's
      // list_reduce evaluates struct-typed lambda fields sequentially
      // against an in-place-updated accumulator (field 'b' sees the
      // 'l' already written this step), which silently corrupts any
      // coupled two-state fold
      """WITH RECURSIVE daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(1) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2
        |), idx AS (
        |  SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS i
        |  FROM daily
        |), nmax AS (SELECT g, CAST(MAX(i) AS INT) AS t FROM idx GROUP BY 1),
        |rec AS (
        |  SELECT i1.g, 1 AS i, i1.x AS l, i2.x - i1.x AS b
        |  FROM idx i1 JOIN idx i2 ON i2.g = i1.g AND i2.i = 2
        |  WHERE i1.i = 1
        |  UNION ALL
        |  SELECT rec.g, rec.i + 1,
        |    0.5 * nx.x + 0.5 * (rec.l + rec.b),
        |    0.3 * ((0.5 * nx.x + 0.5 * (rec.l + rec.b)) - rec.l)
        |      + 0.7 * rec.b
        |  FROM rec JOIN idx nx ON nx.g = rec.g AND nx.i = rec.i + 1
        |)
        |SELECT rec.g AS event_type, t, ROUND(l, 6) AS level,
        |  ROUND(b, 6) AS trend, ROUND(l + 7 * b, 6) AS forecast
        |FROM rec JOIN nmax ON nmax.g = rec.g
        |WHERE rec.i = t ORDER BY 1""".stripMargin),

    // RFM customer segmentation: recency/frequency/monetary quintile
    // scores via exact interpolated thresholds (no global per-row
    // window), segment = r*100 + f*10 + m with 5 best.
    Gate("q249_rfm", (s, dir) =>
      graft.ops.Cohorts.rfm(t(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("segment"),
      """WITH refd AS (
        |  SELECT MAX(CAST(ts AS DATE)) AS a FROM events
        |), u AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MAX(CAST(ts AS DATE)),
        |      (SELECT a FROM refd)) AS BIGINT) AS recency,
        |    CAST(COUNT(1) AS BIGINT) AS frequency,
        |    ROUND(SUM(value), 4) AS monetary
        |  FROM events GROUP BY 1
        |), cr AS (
        |  SELECT list_transform(quantile_cont(recency,
        |    [0.2,0.4,0.6,0.8]), x -> ROUND(x, 6)) AS c FROM u
        |), cf AS (
        |  SELECT list_transform(quantile_cont(frequency,
        |    [0.2,0.4,0.6,0.8]), x -> ROUND(x, 6)) AS c FROM u
        |), cm AS (
        |  SELECT list_transform(quantile_cont(monetary,
        |    [0.2,0.4,0.6,0.8]), x -> ROUND(x, 6)) AS c FROM u
        |), b AS (
        |  SELECT monetary,
        |    (5 - len(list_filter((SELECT c FROM cr), x -> recency > x)))
        |      * 100
        |    + (len(list_filter((SELECT c FROM cf), x -> frequency > x))
        |      + 1) * 10
        |    + len(list_filter((SELECT c FROM cm), x -> monetary > x))
        |      + 1 AS segment
        |  FROM u
        |)
        |SELECT CAST(segment AS BIGINT) AS segment,
        |  CAST(COUNT(1) AS BIGINT) AS n_users,
        |  ROUND(CAST(SUM(CAST(ROUND(monetary * 1e4, 0) AS BIGINT))
        |    AS DOUBLE) / COUNT(1) / 1e4, 6) AS mean_monetary
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // Classical additive decomposition of the per-type daily series:
    // centered MA-7 trend, day-of-week seasonal index on the
    // detrended (micro-unit-stabilized) series, residual remainder.
    Gate("q250_seasonal_decompose", (s, dir) =>
      graft.ops.TimeSeries.decompose(t(s, dir, "events"),
          "event_type", "ts")
        .orderBy("event_type", "d"),
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(1) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2
        |), tr AS (
        |  SELECT g, d, x,
        |    CASE WHEN COUNT(1) OVER w = 7
        |      THEN SUM(x) OVER w / 7.0 END AS trend
        |  FROM daily
        |  WINDOW w AS (PARTITION BY g ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), dt AS (
        |  SELECT g, d, x, trend,
        |    CAST(ROUND((x - trend) * 1e6, 0) AS BIGINT) AS dm
        |  FROM tr WHERE trend IS NOT NULL
        |), se AS (
        |  SELECT g, isodow(d) - 1 AS dow,
        |    SIGN(SUM(dm)) * FLOOR((10 * ABS(SUM(dm)) + 5 * COUNT(1))
        |      / (10 * COUNT(1))) / 1e6 AS seasonal
        |  FROM dt GROUP BY 1, 2
        |)
        |SELECT dt.g AS event_type, d, CAST(x AS BIGINT) AS n,
        |  ROUND(trend, 6) AS trend, ROUND(seasonal, 6) AS seasonal,
        |  ROUND(x - trend - seasonal, 6) AS residual
        |FROM dt JOIN se ON se.g = dt.g AND se.dow = isodow(d) - 1
        |ORDER BY 1, 2""".stripMargin),

    // Top session-opening event paths ("a>b>c"): sessionize, render
    // each session's first three events, count sessions per path —
    // the path frame is alphabet-bounded, so the top-20 ordering is
    // metadata-scale.
    Gate("q253_event_paths", (s, dir) =>
      graft.ops.Funnel.eventPaths(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id", gapSeconds = 1800)
        .orderBy("rank"),
      // q23's session CTE chain, then first-3 paths per session
      """WITH l AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events
        |), f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM l
        |), s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f
        |), r AS (
        |  SELECT user_id, session_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM s
        |), p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1, 2
        |)
        |SELECT path, COUNT(1) AS n_sessions,
        |  CAST(ROW_NUMBER() OVER (ORDER BY COUNT(1) DESC, path)
        |    AS BIGINT) AS rank
        |FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),

    // Weekly growth accounting: new / retained / resurrected /
    // churned actives per week, the ledger where actives(w) -
    // actives(w-1) = new + resurrected - churned.
    Gate("q254_growth_accounting", (s, dir) =>
      graft.ops.Cohorts.growthAccounting(t(s, dir, "events"),
          "user_id", "ts")
        .orderBy("wk"),
      """WITH wku AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events
        |), fw AS (
        |  SELECT u, MIN(wk) AS first_wk FROM wku GROUP BY 1
        |), st AS (
        |  SELECT w.wk,
        |    CAST(SUM(CASE WHEN w.wk = fw.first_wk THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN w.wk <> fw.first_wk
        |        AND p.u IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN w.wk <> fw.first_wk
        |        AND p.u IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM wku w JOIN fw ON fw.u = w.u
        |  LEFT JOIN wku p ON p.u = w.u AND p.wk = w.wk - 7
        |  GROUP BY 1
        |), ch AS (
        |  SELECT w.wk + 7 AS wk, COUNT(1) AS n_churned
        |  FROM wku w LEFT JOIN wku n ON n.u = w.u AND n.wk = w.wk + 7
        |  WHERE n.u IS NULL AND w.wk + 7 <= (SELECT MAX(wk) FROM wku)
        |  GROUP BY 1
        |)
        |SELECT coalesce(st.wk, ch.wk) AS wk,
        |  coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM st FULL JOIN ch ON ch.wk = st.wk
        |ORDER BY 1""".stripMargin),

    // Cohort LTV curve: cumulative revenue per user by (first-week
    // cohort, offset) — integer 1e-4-unit sums keep the running
    // curve bit-stable.
    Gate("q255_cohort_ltv", (s, dir) =>
      graft.ops.Cohorts.cohortLtv(t(s, dir, "events"), "user_id", "ts",
          "value")
        .orderBy("cohort_week", "week_offset"),
      """WITH uw AS (
        |  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE)
        |      AS wk, ROUND(SUM(value), 4) AS rev
        |  FROM events GROUP BY 1, 2
        |), fw AS (
        |  SELECT u, MIN(wk) AS cohort_week FROM uw GROUP BY 1
        |), sz AS (
        |  SELECT cohort_week, CAST(COUNT(1) AS BIGINT) AS n_users
        |  FROM fw GROUP BY 1
        |), po AS (
        |  SELECT cohort_week,
        |    CAST(date_diff('day', cohort_week, wk) / 7 AS BIGINT)
        |      AS week_offset,
        |    SUM(CAST(ROUND(rev * 1e4, 0) AS BIGINT)) AS rm
        |  FROM uw JOIN fw ON fw.u = uw.u GROUP BY 1, 2
        |), cm AS (
        |  SELECT cohort_week, week_offset,
        |    SUM(rm) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM po
        |)
        |SELECT cm.cohort_week, week_offset, n_users,
        |  ROUND(CAST(cum AS DOUBLE) / n_users / 1e4, 6)
        |    AS cum_rev_per_user
        |FROM cm JOIN sz ON sz.cohort_week = cm.cohort_week
        |ORDER BY 1, 2""".stripMargin),

    // Daily p50/p90/p99 value percentiles per event type — the
    // operations-dashboard trend over exact interpolated quantiles.
    Gate("q256_daily_percentiles", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"),
          round(element_at(percentile(col("value"),
            array(lit(0.5), lit(0.9), lit(0.99))), 1), 6).as("p50"),
          round(element_at(percentile(col("value"),
            array(lit(0.5), lit(0.9), lit(0.99))), 2), 6).as("p90"),
          round(element_at(percentile(col("value"),
            array(lit(0.5), lit(0.9), lit(0.99))), 3), 6).as("p99"))
        .orderBy("event_type", "d"),
      """SELECT event_type, CAST(ts AS DATE) AS d, COUNT(1) AS n,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Week-over-week top movers: weekly revenue per type in integer
    // 1e-4 units, lag delta and percent change, ranked by |pct|.
    Gate("q257_top_movers", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("wk"))
      t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .agg(sum(round(col("value") * 1e4).cast("long")).as("__rm"))
        .withColumn("__prev", lag(col("__rm"), 1).over(w))
        .where(col("__prev").isNotNull && col("__prev") > 0)
        .select(col("event_type"), col("wk"),
          round(col("__rm").cast("double") / 1e4, 4).as("revenue"),
          round((col("__rm") - col("__prev")).cast("double") / 1e4, 4)
            .as("delta"),
          round((col("__rm") - col("__prev")).cast("double")
            / col("__prev"), 6).as("pct_change"))
        .orderBy(abs(col("pct_change")).desc, col("event_type"), col("wk"))
        .limit(10)
    },
      """WITH wr AS (
        |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    SUM(CAST(ROUND(value * 1e4, 0) AS BIGINT)) AS rm
        |  FROM events GROUP BY 1, 2
        |), lg AS (
        |  SELECT event_type, wk, rm,
        |    LAG(rm) OVER (PARTITION BY event_type ORDER BY wk) AS prev
        |  FROM wr
        |)
        |SELECT event_type, wk,
        |  ROUND(CAST(rm AS DOUBLE) / 1e4, 4) AS revenue,
        |  ROUND(CAST(rm - prev AS DOUBLE) / 1e4, 4) AS delta,
        |  ROUND(CAST(rm - prev AS DOUBLE) / prev, 6) AS pct_change
        |FROM lg WHERE prev IS NOT NULL AND prev > 0
        |ORDER BY abs(ROUND(CAST(rm - prev AS DOUBLE) / prev, 6)) DESC,
        |  event_type, wk
        |LIMIT 10""".stripMargin)
  )
}
