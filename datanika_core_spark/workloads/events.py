"""Event-stream analytics over the `events` table — the batch twins
of the Structured Streaming operators in
``datanika_core_spark/streaming/`` (same logical semantics; the
streaming module adds watermarks + incremental state).

The reference has no streaming surface (SURVEY.md §1.1) — cursor-based
batch only — so these are beyond-reference extensions exercising the
event-time operator family a training-data pipeline needs.

Scale notes: sessionization is one shuffle on user_id (then per-key
ordered scan — Spark's window exec sorts within partitions);
tumbling/hopping aggregation is a plain hash aggregate keyed by
(bucket, type). At 100 TB, pre-partition the event log by date and
bucket by user_id so the session shuffle is local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload

_GAP_MIN = 30


@workload(
    "events_sessionize_gap",
    headline=True,
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL {_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_no
  FROM ordered
)
SELECT user_id, session_no,
       min(ts) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec,
       round(sum(value), 2) AS total_value
FROM sess
GROUP BY user_id, session_no
ORDER BY user_id, session_no
""",
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative
    sum of session-start flags per user, then per-session aggregates.
    The streaming analogue is ``session_window(ts, '30 minutes')`` —
    see streaming/jobs.py."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lag_ts = F.lag("ts").over(w)
    new_s = F.when(
        lag_ts.isNull()
        | (F.col("ts") > lag_ts + F.expr(f"INTERVAL {_GAP_MIN} MINUTES")),
        1,
    ).otherwise(0)
    sess = (
        ev.select("user_id", "ts", "value", "event_id")
        .withColumn("new_session", new_s)
        .withColumn("session_no", F.sum("new_session").over(wcum).cast("bigint"))
    )
    dur = (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            dur.alias("duration_sec"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("user_id", "session_no")
    )


@workload(
    "events_tumbling_hourly",
    headline=True,
    oracle="""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
       event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS users,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY bucket_start, event_type
""",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type — Spark's
    ``window()`` grouping; in streaming mode the identical expression
    runs under a watermark (streaming/jobs.py)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("bucket_start", "event_type")
    )


@workload(
    "events_funnel_conversion",
    oracle="""
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT
  CAST(count(*) AS BIGINT) AS n_users,
  CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS stage_view,
  CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
           THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
  CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                AND t_purchase > t_click
           THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
FROM stages
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): first
    occurrence of each stage per user via conditional min, then
    order-respecting conversion counts. One shuffle on user_id + one
    global aggregate; NULL comparisons drop non-converts for free
    (t_click > t_view is NULL-safe false)."""
    ev = t(spark, sf_dir, "events")

    def first_ts(etype: str):
        return F.min(
            F.when(F.col("event_type") == etype, F.col("ts"))
        ).alias(f"t_{etype}")

    stages = ev.groupBy("user_id").agg(
        first_ts("view"), first_ts("click"), first_ts("purchase")
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))

    def cnt(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        cnt(viewed, "stage_view"),
        cnt(clicked, "stage_click"),
        cnt(purchased, "stage_purchase"),
    )


@workload(
    "events_hopping_windows",
    oracle="""
WITH phases AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, ts, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL 1 HOUR, ts,
                     INTERVAL 30 MINUTE) AS win_start, ts, value
  FROM events
)
SELECT win_start, count(*) AS n, round(sum(value), 2) AS total_value
FROM phases
GROUP BY win_start
ORDER BY win_start
""",
)
def events_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 1-hour length, 30-min hop — every
    event lands in two windows. Spark's ``window(ts, '1 hour',
    '30 minutes')`` explodes each row into its windows; the DuckDB
    oracle reproduces it as the union of the two phase-shifted
    tumbling bucketings."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").start.alias("win_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("win_start")
    )


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen day, activity by week.
# --------------------------------------------------------------------------


@workload(
    "events_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         CAST(floor(date_diff('day', f.cohort_day, CAST(e.ts AS DATE))
                    / 7.0) AS BIGINT) AS week_no
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_day, week_no, CAST(count(*) AS BIGINT) AS n_users
FROM activity
GROUP BY cohort_day, week_no
ORDER BY cohort_day, week_no
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: cohort = user's first-seen day,
    week_no = weeks since cohort entry, cell = distinct active users.
    Two shuffles (first-seen agg, then the retention agg); the
    user_id join reuses the first agg's hash partitioning. At 100 TB
    the firsts table is a maintained incremental model (first-seen
    never changes), turning this into one scan + one broadcast-ish
    join instead of a full recompute."""
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id", "cohort_day",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7.0
            ).cast("bigint").alias("week_no"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "week_no")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "week_no")
    )


@workload(
    "events_zscore_anomaly",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS days,
         CAST(sum(n) AS BIGINT) AS s1,
         CAST(sum(n * n) AS BIGINT) AS s2
  FROM daily GROUP BY event_type
)
SELECT d.event_type, d.day, d.n,
       round((d.n - s1 * 1.0 / days)
             / sqrt(s2 * 1.0 / days
                    - (s1 * 1.0 / days) * (s1 * 1.0 / days)), 6) AS z
FROM daily d JOIN stats s USING (event_type)
WHERE abs((d.n - s1 * 1.0 / days)
          / sqrt(s2 * 1.0 / days
                 - (s1 * 1.0 / days) * (s1 * 1.0 / days))) > 2.0
ORDER BY event_type, day
""",
)
def events_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection: daily event counts per type, flagged
    where |z| > 2 against that type's own distribution. Variance is
    derived from exact integer sum/sum-of-squares aggregates (two
    partial-aggregated shuffles, no float accumulation order anywhere
    until two final divisions) — so both engines produce bit-identical
    z-scores, unlike stddev_samp whose merge order is engine-defined.
    The per-type stats frame is tiny and broadcast back onto the
    daily counts."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("days"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
    )
    mean = F.col("s1") * F.lit(1.0) / F.col("days")
    z = (F.col("n") - mean) / F.sqrt(
        F.col("s2") * F.lit(1.0) / F.col("days") - mean * mean
    )
    return (
        # bound: <= |event_type| rows
        daily.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.0)
        .select("event_type", "day", "n", F.round(z, 6).alias("z"))
        .orderBy("event_type", "day")
    )


_ROLL_US = 7 * 86400 * 1000000  # 7 days in microseconds


@workload(
    "events_rolling_window_features",
    headline=True,
    oracle=f"""
SELECT user_id, event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       round(sum(value) OVER w, 2) AS value_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_ROLL_US} PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
""",
)
def events_rolling_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window features: per user, the trailing-7-day event
    count and value sum AT EVERY event — the standard feature-
    engineering shape for behavioral models. Unlike ROWS frames, the
    RANGE frame is defined on event time (microsecond epoch on both
    engines, so frame boundaries agree exactly); one shuffle on
    user_id, then a sorted streaming frame scan — no self-join, no
    explode, state bounded by the frame width."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_ROLL_US, 0)
    )
    return (
        ev.select(
            "user_id", "event_id",
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_7d"),
            F.round(F.sum("value").over(w), 2).alias("value_7d"),
        )
        .orderBy("user_id", "event_id")
    )


@workload(
    "events_resample_dense_hourly",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS t0,
         date_trunc('hour', max(ts)) AS t1
  FROM events
),
grid AS (
  SELECT t.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (
    SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bucket
    FROM bounds
  ) g
),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(value), 2) AS total_value
  FROM events GROUP BY 1, 2
)
SELECT g.event_type AS event_type, g.bucket AS bucket,
       coalesce(h.n, 0) AS n,
       coalesce(h.total_value, 0.0) AS total_value
FROM grid g LEFT JOIN hourly h
  ON h.event_type = g.event_type AND h.bucket = g.bucket
ORDER BY g.event_type, g.bucket
""",
)
def events_resample_dense_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: every (event_type, hour) cell of
    the full time range, zero-filled where no events landed — the
    gap-filling step dashboards and forecasting models need before
    window math. The dense grid is generated from ONE min/max
    aggregate (a 1-row broadcast) × the distinct key set via
    sequence(), never materialized wider than |keys| × |buckets|;
    the sparse hourly aggregate left-joins onto it."""
    ev = t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.join(bounds)
        .select(
            "event_type",
            F.explode(
                F.expr("sequence(t0, t1, INTERVAL 1 HOUR)")
            ).alias("bucket"),
        )
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    h = hourly.select(
        F.col("event_type").alias("het"),
        F.col("bucket").alias("hb"), "n", "total_value",
    )
    return (
        grid.join(
            h, (grid.event_type == h.het) & (grid.bucket == h.hb), "left"
        )
        .select(
            "event_type", "bucket",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("event_type", "bucket")
    )


@workload(
    "events_mad_outliers",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(n, 0.5) AS median_n
  FROM daily GROUP BY event_type
),
mad AS (
  SELECT d.event_type,
         quantile_cont(abs(d.n - m.median_n), 0.5) AS mad_n
  FROM daily d JOIN med m USING (event_type)
  GROUP BY d.event_type
)
SELECT d.event_type, d.day, d.n,
       round(abs(d.n - m.median_n) / (1.4826 * x.mad_n), 6)
         AS robust_z
FROM daily d
JOIN med m USING (event_type)
JOIN mad x USING (event_type)
WHERE abs(d.n - m.median_n) / (1.4826 * x.mad_n) > 2.0
ORDER BY d.event_type, d.day
""",
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation:
    robust_z = |n - median| / (1.4826·MAD) > 2 — unlike the
    mean/stddev z-score, one wild day cannot drag the threshold and
    mask itself. Two grouped exact-percentile aggregates (median,
    then MAD of residuals vs the broadcast medians); both tiny
    per-type frames broadcast back onto the daily counts."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("median_n")
    )
    mad = (
        # bound: <= |event_type| rows
        daily.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(n - median_n), 0.5)").alias("mad_n"))
    )
    rz = F.abs(F.col("n") - F.col("median_n")) / (1.4826 * F.col("mad_n"))
    return (
        # bound: <= |event_type| rows
        daily.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")  # bound: <= |event_type| rows
        .filter(rz > 2.0)
        .select("event_type", "day", "n", F.round(rz, 6).alias("robust_z"))
        .orderBy("event_type", "day")
    )


@workload(
    "events_conversion_latency",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
),
conv AS (
  SELECT user_id,
         epoch(t_purchase - t_click) / 60.0 AS latency_min
  FROM firsts
  WHERE t_click IS NOT NULL AND t_purchase > t_click
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(latency_min, 0.5), 4) AS p50_min,
       round(quantile_cont(latency_min, 0.9), 4) AS p90_min,
       round(max(latency_min), 4) AS max_min
FROM conv
""",
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: minutes from a user's FIRST
    click to their FIRST subsequent purchase, exact interpolated
    p50/p90 over converting users. One conditional-min groupBy per
    user (map-side combinable) + a single tiny percentile aggregate —
    the funnel-latency readout every growth dashboard wants."""
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts")))
        .alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("t_purchase"),
    )
    conv = firsts.filter(
        F.col("t_click").isNotNull()
        & (F.col("t_purchase") > F.col("t_click"))
    ).select(
        ((F.unix_micros(F.col("t_purchase").cast("timestamp"))
          - F.unix_micros(F.col("t_click").cast("timestamp")))
         / 1e6 / 60.0).alias("latency_min")
    )
    return conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.expr("percentile(latency_min, 0.5)"), 4).alias("p50_min"),
        F.round(F.expr("percentile(latency_min, 0.9)"), 4).alias("p90_min"),
        F.round(F.max("latency_min"), 4).alias("max_min"),
    )


# --------------------------------------------------------------------------
# New-user accrual: first-seen dates and the cumulative user curve.
# --------------------------------------------------------------------------


@workload(
    "events_first_seen_users",
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(ts)::DATE AS first_day FROM events GROUP BY user_id
),
daily AS (
  SELECT first_day AS day, count(*) AS new_users
  FROM first_seen GROUP BY first_day
)
SELECT day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
FROM daily
ORDER BY day
""",
)
def events_first_seen_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-user accrual curve: each user's first-seen day, the daily
    new-user count, and the running cumulative — the distinct-count
    growth curve computed WITHOUT a distinct per day (a per-day
    COUNT(DISTINCT) over the full history re-scans everything per
    day; first-seen reduces it to one groupBy(user) + a tiny daily
    cumsum).

    Scale: the user-level min(ts) agg is the only corpus-size
    shuffle (combiner-friendly); the daily curve is |days| rows, so
    the unpartitioned cumulative window is safe — it runs over a
    few thousand rows regardless of corpus size."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        daily.withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("bigint")
        )
        .select(
            "day",
            F.col("new_users").cast("bigint").alias("new_users"),
            "cumulative_users",
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Session path mining: most common within-session event trigrams.
# --------------------------------------------------------------------------

_PATH_TOPK = 20


@workload(
    "session_path_trigrams",
    headline=True,
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL {_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
),
paths AS (
  SELECT list(event_type ORDER BY ts, event_id) AS types
  FROM sess GROUP BY user_id, session_no
),
trigrams AS (
  SELECT unnest(CASE WHEN len(types) >= 3 THEN
           list_transform(range(1, len(types) - 1),
             i -> types[i] || '>' || types[i+1] || '>' || types[i+2])
           ELSE [] END) AS path
  FROM paths
)
SELECT path, CAST(count(*) AS BIGINT) AS n
FROM trigrams
GROUP BY path
ORDER BY n DESC, path
LIMIT {_PATH_TOPK}
""",
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: the {_PATH_TOPK} most common 3-step
    event-type paths WITHIN a session (30-min-gap sessions, same
    definition as events_sessionize_gap) — the funnel-discovery
    primitive: frequent trigrams are the de-facto flows, and a
    trigram ending in 'error' localizes where journeys break.

    Scale: sessionization is the one user-keyed shuffle;
    collect_list within (user, session) is bounded by session
    length (minutes of activity, not history). The trigram explode
    and count aggregate with map-side combine; top-k is a
    TakeOrdered over the (tiny) distinct-path table with a
    total-order tiebreak."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lag_ts = F.lag("ts").over(w)
    new_s = F.when(
        lag_ts.isNull()
        | (F.col("ts") > lag_ts + F.expr(f"INTERVAL {_GAP_MIN} MINUTES")),
        1,
    ).otherwise(0)
    sess = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("new_session", new_s)
        .withColumn("session_no", F.sum("new_session").over(wcum))
    )
    # sort_array over (ts, event_id, type) structs == ORDER BY within
    # the group — collect_list alone has no order guarantee
    paths = sess.groupBy("user_id", "session_no").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(ts, event_id,"
            " event_type))), s -> s.event_type)"
        ).alias("types")
    )
    trigram_expr = (
        "CASE WHEN size(types) >= 3 THEN"
        " transform(sequence(1, size(types) - 2),"
        " i -> concat(types[i-1], '>', types[i], '>', types[i+1]))"
        " ELSE array() END"
    )
    return (
        paths.select(F.explode(F.expr(trigram_expr)).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOPK)
    )


# --------------------------------------------------------------------------
# Equi-width histogram of a metric column.
# --------------------------------------------------------------------------

_HIST_BINS = 10


@workload(
    "events_value_histogram",
    oracle=f"""
WITH bounds AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(least(CAST(floor((e.value - b.lo) * {_HIST_BINS}
                        / (b.hi - b.lo)) AS BIGINT),
                  {_HIST_BINS - 1}) AS BIGINT) AS bin,
       ROUND(b.lo + least(CAST(floor((e.value - b.lo) * {_HIST_BINS}
                        / (b.hi - b.lo)) AS BIGINT),
                  {_HIST_BINS - 1}) * (b.hi - b.lo) / {_HIST_BINS}, 4)
         AS bin_lo,
       CAST(count(*) AS BIGINT) AS n
FROM events e JOIN bounds b USING (event_type)
GROUP BY 1, 2, 3
ORDER BY event_type, bin
""",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 10-bin histogram of `value` per event type — the
    distribution snapshot a data card or drift monitor embeds. The
    max lands in the top bin (least() clamp), matching NumPy's
    histogram edge convention.

    Scale: two passes expressed as one agg + one broadcast-join agg —
    same shape as the percentile filters; the bounds table is
    |types| rows. (An approx single-pass variant would read bounds
    from a prior micro-batch or fixed domain knowledge.)"""
    ev = t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bin_ = F.least(
        F.floor(
            (F.col("value") - F.col("lo"))
            * _HIST_BINS
            / (F.col("hi") - F.col("lo"))
        ).cast("bigint"),
        F.lit(_HIST_BINS - 1),
    )
    return (
        # bound: <= |event_type| rows
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            bin_.alias("bin"),
            F.round(
                F.col("lo")
                + bin_ * (F.col("hi") - F.col("lo")) / _HIST_BINS,
                4,
            ).alias("bin_lo"),
        )
        .groupBy("event_type", "bin", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bin")
    )


# --------------------------------------------------------------------------
# Day-over-day change rates per event type.
# --------------------------------------------------------------------------


@workload(
    "events_day_over_day_change",
    oracle="""
WITH daily AS (
  SELECT event_type, ts::DATE AS day,
         count(*) AS n, round(sum(value), 2) AS total
  FROM events GROUP BY 1, 2
)
SELECT event_type, day,
       CAST(n AS BIGINT) AS n,
       total,
       CAST(n - lag(n) OVER w AS BIGINT) AS n_delta,
       ROUND((n - lag(n) OVER w) * 1.0
             / greatest(lag(n) OVER w, 1), 6) AS n_pct_change
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
ORDER BY event_type, day
""",
)
def events_day_over_day_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day deltas and percent change per event type — the
    topline movement metric every ops dashboard leads with; first
    days emit NULL deltas (no prior day) rather than a fake zero.

    Scale: daily pre-agg first (combiner-friendly, |types|×|days|
    rows), lag window over the TINY aggregate — never a window over
    raw events."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lag_n = F.lag("n").over(w)
    return (
        daily.select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n"),
            "total",
            (F.col("n") - lag_n).cast("bigint").alias("n_delta"),
            F.round(
                (F.col("n") - lag_n) * F.lit(1.0)
                / F.greatest(lag_n, F.lit(1)),
                6,
            ).alias("n_pct_change"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# Strict sequential funnel with per-step conversion windows.
# --------------------------------------------------------------------------

_SF_STEP_HOURS = 24  # max gap allowed between consecutive stages


@workload(
    "events_funnel_strict_windowed",
    oracle=f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL {_SF_STEP_HOURS} HOUR
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL {_SF_STEP_HOURS} HOUR
  GROUP BY e.user_id
),
chain AS (
  SELECT s1.user_id, s1.t1, s2.t2, s3.t3
  FROM s1
  LEFT JOIN s2 ON s2.user_id = s1.user_id
  LEFT JOIN s3 ON s3.user_id = s1.user_id
)
SELECT
  CAST(count(*) AS BIGINT) AS stage_view,
  CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS stage_click,
  CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS stage_purchase,
  ROUND(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) * 1.0
          / count(*), 6) AS conversion,
  ROUND(avg(CASE WHEN t3 IS NOT NULL
                 THEN date_diff('second', t1, t3) END) / 60.0, 4)
    AS avg_mins_to_convert
FROM chain
""",
)
def events_funnel_strict_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strict sequential funnel view → click → purchase where each
    stage must land within 24 h of the PREVIOUS stage's qualifying
    event (t2 = first click after t1 within the window; t3 = first
    purchase after that t2) — the time-boxed semantics product
    funnels actually use, vs events_funnel_conversion's
    global-first-occurrence ordering. Reports stage survivors,
    conversion rate, and mean minutes from first view to conversion.

    Scale: three filtered per-user aggregates, every shuffle keyed
    on user_id (one bucketed layout serves all of them plus the
    sessionize/attribution family); the stage joins are per-user
    equi-joins with the window predicate as a residual filter —
    never a time-range cross product. Latencies average in exact
    integer seconds, divided and rounded identically on both sides."""
    ev = t(spark, sf_dir, "events")
    step = F.expr(f"INTERVAL {_SF_STEP_HOURS} HOURS")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1"))
                & (F.col("ts") <= F.col("t1") + step))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2"))
                & (F.col("ts") <= F.col("t2") + step))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    chain = s1.join(s2, "user_id", "left").join(s3, "user_id", "left")
    converted = F.col("t3").isNotNull()
    secs = (
        F.unix_timestamp("t3").cast("double")
        - F.unix_timestamp("t1").cast("double")
    )
    return chain.agg(
        F.count(F.lit(1)).cast("bigint").alias("stage_view"),
        F.sum(F.when(F.col("t2").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("stage_click"),
        F.sum(F.when(converted, 1).otherwise(0))
        .cast("bigint")
        .alias("stage_purchase"),
        F.round(
            F.sum(F.when(converted, 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("conversion"),
        F.round(
            F.avg(F.when(converted, secs)) / 60.0, 4
        ).alias("avg_mins_to_convert"),
    )


# --------------------------------------------------------------------------
# Concurrent-session sweep line (interval overlap counting).
# --------------------------------------------------------------------------


# Shared oracle CTE chain: sessionize → ±1 boundaries → global sweep.
_O_SWEPT = f"""ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL {_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
),
sessions AS (
  SELECT user_id, session_no, min(ts) AS s, max(ts) AS e
  FROM numbered
  GROUP BY user_id, session_no
),
bounds AS (
  SELECT s AS ts, 1 AS delta, user_id, session_no FROM sessions
  UNION ALL
  SELECT e AS ts, -1 AS delta, user_id, session_no FROM sessions
),
swept AS (
  SELECT ts, delta, user_id, session_no,
         sum(delta) OVER (ORDER BY ts, delta, user_id, session_no
                          ROWS UNBOUNDED PRECEDING) AS concurrent
  FROM bounds
)"""


def _swept_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared sweep line: sessionize (30-min gap), emit ±1 at session
    start/end, running-sum over the global boundary order
    (ts, delta, user_id, session_no) → the live-session level after
    each boundary. Used by the hourly-max and the time-weighted
    percentile workloads."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lag_ts = F.lag("ts").over(w)
    new_s = F.when(
        lag_ts.isNull()
        | (F.col("ts") > lag_ts + F.expr(f"INTERVAL {_GAP_MIN} MINUTES")),
        1,
    ).otherwise(0)
    sessions = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("new_session", new_s)
        .withColumn("session_no", F.sum("new_session").over(wcum))
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    bounds = sessions.select(
        F.col("s").alias("ts"), F.lit(1).alias("delta"),
        "user_id", "session_no",
    ).unionByName(
        sessions.select(
            F.col("e").alias("ts"), F.lit(-1).alias("delta"),
            "user_id", "session_no",
        )
    )
    wsweep = Window.orderBy("ts", "delta", "user_id", "session_no").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bounds.select(
        "ts", "delta", "user_id", "session_no",
        F.sum("delta").over(wsweep).alias("concurrent"),
    )


@workload(
    "events_concurrent_sessions",
    oracle=f"""
WITH {_O_SWEPT},
hour_stats AS (
  SELECT date_trunc('hour', ts) AS hour,
         sum(delta) AS hour_delta,
         max(concurrent) AS max_in_hour,
         count(*) AS n_boundaries
  FROM swept
  GROUP BY hour
),
grid AS (
  SELECT unnest(generate_series(min(hour), max(hour),
                                INTERVAL 1 HOUR)) AS hour
  FROM hour_stats
),
levels AS (
  SELECT g.hour,
         coalesce(h.max_in_hour, 0) AS max_in_hour,
         coalesce(h.n_boundaries, 0) AS n_boundaries,
         sum(coalesce(h.hour_delta, 0)) OVER (ORDER BY g.hour
             ROWS UNBOUNDED PRECEDING) - coalesce(h.hour_delta, 0)
           AS entry_level
  FROM grid g LEFT JOIN hour_stats h ON h.hour = g.hour
)
SELECT hour,
       CAST(greatest(entry_level, max_in_hour) AS BIGINT)
         AS max_concurrent,
       CAST(n_boundaries AS BIGINT) AS n_boundaries
FROM levels
ORDER BY hour
""",
)
def events_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency by hour via the sweep line: sessions
    (30-min gap) emit +1 at start and −1 at end, a running sum over
    the globally ordered boundary stream IS the live-session count,
    and every hour on a DENSE grid reports its true maximum —
    max(level carried in at hour entry, boundary maxima within the
    hour) — so a session spanning a quiet hour still counts there.
    'How many users were on at once', the capacity metric interval
    self-joins get quadratically wrong. Boundary ties order
    (ts, delta, user, session): an end closing at the same instant
    another session starts counts down first — stated, so both
    engines sweep identically. Carry-in levels are per-hour delta
    sums prefix-summed over the grid — pure integer arithmetic.

    Scale: sessionization shuffles once on user_id (the shared key);
    the boundary stream is 2×sessions rows — tiny next to events.
    The global running sum range-partitions by time with per-range
    carry-in offsets (the distributed prefix-sum decomposition
    noted for ABC classification); hourly maxima then aggregate
    map-side."""
    from pyspark.sql import Window

    swept = _swept_boundaries(spark, sf_dir).select(
        "ts", "delta", "concurrent"
    )
    hour_stats = (
        swept.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.sum("delta").alias("hour_delta"),
            F.max("concurrent").alias("max_in_hour"),
            F.count(F.lit(1)).alias("n_boundaries"),
        )
        .cache()  # grid bounds + join both read it; one sweep pass
    )
    grid = hour_stats.agg(
        F.min("hour").alias("mn"), F.max("hour").alias("mx")
    ).select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    wgrid = Window.orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    levels = (
        grid.join(hour_stats, "hour", "left")
        .select(
            "hour",
            F.coalesce("max_in_hour", F.lit(0)).alias("max_in_hour"),
            F.coalesce("n_boundaries", F.lit(0)).alias("n_boundaries"),
            (
                F.sum(F.coalesce("hour_delta", F.lit(0))).over(wgrid)
                - F.coalesce("hour_delta", F.lit(0))
            ).alias("entry_level"),
        )
    )
    return levels.select(
        "hour",
        F.greatest("entry_level", "max_in_hour")
        .cast("bigint")
        .alias("max_concurrent"),
        F.col("n_boundaries").cast("bigint").alias("n_boundaries"),
    ).orderBy("hour")


# --------------------------------------------------------------------------
# Time-weighted concurrency percentiles (duration-weighted level CDF).
# --------------------------------------------------------------------------


@workload(
    "events_concurrency_time_weighted",
    oracle=f"""
WITH {_O_SWEPT},
durs AS (
  SELECT concurrent AS level,
         lead(epoch_us(ts)) OVER (ORDER BY ts, delta, user_id, session_no)
           - epoch_us(ts) AS us
  FROM swept
),
lev AS (
  SELECT level, sum(us) AS us
  FROM durs WHERE us IS NOT NULL GROUP BY level
),
cdf AS (
  SELECT level, us,
         sum(us) OVER (ORDER BY level ROWS UNBOUNDED PRECEDING) AS cum,
         sum(us) OVER () AS total
  FROM lev
),
pick AS (
  SELECT p.pct, c.level, c.cum, c.total,
         row_number() OVER (PARTITION BY p.pct ORDER BY c.level) AS rn
  FROM (VALUES (50), (95), (99)) p(pct)
  JOIN cdf c ON c.cum * 100 >= p.pct * c.total
)
SELECT CAST(pct AS BIGINT) AS pct,
       CAST(level AS BIGINT) AS level,
       ROUND(cum * 1.0 / total, 6) AS cdf_share
FROM pick WHERE rn = 1
ORDER BY pct
""",
)
def events_concurrency_time_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-weighted concurrency percentiles: how many sessions are
    live at the p50 / p95 / p99 *moment* — each sweep level is
    weighted by how long it persisted (lead(ts) − ts on the boundary
    stream, integer microseconds), and the percentile is the
    smallest level whose duration-weighted CDF reaches the target.
    This is the capacity-planning complement to the hourly-max view:
    a max counts one spike, the time-weighted p95 says what the
    system actually sustains. All arithmetic is integer (epoch_us
    durations, cum·100 ≥ pct·total threshold test) until the final
    reported CDF share.

    Scale: identical sweep skeleton to events_concurrent_sessions
    (one user_id shuffle, boundary stream ≈ 2×sessions rows); the
    CDF runs on |distinct levels| rows and the percentile probe is a
    broadcast of three constants. Ties at equal ts yield
    zero-duration rows that carry no weight — stated, so both
    engines agree."""
    from pyspark.sql import Window

    swept = _swept_boundaries(spark, sf_dir)
    wlead = Window.orderBy("ts", "delta", "user_id", "session_no")
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    durs = swept.select(
        F.col("concurrent").alias("level"),
        (F.lead(ep).over(wlead) - ep).alias("us"),
    )
    lev = (
        durs.where(F.col("us").isNotNull())
        .groupBy("level")
        .agg(F.sum("us").alias("us"))
    )
    wcdf = Window.orderBy("level").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(F.lit(1))
    cdf = lev.select(
        "level",
        F.sum("us").over(wcdf).alias("cum"),
        F.sum("us").over(wall).alias("total"),
    )
    pcts = spark.createDataFrame([(50,), (95,), (99,)], "pct int")
    wpick = Window.partitionBy("pct").orderBy("level")
    pick = (
        cdf.join(
            F.broadcast(pcts),  # bound: 3 literal rows
            F.col("cum") * 100 >= F.col("pct") * F.col("total"),
        )
        .withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") == 1)
    )
    return pick.select(
        F.col("pct").cast("bigint").alias("pct"),
        F.col("level").cast("bigint").alias("level"),
        F.round(F.col("cum") * 1.0 / F.col("total"), 6).alias("cdf_share"),
    ).orderBy("pct")


# --------------------------------------------------------------------------
# Kaplan-Meier survival curve over user activity lifetimes.
# --------------------------------------------------------------------------

_KM_CENSOR_DAYS = 3  # still active within N days of window end ⇒ censored


def _censored_risk_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared survival-analysis input: censored user lifetimes
    collapsed to the (t, d_events, c_censored, n_risk) grid — the
    risk-set table both Kaplan-Meier and Nelson-Aalen estimate from
    (one definition of the censoring rule, so the two estimators can
    never silently diverge; the _page_hinkley_report pattern)."""
    ev = t(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_d"),
        F.max("ts").cast("date").alias("last_d"),
    )
    wend = ev.agg(F.max("ts").cast("date").alias("wend"))
    life = span.crossJoin(wend).select(
        F.datediff("last_d", "first_d").cast("bigint").alias("t"),
        F.when(
            F.datediff("wend", "last_d") < _KM_CENSOR_DAYS, 1
        ).otherwise(0).alias("censored"),
    )
    grp = life.groupBy("t").agg(
        F.sum(1 - F.col("censored")).cast("bigint").alias("d_events"),
        F.sum("censored").cast("bigint").alias("c_censored"),
    )
    from pyspark.sql import Window as _W

    prev = _W.orderBy("t").rowsBetween(_W.unboundedPreceding, -1)
    total = life.count()
    return grp.withColumn(
        "n_risk",
        (
            F.lit(total)
            - F.coalesce(
                F.sum(F.col("d_events") + F.col("c_censored")).over(prev),
                F.lit(0),
            )
        ).cast("bigint"),
    )


@workload(
    "survival_kaplan_meier",
    oracle=f"""
WITH span AS (
  SELECT user_id,
         CAST(min(ts) AS DATE) AS first_d,
         CAST(max(ts) AS DATE) AS last_d
  FROM events GROUP BY user_id
),
w AS (SELECT CAST(max(ts) AS DATE) AS wend FROM events),
life AS (
  SELECT user_id,
         CAST(datediff('day', first_d, last_d) AS BIGINT) AS t,
         CASE WHEN datediff('day', last_d, w.wend) < {_KM_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS censored
  FROM span CROSS JOIN w
),
grp AS (
  SELECT t,
         CAST(sum(1 - censored) AS BIGINT) AS d_events,
         CAST(sum(censored) AS BIGINT) AS c_censored
  FROM life GROUP BY t
),
risk AS (
  SELECT t, d_events, c_censored,
         CAST((SELECT count(*) FROM life)
              - coalesce(sum(d_events + c_censored) OVER (
                    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM grp
),
terms AS (
  SELECT t, d_events, c_censored, n_risk,
         CASE WHEN d_events = 0 THEN CAST(0 AS BIGINT)
              WHEN d_events < n_risk
              THEN CAST(round(ln((n_risk - d_events) * 1.0 / n_risk)
                              * 100000000) AS BIGINT)
              ELSE NULL END AS lnu,
         CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END AS dead_all
  FROM risk
)
SELECT t AS t_days, n_risk, d_events, c_censored,
       CASE WHEN sum(dead_all) OVER (
                ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) > 0
            THEN 0.0
            ELSE ROUND(exp(sum(lnu) OVER (
                     ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) / 100000000.0), 6)
       END AS survival
FROM terms
ORDER BY t_days
""",
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over user activity lifetimes
    (Kaplan & Meier 1958): lifetime = days between a user's first
    and last event; a user whose last event falls within the final
    3 days of the window is CENSORED (still alive — the whole
    point of KM is that those users inform the risk set without
    counting as churn, which a naive churn-rate query gets wrong).
    S(t) = Π over death-times ≤ t of (1 − dᵢ/nᵢ); per-step log
    factors snap to integer 1e-8 units so the cumulative product is
    engine-exact, and an all-remaining-die step pins S to exactly 0
    (no ln(0)). The survival curve is the retention analytics twin:
    cohort retention reports activity by calendar period, KM
    reports it by user-age with censoring handled correctly.

    Scale: one groupBy(user) for the spans (map-side combine), then
    everything runs on |distinct lifetimes| rows (≤ window days) —
    the cumulative windows are over that tiny frame, not events."""
    from pyspark.sql import Window as _W

    cum = _W.orderBy("t").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    risk = _censored_risk_grid(spark, sf_dir)
    terms = risk.withColumn(
        "lnu",
        F.when(F.col("d_events") == 0, F.lit(0).cast("bigint"))
        .when(
            F.col("d_events") < F.col("n_risk"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d_events"))
                    * 1.0
                    / F.col("n_risk")
                )
                * 100000000
            ).cast("bigint"),
        )
        .otherwise(F.lit(None)),
    ).withColumn(
        "dead_all",
        F.when(F.col("d_events") >= F.col("n_risk"), 1).otherwise(0),
    )
    return (
        terms.select(
            F.col("t").alias("t_days"),
            "n_risk",
            "d_events",
            "c_censored",
            F.when(F.sum("dead_all").over(cum) > 0, F.lit(0.0))
            .otherwise(
                F.round(F.exp(F.sum("lnu").over(cum) / 100000000.0), 6)
            )
            .alias("survival"),
        )
        .orderBy("t_days")
    )


# --------------------------------------------------------------------------
# Time-weighted average value (TWAP) per day — the irregular-sampling
# average the plain daily mean gets wrong: an event's value holds
# until the NEXT event, so sparse periods weigh by their duration.
# --------------------------------------------------------------------------


@workload(
    "events_twap_daily",
    oracle="""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         epoch_us(ts) // 1000000 AS sec,
         CAST(round(value * 100) AS BIGINT) AS c,
         event_id
  FROM events
),
stepped AS (
  SELECT event_type, day, c,
         coalesce(
           lead(sec) OVER (PARTITION BY event_type, day
                           ORDER BY sec, event_id),
           epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP)) // 1000000
         ) - sec AS w
  FROM ev
),
agg AS (
  SELECT event_type, day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(c * w) AS BIGINT) AS num,
         CAST(sum(w) AS BIGINT) AS den,
         CAST(sum(c) AS BIGINT) AS csum
  FROM stepped GROUP BY event_type, day
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day, n_events,
       ROUND(num * 1.0 / den / 100, 6) AS twap,
       ROUND(csum * 1.0 / n_events / 100, 6) AS plain_avg
FROM agg
ORDER BY event_type, day
""",
)
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event type, day): each
    event's value holds until the next event of that type that day
    (the last one holds to midnight), so the average weighs by
    HOLDING TIME — the correct summary for irregularly-sampled
    series, where the plain mean over-weights bursts. Both averages
    ship so the gap itself is the burstiness signal.

    Integer-exactness: timestamps collapse to whole epoch seconds
    and values to BIGINT cents, so numerator Σ c·w and denominator
    Σ w are exact BIGINTs in both engines (second resolution keeps
    Σ c·w far inside 64 bits at any realistic per-day volume; micros
    would overflow at ~1e19); the one division happens at the end.

    Scale: one (type, day)-keyed window for the lead() step weights
    — the same partitioned-walk shape as the sessionize and CUSUM
    workloads — then a combiner groupBy to |types|x|days| rows."""
    from pyspark.sql import Window as _W

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
        .alias("sec"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
        "event_id",
    )
    w = _W.partitionBy("event_type", "day").orderBy("sec", "event_id")
    stepped = ev.select(
        "event_type", "day", "c",
        (
            F.coalesce(
                F.lead("sec").over(w),
                F.expr(
                    "unix_micros(cast(cast(day + interval 1 day as"
                    " timestamp) as timestamp)) div 1000000"
                ),
            ) - F.col("sec")
        ).alias("w"),
    )
    agg = stepped.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("c") * F.col("w")).cast("bigint").alias("num"),
        F.sum("w").cast("bigint").alias("den"),
        F.sum("c").cast("bigint").alias("csum"),
    )
    return agg.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        "n_events",
        F.round(F.col("num") * 1.0 / F.col("den") / 100, 6).alias("twap"),
        F.round(F.col("csum") * 1.0 / F.col("n_events") / 100, 6)
        .alias("plain_avg"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# Out-of-order depth profile: the watermark-delay advisor.
# --------------------------------------------------------------------------

_OOO_CAP_MIN = 120       # lateness histogram cap (minutes)
_OOO_MAX_DELAY_S = 600   # simulated transport delay range [0, 600) s

_S_OOO_DELAY = ("cast(conv(substring(md5(concat('ooo-',"
                " cast(event_id as string))),1,15),16,10) as bigint)"
                f" % {_OOO_MAX_DELAY_S}")
_O_OOO_DELAY = ("('0x'||substring(md5('ooo-' ||"
                " CAST(event_id AS VARCHAR)),1,15))::BIGINT"
                f" % {_OOO_MAX_DELAY_S}")


@workload(
    "events_out_of_order_depth",
    oracle=f"""
WITH timed AS (
  SELECT event_id, epoch_us(ts) AS e,
         epoch_us(ts) + ({_O_OOO_DELAY}) * 1000000 AS arrival
  FROM events
),
arr AS (
  SELECT e,
         max(e) OVER (ORDER BY arrival, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS high_water
  FROM timed
),
hist AS (
  SELECT least((high_water - e) // 60000000, {_OOO_CAP_MIN})
           AS bucket_min,
         CAST(count(*) AS BIGINT) AS n_events
  FROM arr GROUP BY 1
),
tot AS (SELECT sum(n_events) AS n FROM hist)
SELECT h.bucket_min, h.n_events,
       ROUND(h.n_events * 1.0 / t.n, 6) AS share,
       ROUND(sum(h.n_events) OVER (ORDER BY h.bucket_min) * 1.0 / t.n, 6)
         AS cum_share
FROM hist h CROSS JOIN tot t
ORDER BY h.bucket_min
""",
)
def events_out_of_order_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order depth profile of the event stream — the
    empirical basis for choosing a Structured Streaming WATERMARK
    delay: each event's ARRIVAL time is its event time plus a
    deterministic md5-simulated transport delay (0–10 min — the
    testdata log is perfectly ordered, so the delay model supplies
    the disorder a real collection pipeline exhibits); replaying in
    arrival order tracks the event-time high-water mark and
    histograms every event's lateness (high_water − event_time) in
    minute buckets with cumulative shares. The smallest bucket whose
    cum_share clears your completeness SLO IS the withWatermark()
    delay: cum_share ≥ 0.99 at bucket 7 means a 7-minute watermark
    loses under 1% of events (cf. the streaming twins in streaming/,
    which all need this number).

    Determinism: all arithmetic is integer microseconds (epoch_us on
    both engines) and the delay coin is the portable md5 hash; the
    arrival sort carries an event_id tiebreak. Scale: the global
    running max runs through operators/ranking.global_prefix_max
    (frozen quantile buckets + per-bucket windows + a ≤|buckets|-row
    prefix of bucket maxima — no single-partition sort); production
    would additionally profile per source partition (which is what
    the watermark actually bounds); the histogram map-side combines
    to ≤ {_OOO_CAP_MIN}+1 rows."""
    from pyspark.sql import Window as _W

    timed = t(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("e"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.expr(_S_OOO_DELAY) * 1000000
        ).alias("arrival"),
        "event_id",
    )
    from datanika_core_spark.operators.ranking import global_prefix_max

    arr = global_prefix_max(
        timed, ["arrival", "event_id"], "e", "high_water"
    ).select("e", "high_water")
    hist = (
        arr.select(
            F.least(
                F.expr("(high_water - e) div 60000000"),
                F.lit(_OOO_CAP_MIN).cast("bigint"),
            ).alias("bucket_min")
        )
        .groupBy("bucket_min")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    tot = hist.agg(F.sum("n_events").alias("n"))
    wc = _W.orderBy("bucket_min").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    return (
        hist.crossJoin(tot)
        .select(
            "bucket_min", "n_events",
            F.round(F.col("n_events") * 1.0 / F.col("n"), 6).alias("share"),
            F.round(
                F.sum("n_events").over(wc) * 1.0 / F.col("n"), 6
            ).alias("cum_share"),
        )
        .orderBy("bucket_min")
    )


# --------------------------------------------------------------------------
# Growth accounting: new / retained / resurrected / churned per week.
# --------------------------------------------------------------------------

_WEEK_US = 604800000000  # 7 * 86400 * 1e6


@workload(
    "events_user_lifecycle",
    oracle=f"""
WITH uw AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS week
  FROM events
),
maxw AS (SELECT max(week) AS mw FROM uw),
lagged AS (
  SELECT user_id, week,
         lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev,
         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS nxt
  FROM uw
),
states AS (
  SELECT week,
         CASE WHEN prev IS NULL THEN 'new'
              WHEN week = prev + 1 THEN 'retained'
              ELSE 'resurrected' END AS state
  FROM lagged
),
churn AS (
  SELECT l.week + 1 AS week, CAST(count(*) AS BIGINT) AS n_churned
  FROM lagged l CROSS JOIN maxw
  WHERE (l.nxt IS NULL OR l.nxt > l.week + 1) AND l.week + 1 <= maxw.mw
  GROUP BY l.week + 1
),
acts AS (
  SELECT week,
         CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
         CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected
  FROM states GROUP BY week
)
SELECT a.week - (SELECT min(week) FROM uw) AS week_idx,
       a.n_new, a.n_retained, a.n_resurrected,
       coalesce(c.n_churned, 0) AS n_churned,
       ROUND((a.n_retained) * 1.0
             / nullif(a.n_retained + coalesce(c.n_churned, 0), 0), 6)
         AS retention_rate
FROM acts a LEFT JOIN churn c ON c.week = a.week
ORDER BY week_idx
""",
)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the Social-Capital / a16z standard): every
    active (user, week) cell classifies as NEW (first week ever),
    RETAINED (also active the previous week) or RESURRECTED (active
    before, but not last week), and each week also counts CHURNED
    (active last week, silent this week). retention_rate =
    retained / (retained + churned) is the week's survival of last
    week's actives — the curve every growth dashboard tracks; the
    identity actives(w) = new + retained + resurrected makes the
    table self-auditing. Weeks are integer epoch-microsecond
    divisions (calendar-free, so both engines agree exactly).

    Scale: one distinct on (user, week) — the same shuffle
    sessionization pays — then lag/lead windows PER USER (bounded
    state, arbitrarily parallel across users) and a |weeks|-row
    aggregate. No self-joins: churn comes from each row's lead, not
    from joining week w against w+1."""
    from pyspark.sql import Window as _W

    uw = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"unix_micros(cast(ts as timestamp)) div {_WEEK_US}")
            .alias("week"),
        )
        .distinct()
    )
    minmax = uw.agg(
        F.min("week").alias("w0"), F.max("week").alias("mw")
    )
    w = _W.partitionBy("user_id").orderBy("week")
    lagged = uw.select(
        "week",
        F.lag("week").over(w).alias("prev"),
        F.lead("week").over(w).alias("nxt"),
    )
    states = lagged.select(
        "week",
        F.when(F.col("prev").isNull(), "new")
        .when(F.col("week") == F.col("prev") + 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    acts = states.groupBy("week").agg(
        F.sum(F.when(F.col("state") == "new", 1).otherwise(0))
        .cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("state") == "retained", 1).otherwise(0))
        .cast("bigint").alias("n_retained"),
        F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0))
        .cast("bigint").alias("n_resurrected"),
    )
    churn = (
        lagged.crossJoin(minmax.select("mw"))
        .filter(
            (F.col("nxt").isNull() | (F.col("nxt") > F.col("week") + 1))
            & (F.col("week") + 1 <= F.col("mw"))
        )
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    return (
        acts.join(churn, "week", "left")
        .crossJoin(minmax.select("w0"))
        .select(
            (F.col("week") - F.col("w0")).cast("bigint").alias("week_idx"),
            "n_new", "n_retained", "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("bigint")
            .alias("n_churned"),
            F.round(
                F.col("n_retained")
                * 1.0
                / F.expr(
                    "nullif(n_retained + coalesce(n_churned, 0), 0)"
                ),
                6,
            ).alias("retention_rate"),
        )
        .orderBy("week_idx")
    )


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard over the same censored lifetimes as KM.
# --------------------------------------------------------------------------


@workload(
    "survival_nelson_aalen",
    oracle=f"""
WITH span AS (
  SELECT user_id,
         CAST(min(ts) AS DATE) AS first_d,
         CAST(max(ts) AS DATE) AS last_d
  FROM events GROUP BY user_id
),
w AS (SELECT CAST(max(ts) AS DATE) AS wend FROM events),
life AS (
  SELECT user_id,
         CAST(datediff('day', first_d, last_d) AS BIGINT) AS t,
         CASE WHEN datediff('day', last_d, w.wend) < {_KM_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS censored
  FROM span CROSS JOIN w
),
grp AS (
  SELECT t,
         CAST(sum(1 - censored) AS BIGINT) AS d_events,
         CAST(sum(censored) AS BIGINT) AS c_censored
  FROM life GROUP BY t
),
risk AS (
  SELECT t, d_events, c_censored,
         CAST((SELECT count(*) FROM life)
              - coalesce(sum(d_events + c_censored) OVER (
                    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM grp
),
terms AS (
  SELECT t, d_events, c_censored, n_risk,
         CAST(round(d_events * 100000000.0 / n_risk) AS BIGINT) AS h_units,
         CAST(round(d_events * 1000000000000.0 / n_risk / n_risk)
              AS BIGINT) AS v_units
  FROM risk
)
SELECT t AS t_days, n_risk, d_events, c_censored,
       ROUND(sum(h_units) OVER cum / 100000000.0, 6) AS cum_hazard,
       ROUND(exp(-(sum(h_units) OVER cum / 100000000.0)), 6) AS na_survival,
       ROUND(sqrt(sum(v_units) OVER cum / 1000000000000.0), 6) AS hazard_se
FROM terms
WINDOW cum AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
ORDER BY t_days
""",
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the same censored
    user lifetimes as survival_kaplan_meier: H(t) = Σ dᵢ/nᵢ over
    death times ≤ t, with Var[H] = Σ dᵢ/nᵢ² (Aalen 1978) and the
    Fleming-Harrington survival exp(−H) — the additive counterpart of
    KM's product-limit curve, preferred when hazards feed downstream
    regression (Cox residuals, piecewise-exponential fits) because
    sums of per-interval hazards stay additive across cohorts.

    Determinism: per-step hazard terms snap to 1e-8 integer units and
    variance terms to 1e-12 BEFORE the cumulative sums (the KM log
    trick, additively), so both engines accumulate identical BIGINTs;
    exp/sqrt apply to identical doubles.

    Scale: identical to KM — one user groupBy over the corpus, then
    all windows run on the |distinct lifetimes| grid (≤ window
    days)."""
    from pyspark.sql import Window as _W

    cum = _W.orderBy("t").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    risk = _censored_risk_grid(spark, sf_dir)
    terms = risk.withColumn(
        "h_units",
        F.round(
            F.col("d_events") * 100000000.0 / F.col("n_risk")
        ).cast("bigint"),
    ).withColumn(
        "v_units",
        F.round(
            F.col("d_events") * 1000000000000.0
            / F.col("n_risk") / F.col("n_risk")
        ).cast("bigint"),
    )
    return (
        terms.select(
            F.col("t").alias("t_days"),
            "n_risk", "d_events", "c_censored",
            F.round(F.sum("h_units").over(cum) / 100000000.0, 6)
            .alias("cum_hazard"),
            F.round(
                F.exp(-(F.sum("h_units").over(cum) / 100000000.0)), 6
            ).alias("na_survival"),
            F.round(
                F.sqrt(F.sum("v_units").over(cum) / 1000000000000.0), 6
            ).alias("hazard_se"),
        )
        .orderBy("t_days")
    )


# --------------------------------------------------------------------------
# Classic cohort retention triangle: signup week x age week.
# --------------------------------------------------------------------------


@workload(
    "cohort_retention_triangle",
    oracle="""
WITH origin AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events),
firsts AS (
  SELECT user_id,
         CAST(datediff('day', origin.d0, CAST(min(ts) AS DATE)) // 7
              AS BIGINT) AS cohort_week
  FROM events CROSS JOIN origin GROUP BY user_id, origin.d0
),
activity AS (
  SELECT DISTINCT e.user_id,
         CAST(datediff('day', origin.d0, CAST(e.ts AS DATE)) // 7
              AS BIGINT) AS week
  FROM events e CROSS JOIN origin
),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
  FROM firsts GROUP BY cohort_week
),
tri AS (
  SELECT f.cohort_week, a.week - f.cohort_week AS age_week,
         CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
  FROM activity a JOIN firsts f ON f.user_id = a.user_id
  GROUP BY 1, 2
)
SELECT t.cohort_week, t.age_week, s.cohort_users, t.active_users,
       ROUND(t.active_users * 1.0 / s.cohort_users, 4) AS retention
FROM tri t JOIN sizes s ON s.cohort_week = t.cohort_week
ORDER BY t.cohort_week, t.age_week
""",
)
def cohort_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic cohort retention triangle: users grouped by signup
    week (first event, weeks since the window origin), tracked by
    activity at each age-in-weeks — the calendar-cohort view that
    complements survival_kaplan_meier's user-age view (KM handles
    censoring; the triangle shows WHICH cohort changed, the shape
    product analytics reads first). retention = active/cohort_size;
    age 0 is 1.0 by construction (a tested invariant).

    Determinism: pure integer arithmetic (day arithmetic, integer
    division by 7, distinct counts); one 4-dp display ratio.

    Scale: one user groupBy for first-seen (map-side combinable), one
    DISTINCT over (user, week) — both shuffle on user_id, so AQE
    coalesces them into the same exchange; the triangle itself is
    |cohorts| x |ages| rows. The firsts-side of the activity join is
    a user-keyed equi-join that co-partitions with the DISTINCT."""
    ev = t(spark, sf_dir, "events")
    origin = ev.agg(F.min("ts").cast("date").alias("d0"))
    # `div` is true integral division (docs/NEXT.md cast rule: never
    # round-trip a result-path integer through a double)
    dd = (
        ev.crossJoin(origin)
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("d0"))
            .cast("bigint").alias("dd"),
        )
    )
    firsts = (
        dd.groupBy("user_id")
        .agg(F.min("dd").alias("dd0"))
        .select("user_id", F.expr("dd0 div 7").alias("cohort_week"))
    )
    activity = dd.select(
        "user_id", F.expr("dd div 7").alias("week")
    ).distinct()
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    tri = (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("age_week"),
        )
        .agg(F.count_distinct("user_id").cast("bigint")
             .alias("active_users"))
    )
    return (
        tri.join(F.broadcast(sizes), "cohort_week")  # bound: <= |weeks| rows
        .select(
            "cohort_week", "age_week", "cohort_users", "active_users",
            F.round(
                F.col("active_users") * 1.0 / F.col("cohort_users"), 4
            ).alias("retention"),
        )
        .orderBy("cohort_week", "age_week")
    )


# --------------------------------------------------------------------------
# Exact Lorenz curve + Gini over event values (round 9) — the
# row-level inequality readout next to the per-source token-mass
# Gini (corpus_gini_concentration), built on the distributed rank
# primitives.
# --------------------------------------------------------------------------


@workload(
    "events_value_lorenz_gini",
    oracle="""
WITH ev AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
  FROM ev
),
rk AS (
  SELECT c,
         CAST(row_number() OVER w AS BIGINT) AS r,
         CAST(sum(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cs
  FROM ev WINDOW w AS (ORDER BY c, event_id)
),
g AS (
  SELECT (2.0 * CAST(sum(CAST(r AS HUGEINT) * c) AS DOUBLE)
          - (tot.n + 1.0) * tot.s)
         / (CAST(tot.n AS DOUBLE) * tot.s) AS gini
  FROM rk CROSS JOIN tot GROUP BY tot.n, tot.s
),
b AS (
  SELECT q.decile, greatest((tot.n * q.decile) // 10, 1) AS r
  FROM (SELECT unnest(range(1, 11)) AS decile) q CROSS JOIN tot
)
SELECT CAST(b.decile AS BIGINT) AS decile,
       CAST(b.r AS BIGINT) AS boundary_rank,
       ROUND(rk.cs * 1.0 / tot.s, 6) AS cum_share,
       ROUND(g.gini, 6) AS gini
FROM b JOIN rk ON rk.r = b.r CROSS JOIN tot CROSS JOIN g
ORDER BY decile
""",
)
def events_value_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Lorenz curve (cumulative value share at each population
    decile) and Gini coefficient over event values — the row-level
    'how concentrated is the spend' readout (whale detection, budget
    skew) that binned approximations blur exactly where it matters,
    in the top tail. Gini via the rank identity
    G = (2·Σ rᵢxᵢ − (n+1)·Σx) / (n·Σx) on the ascending total order
    (value, event_id).

    Determinism: ranks and cumulative sums are exact BIGINTs from
    operators/ranking (distributed, never a single-partition sort);
    Σ r·x is kept in DECIMAL(38,0)/HUGEINT — it outgrows BIGINT at
    warehouse row counts — and both engines promote to double with
    the identical expression text before the one division.

    Scale: one quantile pass + ONE bucketed pass computing rank and
    running sum together (operators/ranking.global_rank_prefix_sum);
    the decile readout joins 10 broadcast boundary ranks against the
    cumulative frame. Nothing funnels through a single task."""
    from datanika_core_spark.operators.ranking import (
        global_rank_prefix_sum,
    )

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    tot = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    # rank + running sum from ONE bucketed pass (one quantile scan,
    # one shuffle) — two independent ranking pipelines would double
    # the dominant cost
    cum = global_rank_prefix_sum(
        ev, ["c", "event_id"], "c", "r", "cs"
    )
    gini = (
        cum.agg(
            F.sum(F.col("r").cast("decimal(38,0)") * F.col("c"))
            .alias("w")
        )
        .crossJoin(tot)
        .select(
            (
                (
                    F.lit(2.0) * F.col("w").cast("double")
                    - (F.col("n") + F.lit(1.0)) * F.col("s")
                )
                / (F.col("n").cast("double") * F.col("s"))
            ).alias("gini")
        )
    )
    boundaries = (
        spark.range(1, 11)
        .select(F.col("id").cast("bigint").alias("decile"))
        .crossJoin(tot)
        .select(
            "decile",
            F.greatest(
                F.expr("(n * decile) div 10"), F.lit(1).cast("bigint")
            ).alias("boundary_rank"),
            "s",
        )
    )
    return (
        cum.join(
            boundaries,
            cum["r"] == boundaries["boundary_rank"],
        )
        .crossJoin(gini)
        .select(
            "decile",
            "boundary_rank",
            F.round(F.col("cs") * 1.0 / F.col("s"), 6).alias("cum_share"),
            F.round("gini", 6).alias("gini"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# Two-sample log-rank test (Mantel-Cox) — the significance test on
# top of the KM/Nelson-Aalen curves.
# --------------------------------------------------------------------------


@workload(
    "survival_logrank_ab",
    oracle=f"""
WITH span AS (
  SELECT user_id,
         CAST(min(ts) AS DATE) AS first_d,
         CAST(max(ts) AS DATE) AS last_d
  FROM events GROUP BY user_id
),
w AS (SELECT CAST(max(ts) AS DATE) AS wend FROM events),
life AS (
  SELECT user_id,
         ('0x'||substring(md5('lr-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS grp,
         CAST(datediff('day', first_d, last_d) AS BIGINT) AS t,
         CASE WHEN datediff('day', last_d, w.wend) < {_KM_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS censored
  FROM span CROSS JOIN w
),
grid AS (SELECT DISTINCT t FROM life),
cnt AS (
  SELECT g.t, s.grp,
         CAST(coalesce(sum(1 - l.censored), 0) AS BIGINT) AS d,
         CAST(coalesce(sum(l.censored), 0) AS BIGINT) AS c
  FROM grid g
  CROSS JOIN (SELECT 0 AS grp UNION ALL SELECT 1) s
  LEFT JOIN life l ON l.t = g.t AND l.grp = s.grp
  GROUP BY g.t, s.grp
),
risk AS (
  SELECT t, grp, d, c,
         (SELECT count(*) FROM life l WHERE l.grp = cnt.grp)
           - coalesce(sum(d + c) OVER (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM cnt
),
wide AS (
  SELECT t,
         max(CASE WHEN grp = 0 THEN d END) AS d0,
         max(CASE WHEN grp = 1 THEN d END) AS d1,
         max(CASE WHEN grp = 0 THEN n_risk END) AS n0,
         max(CASE WHEN grp = 1 THEN n_risk END) AS n1
  FROM risk GROUP BY t
),
terms AS (
  SELECT t, d0, d1, n0, n1, d0 + d1 AS d, n0 + n1 AS n,
         (d0 + d1) * n0 * CAST(1.0 AS DOUBLE) / (n0 + n1) AS e0,
         CASE WHEN n0 + n1 > 1 THEN
           (d0 + d1) * n0 * CAST(1.0 AS DOUBLE) * n1
             * (n0 + n1 - d0 - d1)
             / ((n0 + n1) * CAST(1.0 AS DOUBLE) * (n0 + n1)
                * (n0 + n1 - 1))
         ELSE CAST(0.0 AS DOUBLE) END AS v
  FROM wide WHERE d0 + d1 > 0 AND n0 + n1 > 0
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM life WHERE grp = 0) AS n_users_0,
  (SELECT CAST(count(*) AS BIGINT) FROM life WHERE grp = 1) AS n_users_1,
  CAST(sum(d0) AS BIGINT) AS o0,
  ROUND(sum(e0), 6) AS e0,
  ROUND((sum(d0) - sum(e0)) / sqrt(sum(v)), 6) AS z,
  ROUND((sum(d0) - sum(e0)) * (sum(d0) - sum(e0)) / sum(v), 6)
    AS chi2,
  CASE WHEN (sum(d0) - sum(e0)) * (sum(d0) - sum(e0)) / sum(v)
            > 3.841459 THEN 1 ELSE 0 END AS reject_05
FROM terms
""",
)
def survival_logrank_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank (Mantel-Cox) test over the same censored
    user lifetimes as survival_kaplan_meier, split into two arms by
    the portable md5 bucket (the abtest assignment convention): at
    every distinct lifetime with at least one event, arm 0's observed
    events compare against the hypergeometric expectation
    d·n0/(n0+n1) given the pooled risk sets; Z = (O−E)/√ΣV and
    χ² = Z² with the α=0.05 verdict — the significance test the KM
    curves themselves don't provide (a md5 split should NOT reject;
    a planted-shift test pins that a real difference does).

    Determinism: risk sets, event counts and the χ² numerator's
    inputs are exact BIGINTs; per-time E and V terms are the same
    fixed-order double expression on both engines, summed over the
    bounded lifetime grid (order drift ~1e-15, absorbed at 6 dp).

    Scale: one user-keyed groupBy collapses the stream to lifetimes,
    a second collapses lifetimes to the (grp × distinct-t) grid; the
    prefix-sum windows run ON that aggregated grid (the KM
    convention), so nothing after the second shuffle scales with
    event volume."""
    from pyspark.sql import Window

    from datanika_core_spark.operators.minhash import spark_hash_expr

    ev = t(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_d"),
        F.max("ts").cast("date").alias("last_d"),
    )
    wend = ev.agg(F.max("ts").cast("date").alias("wend"))
    life = span.crossJoin(wend).select(
        F.expr(
            "pmod("
            + spark_hash_expr("concat('lr-', cast(user_id as string))")
            + ", 2)"
        ).alias("grp"),
        F.datediff("last_d", "first_d").cast("bigint").alias("t"),
        F.when(
            F.datediff("wend", "last_d") < _KM_CENSOR_DAYS, 1
        ).otherwise(0).alias("censored"),
    )
    life = life.cache()
    grid = life.select("t").distinct()
    sides = spark.range(2).select(F.col("id").cast("bigint").alias("grp"))
    cnt = (
        grid.crossJoin(sides)
        .join(life, ["t", "grp"], "left")
        .groupBy("t", "grp")
        .agg(
            F.coalesce(F.sum(1 - F.col("censored")), F.lit(0))
            .cast("bigint").alias("d"),
            F.coalesce(F.sum("censored"), F.lit(0))
            .cast("bigint").alias("c"),
        )
    )
    totals = life.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    wprev = (
        Window.partitionBy("grp").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # bound: 2 rows (pmod 2 groups)
    risk = cnt.join(F.broadcast(totals), "grp").select(
        "t", "grp", "d", "c",
        (
            F.col("n_users")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev),
                         F.lit(0))
        ).alias("n_risk"),
    )
    wide = risk.groupBy("t").agg(
        F.max(F.when(F.col("grp") == 0, F.col("d"))).alias("d0"),
        F.max(F.when(F.col("grp") == 1, F.col("d"))).alias("d1"),
        F.max(F.when(F.col("grp") == 0, F.col("n_risk"))).alias("n0"),
        F.max(F.when(F.col("grp") == 1, F.col("n_risk"))).alias("n1"),
    )
    terms = wide.filter(
        (F.col("d0") + F.col("d1") > 0) & (F.col("n0") + F.col("n1") > 0)
    ).selectExpr(
        "d0",
        "(d0 + d1) * n0 * CAST(1.0 AS DOUBLE) / (n0 + n1) AS e0",
        "CASE WHEN n0 + n1 > 1 THEN"
        " (d0 + d1) * n0 * CAST(1.0 AS DOUBLE) * n1"
        " * (n0 + n1 - d0 - d1)"
        " / ((n0 + n1) * CAST(1.0 AS DOUBLE) * (n0 + n1)"
        " * (n0 + n1 - 1))"
        " ELSE CAST(0.0 AS DOUBLE) END AS v",
    )
    nu = {
        # bound: 2 rows (pmod 2 groups)
        int(r["grp"]): int(r["n_users"]) for r in totals.collect()
    }
    agg = terms.agg(
        F.sum("d0").cast("bigint").alias("o0"),
        F.sum("e0").alias("se0"),
        F.sum("v").alias("sv"),
    )
    return agg.select(
        F.lit(nu.get(0, 0)).cast("bigint").alias("n_users_0"),
        F.lit(nu.get(1, 0)).cast("bigint").alias("n_users_1"),
        F.col("o0").alias("o0"),
        F.round("se0", 6).alias("e0"),
        F.round(
            (F.col("o0") - F.col("se0")) / F.sqrt("sv"), 6
        ).alias("z"),
        F.round(
            (F.col("o0") - F.col("se0")) * (F.col("o0") - F.col("se0"))
            / F.col("sv"),
            6,
        ).alias("chi2"),
        F.when(
            (F.col("o0") - F.col("se0")) * (F.col("o0") - F.col("se0"))
            / F.col("sv")
            > 3.841459,
            1,
        ).otherwise(0).alias("reject_05"),
    )
