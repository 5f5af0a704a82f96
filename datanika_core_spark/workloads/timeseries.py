"""Time-series monitoring over the event stream: EWMA smoothing,
seasonal-naive forecast backtesting, and CUSUM changepoint detection
(beyond-reference, SURVEY.md §7 Phase 4) — the daily-metric watchdog
layer downstream of the ELT rollups, complementing the point-anomaly
workloads (z-score / MAD) with trend, seasonality and level-shift
views.

All three run on the DAILY pre-aggregate (|types| × |days| rows —
tiny regardless of corpus size), so the only event-scale work is one
combiner groupBy; that is the scale story and it never changes.

Determinism:
- daily values aggregate in integer cents;
- EWMA uses α = 1/2 and runs as the literal recurrence
  s = (x + s)/2 through one shared recursive-CTE fragment, so both
  engines (and the streaming ValueState twin) execute an identical
  IEEE op sequence — bit-exact, no snapping;
- CUSUM is computed in cent·n units (n·x_j − Σx), which keeps the
  entire statistic in BIGINT arithmetic until the final display
  division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload

# shared daily pre-aggregate: value cents per (event_type, day)
_O_DAILY = """
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events
  GROUP BY event_type, day
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )


# --------------------------------------------------------------------------
# EWMA (α = 1/2) over the daily series.
# --------------------------------------------------------------------------


# The recurrence body is ONE shared SQL fragment: both engines (Spark
# runs it via WITH RECURSIVE too — Spark 4 supports recursive CTEs)
# walk the IDENTICAL IEEE op sequence seed s=x, step s=(x+s)/2, so
# batch, oracle, AND the ValueState streaming twin agree bit-for-bit
# before display rounding — the same convention events_holt_linear
# established (a prior closed-form Σ0.5^k·x_j formulation needed
# per-term 1e-4 snapping for cross-engine order-independence, which
# put the stream 1e-3 away from the batch; the recurrence form needs
# no snapping at all).
_EWMA_RECURRENCE = """
idx AS (
  SELECT event_type, day, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
r AS (
  SELECT event_type, day, i, cents, CAST(cents AS DOUBLE) AS s
  FROM idx WHERE i = 1
  UNION ALL
  SELECT n.event_type, n.day, n.i, n.cents, (n.cents + h.s) / 2
  FROM idx n JOIN r h
    ON n.event_type = h.event_type AND n.i = h.i + 1
)
SELECT event_type, day,
       ROUND(CAST(cents AS DOUBLE) / 100, 2) AS value,
       ROUND(s / 100, 4) AS ewma
FROM r
ORDER BY event_type, day
"""
# NB: no bare `x / 100.0` in the shared fragment — Spark SQL parses
# the literal 100.0 as DECIMAL(4,1) (the DataFrame API's Python float
# is a double), which would emit a DECIMAL column and break both the
# schema parity and the IEEE-identity argument.


@workload(
    "events_ewma_daily",
    oracle=f"""
WITH RECURSIVE daily AS ({_O_DAILY}),
{_EWMA_RECURRENCE}
""",
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = ½) of daily value
    per event type — the smoothing baseline dashboards draw and
    alert thresholds reference. Computed as the literal recurrence
    s_t = (x_t + s_{{t-1}})/2 via a recursive CTE — the SAME SQL
    fragment the DuckDB oracle runs — so both engines and the
    ValueState streaming twin (streaming_ewma) execute an identical
    IEEE operation sequence: parity is exact equality after display
    rounding, no tolerance (tests/test_stream_ewma.py).

    Scale: the event-scale work is ONE combiner groupBy to the
    daily grid; the recursion iterates |days| steps over the tiny
    |types|×|days| frame — thousands of rows at any corpus size
    (same cost model as events_holt_linear's per-key fold)."""
    daily = _daily(spark, sf_dir)
    daily.createOrReplaceTempView("__ewma_daily_v")
    return spark.sql(
        "WITH RECURSIVE daily AS"
        " (SELECT * FROM __ewma_daily_v),\n" + _EWMA_RECURRENCE
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest (weekly seasonality).
# --------------------------------------------------------------------------

_SN_LAG = 7  # weekly seasonal period, days


@workload(
    "events_seasonal_naive_backtest",
    oracle=f"""
WITH daily AS ({_O_DAILY}),
with_forecast AS (
  SELECT event_type, day, cents,
         lag(cents, {_SN_LAG}) OVER (PARTITION BY event_type
                                     ORDER BY day) AS forecast
  FROM daily
)
SELECT event_type,
       CAST(count(forecast) AS BIGINT) AS n_scored,
       ROUND(sum(abs(cents - forecast)) / count(forecast) / 100.0, 4)
         AS mae,
       ROUND(sum(CAST(round(abs(cents - forecast) * 1.0 / cents
                            * 1000000) AS BIGINT))
             / count(forecast) / 1000000.0, 6) AS mape,
       ROUND(sum(cents - forecast) / count(forecast) / 100.0, 4) AS bias
FROM with_forecast
WHERE forecast IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
)
def events_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backtest of the seasonal-naive forecast (ŷ_t = y_{t−7}) per
    event type: MAE, MAPE and signed bias over every scorable day —
    the baseline any real forecasting model must beat, and the
    standing data-quality alarm ('today looks nothing like last
    Tuesday'). Errors stay in integer cents; the MAPE ratio per day
    is snapped to 1e-6 units before summing.

    Scale: one combiner groupBy to the daily grid + a lag window
    over |types|×|days| rows."""
    daily = _daily(spark, sf_dir)
    forecast = F.lag("cents", _SN_LAG).over(
        Window.partitionBy("event_type").orderBy("day")
    )
    wf = daily.withColumn("forecast", forecast).filter(
        F.col("forecast").isNotNull()
    )
    n = F.count("forecast")
    return (
        wf.groupBy("event_type")
        .agg(
            n.cast("bigint").alias("n_scored"),
            F.round(
                F.sum(F.abs(F.col("cents") - F.col("forecast"))) / n
                / 100.0,
                4,
            ).alias("mae"),
            F.round(
                F.sum(
                    F.round(
                        F.abs(F.col("cents") - F.col("forecast"))
                        * F.lit(1.0)
                        / F.col("cents")
                        * 1000000
                    ).cast("bigint")
                )
                / n
                / 1000000.0,
                6,
            ).alias("mape"),
            F.round(
                F.sum(F.col("cents") - F.col("forecast")) / n / 100.0, 4
            ).alias("bias"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# CUSUM changepoint detection (level shift) per event type.
# --------------------------------------------------------------------------


@workload(
    "events_cusum_changepoint",
    oracle=f"""
WITH daily AS ({_O_DAILY}),
tot AS (
  SELECT event_type, sum(cents) AS total, count(*) AS n
  FROM daily GROUP BY event_type
),
cusum AS (
  SELECT d.event_type, d.day,
         sum(t.n * d.cents - t.total)
           OVER (PARTITION BY d.event_type ORDER BY d.day
                 ROWS UNBOUNDED PRECEDING) AS c,
         t.n, t.total
  FROM daily d JOIN tot t ON t.event_type = d.event_type
),
peaks AS (
  SELECT event_type, day, c, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(c) DESC, day) AS rn
  FROM cusum
)
SELECT event_type,
       day AS changepoint_day,
       ROUND(abs(c) * 1.0 / n / 100.0, 2) AS max_cusum_dev,
       CAST(CASE WHEN c > 0 THEN 1 WHEN c < 0 THEN -1 ELSE 0 END
         AS BIGINT) AS shift_sign
FROM peaks WHERE rn = 1
ORDER BY event_type
""",
)
def events_cusum_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSUM level-shift detection: per event type, the cumulative
    sum of deviations from the series mean peaks at the most likely
    changepoint (the day the level shifted), with the deviation
    magnitude and direction. Computed in cent·n integer units
    (n·x_t − Σx per day, prefix-summed) so the whole statistic is
    exact BIGINT arithmetic until the display division — zero float
    drift to argmax over.

    Scale: one combiner groupBy to the daily grid; the prefix sum
    and argmax run on |types|×|days| rows."""
    daily = _daily(spark, sf_dir)
    tot = daily.groupBy(F.col("event_type").alias("t_type")).agg(
        F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(
            # bound: <= |event_type| rows
            F.broadcast(tot), F.col("event_type") == F.col("t_type")
        )
        .withColumn(
            "c",
            F.sum(
                F.col("n") * F.col("cents") - F.col("total")
            ).over(wcum),
        )
    )
    peaks = cusum.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("c")).desc(), F.col("day")
            )
        ),
    ).filter(F.col("rn") == 1)
    return peaks.select(
        "event_type",
        F.col("day").alias("changepoint_day"),
        F.round(F.abs(F.col("c")) * F.lit(1.0) / F.col("n") / 100.0, 2)
        .alias("max_cusum_dev"),
        F.when(F.col("c") > 0, 1)
        .when(F.col("c") < 0, -1)
        .otherwise(0)
        .cast("bigint")
        .alias("shift_sign"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Weekday seasonality strength (variance decomposition).
# --------------------------------------------------------------------------


@workload(
    "events_seasonality_strength",
    oracle=f"""
WITH daily AS ({_O_DAILY}),
keyed AS (
  SELECT event_type, cents, dayofweek(day) AS wd FROM daily
),
wk AS (
  SELECT event_type, wd,
         sum(cents) AS s_w, count(*) AS n_w
  FROM keyed GROUP BY event_type, wd
),
tot AS (
  SELECT event_type, sum(s_w) AS s, sum(n_w) AS n,
         CAST(count(*) AS BIGINT) AS n_weekdays
  FROM wk GROUP BY event_type
),
parts AS (
  SELECT w.event_type, t.n, t.n_weekdays,
         -- SS_between in exact integer units: n * n_w * (mean_w - mean)^2
         -- = (n * s_w - n_w * s)^2 / (n * n_w)  — snapped at 1e-4
         CAST(round(
           (t.n * w.s_w - w.n_w * t.s) * 1.0 * (t.n * w.s_w - w.n_w * t.s)
           / (t.n * w.n_w) * 0.0001) AS BIGINT) AS ssb_u
  FROM wk w JOIN tot t ON t.event_type = w.event_type
),
sst AS (
  SELECT k.event_type,
         CAST(round(
           (t.n * k.cents - t.s) * 1.0 * (t.n * k.cents - t.s) / t.n
           * 0.0001) AS BIGINT) AS sst_u
  FROM keyed k JOIN tot t ON t.event_type = k.event_type
)
SELECT b.event_type,
       b.n_weekdays,
       ROUND(b.ssb * 1.0 / st.sst, 6) AS seasonal_strength
FROM (SELECT event_type, max(n_weekdays) AS n_weekdays,
             sum(ssb_u) AS ssb
      FROM parts GROUP BY event_type) b
JOIN (SELECT event_type, sum(sst_u) AS sst
      FROM sst GROUP BY event_type) st
  ON st.event_type = b.event_type
ORDER BY b.event_type
""",
)
def events_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekday seasonality strength per event type: the fraction of
    daily-value variance explained by weekday membership (one-way
    variance decomposition SS_between/SS_total over weekday groups)
    — ~0 means no weekly pattern, near 1 means the weekday alone
    predicts the day's volume; the knob that decides whether the
    seasonal-naive backtest above is even the right baseline.

    Exactness: both sums of squares are computed from integer cent
    aggregates in n-scaled form ((n·s_w − n_w·s)²/(n·n_w) and
    (n·x − s)²/n), snapped at 1e-4 units before summation — identical
    on both engines to the last bit.

    Scale: one combiner groupBy to the daily grid; everything after
    runs on |types|×7 and |types|×|days| rows."""
    daily = _daily(spark, sf_dir)
    keyed = daily.select(
        "event_type", "cents", F.dayofweek("day").alias("wd")
    )
    wk = keyed.groupBy("event_type", "wd").agg(
        F.sum("cents").alias("s_w"), F.count(F.lit(1)).alias("n_w")
    )
    tot = wk.groupBy(F.col("event_type").alias("t_type")).agg(
        F.sum("s_w").alias("s"),
        F.sum("n_w").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_weekdays"),
    )
    dev_b = F.col("n") * F.col("s_w") - F.col("n_w") * F.col("s")
    ssb = (
        # bound: <= |event_type| rows
        wk.join(F.broadcast(tot), F.col("event_type") == F.col("t_type"))
        .select(
            "event_type", "n_weekdays",
            F.round(
                dev_b * F.lit(1.0) * dev_b
                / (F.col("n") * F.col("n_w"))
                * 0.0001
            )
            .cast("bigint")
            .alias("ssb_u"),
        )
        .groupBy("event_type")
        .agg(
            F.max("n_weekdays").alias("n_weekdays"),
            F.sum("ssb_u").alias("ssb"),
        )
    )
    dev_t = F.col("n") * F.col("cents") - F.col("s")
    sst = (
        # bound: <= |event_type| rows
        keyed.join(F.broadcast(tot), F.col("event_type") == F.col("t_type"))
        .select(
            "event_type",
            F.round(dev_t * F.lit(1.0) * dev_t / F.col("n") * 0.0001)
            .cast("bigint")
            .alias("sst_u"),
        )
        .groupBy(F.col("event_type").alias("s_type"))
        .agg(F.sum("sst_u").alias("sst"))
    )
    return (
        ssb.join(sst, F.col("event_type") == F.col("s_type"))
        .select(
            "event_type",
            "n_weekdays",
            F.round(
                F.col("ssb") * F.lit(1.0) / F.col("sst"), 6
            ).alias("seasonal_strength"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Holt linear-trend smoothing (two-state recurrence).
# --------------------------------------------------------------------------


@workload(
    "events_holt_linear",
    oracle=f"""
WITH RECURSIVE daily AS ({_O_DAILY}),
idx AS (
  SELECT event_type, day, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
holt AS (
  SELECT event_type, day, i, cents,
         CAST(cents AS DOUBLE) AS l,
         CAST(0 AS DOUBLE) AS b
  FROM idx WHERE i = 1
  UNION ALL
  SELECT n.event_type, n.day, n.i, n.cents,
         0.5 * n.cents + 0.5 * (h.l + h.b),
         0.5 * ((0.5 * n.cents + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
  FROM idx n JOIN holt h
    ON n.event_type = h.event_type AND n.i = h.i + 1
)
SELECT event_type, day,
       ROUND(cents / 100.0, 2) AS value,
       ROUND(l / 100.0, 4) AS level,
       ROUND(b / 100.0, 4) AS trend,
       ROUND((l + b) / 100.0, 4) AS forecast_next
FROM holt
ORDER BY event_type, day
""",
)
def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing (α = β = ½) of the daily series:
    level l_t = ½x_t + ½(l+b), trend b_t = ½(l_t−l) + ½b, one-step
    forecast l_t + b_t — EWMA's big sibling that follows drifting
    levels instead of lagging them. TWO coupled state scalars make
    the recurrence genuinely sequential (no closed-form single
    window), so this is the applyInPandas per-key-state shape with a
    recursive-CTE oracle replaying the IDENTICAL operation order —
    both engines walk the same IEEE sequence, so outputs agree
    bit-for-bit before rounding.

    Scale: corpus work is the one daily groupBy; each type's fold is
    |days| sequential steps, types fold independently across
    executors. Streaming form: the same two scalars in ValueState
    (exactly like streaming_ewma)."""
    import pandas as pd

    daily = _daily(spark, sf_dir)

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        out_day, out_val, out_l, out_b, out_f = [], [], [], [], []
        l = b = None
        for _, r in pdf.iterrows():
            x = float(r["cents"])
            if l is None:
                l, b = x, 0.0
            else:
                l_new = 0.5 * x + 0.5 * (l + b)
                b = 0.5 * (l_new - l) + 0.5 * b
                l = l_new
            out_day.append(r["day"])
            # NO rounding here: Python round() is half-even, SQL ROUND
            # is half-away — emit raw doubles, round in Spark below
            out_val.append(x)
            out_l.append(l)
            out_b.append(b)
            out_f.append(l + b)
        return pd.DataFrame({
            "event_type": pdf["event_type"].iloc[0],
            "day": out_day,
            "value": out_val,
            "level": out_l,
            "trend": out_b,
            "forecast_next": out_f,
        })

    raw = daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, day date, value double, level double,"
        " trend double, forecast_next double",
    )
    return raw.select(
        "event_type", "day",
        F.round(F.col("value") / 100.0, 2).alias("value"),
        F.round(F.col("level") / 100.0, 4).alias("level"),
        F.round(F.col("trend") / 100.0, 4).alias("trend"),
        F.round(F.col("forecast_next") / 100.0, 4).alias("forecast_next"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# Holt-Winters additive weekly smoothing (three-state recurrence).
# --------------------------------------------------------------------------


@workload(
    "events_holt_winters_weekly",
    oracle=f"""
WITH RECURSIVE daily AS ({_O_DAILY}),
idx AS (
  SELECT event_type, day, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
init AS (
  SELECT event_type,
         sum(cents) / 7.0 AS l0,
         list(CAST(cents AS DOUBLE) ORDER BY day) AS w1
  FROM idx WHERE i <= 7 GROUP BY event_type
),
hw AS (
  SELECT event_type, 7 AS i, CAST(NULL AS DATE) AS day,
         CAST(NULL AS BIGINT) AS cents, l0 AS l, CAST(0 AS DOUBLE) AS b,
         list_transform(w1, x -> x - l0) AS s
  FROM init
  UNION ALL
  SELECT n.event_type, n.i, n.day, n.cents,
         0.5 * (n.cents - h.s[1]) + 0.5 * (h.l + h.b),
         0.5 * ((0.5 * (n.cents - h.s[1]) + 0.5 * (h.l + h.b)) - h.l)
           + 0.5 * h.b,
         list_append(h.s[2:7],
           0.5 * (n.cents
                  - (0.5 * (n.cents - h.s[1]) + 0.5 * (h.l + h.b)))
             + 0.5 * h.s[1])
  FROM idx n JOIN hw h
    ON n.event_type = h.event_type AND n.i = h.i + 1
)
SELECT event_type, day,
       ROUND(cents / 100.0, 2) AS value,
       ROUND(l / 100.0, 4) AS level,
       ROUND(b / 100.0, 4) AS trend,
       ROUND(s[7] / 100.0, 4) AS seasonal,
       ROUND((l + b + s[1]) / 100.0, 4) AS forecast_next
FROM hw WHERE i > 7
ORDER BY event_type, day
""",
)
def events_holt_winters_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters additive smoothing with weekly seasonality
    (α = β = γ = ½, m = 7) of the daily series — the third state on
    top of Holt's level+trend: l_t = ½(x_t − s_{t−7}) + ½(l+b),
    b_t = ½(l_t − l) + ½b, s_t = ½(x_t − l_t) + ½s_{t−7}, one-step
    forecast l_t + b_t + s_{t−6}. Initialization is the classical
    simple scheme: l₇ = mean(week 1), b₇ = 0, s_i = x_i − l₇ for the
    first seven days; output starts at day 8 (the burn-in week only
    seeds state). The seasonal register is a 7-slot ring, which the
    oracle replays as a LIST carried through a recursive CTE
    (slice + append per step) — both engines walk the identical IEEE
    operation sequence, so values agree bit-for-bit before rounding.

    Scale: identical to events_holt_linear — one combiner groupBy to
    the |types|×|days| grid, then an applyInPandas fold per type;
    types fold independently across executors, and the per-key state
    is three scalars + seven floats (a streaming ValueState fits it
    the same way)."""
    import pandas as pd

    daily = _daily(spark, sf_dir)

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        if len(pdf) < 8:
            return pd.DataFrame({
                "event_type": pd.Series([], dtype=str),
                "day": pd.Series([], dtype="datetime64[ns]"),
                "value": pd.Series([], dtype=float),
                "level": pd.Series([], dtype=float),
                "trend": pd.Series([], dtype=float),
                "seasonal": pd.Series([], dtype=float),
                "forecast_next": pd.Series([], dtype=float),
            })
        xs = [float(v) for v in pdf["cents"]]
        l = sum(pdf["cents"].iloc[:7].tolist()) / 7.0
        b = 0.0
        s = [x - l for x in xs[:7]]  # ring: s[0] is the t-7 slot
        rows = []
        for k in range(7, len(xs)):
            x = xs[k]
            l_new = 0.5 * (x - s[0]) + 0.5 * (l + b)
            b = 0.5 * (l_new - l) + 0.5 * b
            l = l_new
            s_new = 0.5 * (x - l_new) + 0.5 * s[0]
            s = s[1:] + [s_new]
            # NO rounding here (half-even vs half-away); Spark rounds
            rows.append((
                pdf["day"].iloc[k], x, l, b, s_new, l + b + s[0],
            ))
        return pd.DataFrame({
            "event_type": pdf["event_type"].iloc[0],
            "day": [r[0] for r in rows],
            "value": [r[1] for r in rows],
            "level": [r[2] for r in rows],
            "trend": [r[3] for r in rows],
            "seasonal": [r[4] for r in rows],
            "forecast_next": [r[5] for r in rows],
        })

    raw = daily.groupBy("event_type").applyInPandas(
        hw,
        "event_type string, day date, value double, level double,"
        " trend double, seasonal double, forecast_next double",
    )
    return raw.select(
        "event_type", "day",
        F.round(F.col("value") / 100.0, 2).alias("value"),
        F.round(F.col("level") / 100.0, 4).alias("level"),
        F.round(F.col("trend") / 100.0, 4).alias("trend"),
        F.round(F.col("seasonal") / 100.0, 4).alias("seasonal"),
        F.round(F.col("forecast_next") / 100.0, 4).alias("forecast_next"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# Binary-segmentation changepoint: best single split of the daily grid.
# --------------------------------------------------------------------------


@workload(
    "events_binseg_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         count(*) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
         count(*) OVER (PARTITION BY event_type) AS g,
         sum(y) OVER (PARTITION BY event_type ORDER BY day) AS cs,
         sum(y) OVER (PARTITION BY event_type) AS st
  FROM daily
),
cand AS (
  SELECT event_type, day, i, g, st,
         cs AS sl, i AS nl,
         st - cs AS sr, g - i AS nr,
         (cs * 1.0 * cs / i
          + (st - cs) * 1.0 * (st - cs) / (g - i)
          - st * 1.0 * st / g) AS gain
  FROM idx WHERE i < g
),
best AS (
  SELECT event_type, day, g, sl, nl, sr, nr, gain,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY gain DESC, day) AS rk
  FROM cand
)
SELECT event_type,
       day AS split_day,
       CAST(g AS BIGINT) AS n_days,
       ROUND(gain, 4) AS gain,
       ROUND(sl * 1.0 / nl, 4) AS mean_before,
       ROUND(sr * 1.0 / nr, 4) AS mean_after,
       ROUND((sr * 1.0 / nr - sl * 1.0 / nl)
             / (sl * 1.0 / nl) * 100.0, 4) AS pct_change
FROM best WHERE rk = 1
ORDER BY event_type
""",
)
def events_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint detection (Scott & Knott
    1974; the first split of PELT-style segmenters): per event type,
    the candidate split of the daily-volume series that maximizes
    the SSE reduction gain(i) = S_L²/n_L + S_R²/n_R − S_T²/n_T —
    the level-shift locator that complements events_cusum_changepoint
    (CUSUM finds drifts against a known mean; binseg finds the best
    retrospective partition with no reference level). Emits the
    split day, the gain, and the before/after daily means.

    Determinism: segment sums are BIGINT prefix sums on the daily
    grid; every gain is the same 3-term fixed-order float expression
    of those integers in both engines, so the argmax (gain desc, day
    tiebreak) selects identically.

    Scale: the corpus collapses to |types|×|days| daily rows in one
    combiner groupBy; candidates are window functions on that grid —
    zero joins, one shuffle. Recursing binseg to k changepoints
    re-runs the same window pass on segment slices: O(k) grid
    passes, never a row-level pass."""
    from pyspark.sql import Window as _W

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    wp = _W.partitionBy("event_type")
    wo = wp.orderBy("day")
    idx = daily.select(
        "event_type", "day", "y",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(wp).alias("g"),
        F.sum("y").over(wo).alias("cs"),
        F.sum("y").over(wp).alias("st"),
    )
    cand = idx.filter(F.col("i") < F.col("g")).select(
        "event_type", "day", "g",
        F.col("cs").alias("sl"), F.col("i").alias("nl"),
        (F.col("st") - F.col("cs")).alias("sr"),
        (F.col("g") - F.col("i")).alias("nr"),
        (
            F.col("cs") * 1.0 * F.col("cs") / F.col("i")
            + (F.col("st") - F.col("cs")) * 1.0
            * (F.col("st") - F.col("cs")) / (F.col("g") - F.col("i"))
            - F.col("st") * 1.0 * F.col("st") / F.col("g")
        ).alias("gain"),
    )
    best = cand.select(
        "*",
        F.row_number()
        .over(wp.orderBy(F.col("gain").desc(), F.col("day")))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    ml = F.col("sl") * 1.0 / F.col("nl")
    mr = F.col("sr") * 1.0 / F.col("nr")
    return best.select(
        "event_type",
        F.col("day").alias("split_day"),
        F.col("g").cast("bigint").alias("n_days"),
        F.round("gain", 4).alias("gain"),
        F.round(ml, 4).alias("mean_before"),
        F.round(mr, 4).alias("mean_after"),
        F.round((mr - ml) / ml * 100.0, 4).alias("pct_change"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Pinball (quantile) loss evaluation of empirical quantile forecasts.
# --------------------------------------------------------------------------

_PB_SPLIT = "2024-01-16 00:00:00"  # train < split <= test


@workload(
    "forecast_pinball_eval",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         CAST(ts AS DATE) AS day,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS wd,
         count(*) AS y,
         (ts < TIMESTAMP '{_PB_SPLIT}') AS is_train
  FROM events GROUP BY 1, 2, 3, 5
),
tr AS (
  SELECT event_type, wd, y,
         row_number() OVER (PARTITION BY event_type, wd
                            ORDER BY y, day) AS rn,
         count(*) OVER (PARTITION BY event_type, wd) AS n
  FROM daily WHERE is_train
),
fc AS (
  SELECT event_type, wd,
         max(CASE WHEN rn = (n + 9) // 10 THEN y END) AS f10,
         max(CASE WHEN rn = (n + 1) // 2 THEN y END) AS f50,
         max(CASE WHEN rn = (9 * n + 9) // 10 THEN y END) AS f90
  FROM tr GROUP BY 1, 2
),
ev AS (
  SELECT d.event_type AS event_type, d.y AS y,
         fc.f10 AS f10, fc.f50 AS f50, fc.f90 AS f90
  FROM daily d JOIN fc ON fc.event_type = d.event_type
                      AND fc.wd = d.wd
  WHERE NOT d.is_train
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_test_days,
       ROUND(sum(CASE WHEN y >= f10 THEN 1 * (y - f10)
                      ELSE 9 * (f10 - y) END) / 10.0 / count(*), 4)
         AS pinball_q10,
       ROUND(sum(CASE WHEN y >= f50 THEN 5 * (y - f50)
                      ELSE 5 * (f50 - y) END) / 10.0 / count(*), 4)
         AS pinball_q50,
       ROUND(sum(CASE WHEN y >= f90 THEN 9 * (y - f90)
                      ELSE 1 * (f90 - y) END) / 10.0 / count(*), 4)
         AS pinball_q90,
       ROUND(sum(CASE WHEN y <= f90 THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS cover_q90
FROM ev
GROUP BY event_type
ORDER BY event_type
""",
)
def forecast_pinball_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball-loss evaluation of per-(type, weekday) empirical
    quantile forecasts: train-period daily volumes give exact q10/
    q50/q90 order statistics per weekday slot (the seasonal-quantile
    baseline any probabilistic forecaster must beat), the test
    period scores them with the quantile loss
    L_q(y,f) = max(q(y−f), (q−1)(y−f)), and cover_q90 reports the
    realized exceedance coverage (a calibrated q90 covers ~90% of
    days). Completes the forecasting battery: Holt/Holt-Winters and
    the seasonal-naive backtest score POINT forecasts; this scores
    the INTERVAL forecast a capacity planner actually consumes.

    Determinism: weekday is epoch-day mod 7 (no engine calendar
    conventions); forecasts are pure order-statistic selections
    (k = ceil(q·n) via integer arithmetic with a day tiebreak);
    losses are exact integers in 1/10 units until the final display
    division.

    Scale: one combiner groupBy to the |types|×|days| grid, one
    window pass for the order statistics, and a broadcast of the
    |types|×7 forecast grid onto the test rows — the evaluation
    costs one shuffle regardless of event volume, and adding
    quantile levels adds conditional aggregates, not passes."""
    from pyspark.sql import Window as _W

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7
        ).alias("wd"),
        (F.col("ts") < F.lit(_PB_SPLIT).cast("timestamp"))
        .alias("is_train"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    wp = _W.partitionBy("event_type", "wd")
    tr = daily.filter(F.col("is_train")).select(
        "event_type", "wd", "y",
        F.row_number().over(wp.orderBy("y", "day")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    # integer ceil selections k = ceil(q·n) via exact floor-div forms
    fc = tr.groupBy("event_type", "wd").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 9) div 10"), F.col("y"))
        ).alias("f10"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("y"))
        ).alias("f50"),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"),
                   F.col("y"))
        ).alias("f90"),
    )
    evl = (
        daily.filter(~F.col("is_train"))
        # bound: <= |event_type| x 7 rows
        .join(F.broadcast(fc), ["event_type", "wd"])
    )

    def pin(qu: int, f: str):
        d = F.col("y") - F.col(f)
        return F.sum(
            F.when(F.col("y") >= F.col(f), qu * d)
            .otherwise((10 - qu) * (-d))
        )

    nt = F.count(F.lit(1))
    return (
        evl.groupBy("event_type")
        .agg(
            nt.cast("bigint").alias("n_test_days"),
            F.round(pin(1, "f10") / 10.0 / nt, 4).alias("pinball_q10"),
            F.round(pin(5, "f50") / 10.0 / nt, 4).alias("pinball_q50"),
            F.round(pin(9, "f90") / 10.0 / nt, 4).alias("pinball_q90"),
            F.round(
                F.sum(
                    F.when(F.col("y") <= F.col("f90"), 1).otherwise(0)
                ) * 1.0 / nt,
                4,
            ).alias("cover_q90"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# STL-lite decomposition: trend + weekday seasonal + remainder.
# --------------------------------------------------------------------------

_STL_UNIT = 1000000  # detrended values snap to 1e-6 units


@workload(
    "events_stl_decomposition",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS wd,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2, 3
),
tr AS (
  SELECT event_type, day, wd, y,
         sum(y) OVER w * 1.0 / count(*) OVER w AS trend
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
dt AS (
  SELECT *, CAST(round((y - trend) * {_STL_UNIT}) AS BIGINT) AS du
  FROM tr
),
sea AS (
  SELECT event_type, wd,
         CAST(sum(du) AS BIGINT) AS su, CAST(count(*) AS BIGINT) AS sn
  FROM dt GROUP BY 1, 2
),
seac AS (
  SELECT event_type, wd,
         su * 1.0 / sn / {_STL_UNIT}
           - (sum(su * 1.0 / sn) OVER (PARTITION BY event_type) / 7.0)
             / {_STL_UNIT} AS seasonal
  FROM sea
)
SELECT d.event_type AS event_type,
       d.day AS day,
       d.y AS y,
       ROUND(d.trend, 4) AS trend,
       ROUND(s.seasonal, 4) AS seasonal,
       ROUND(d.y - d.trend - s.seasonal, 4) AS remainder
FROM dt d JOIN seac s ON s.event_type = d.event_type AND s.wd = d.wd
ORDER BY event_type, day
""",
)
def events_stl_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STL-lite decomposition of daily event volume per type:
    trend = centered 7-day moving average, seasonal = per-weekday
    mean of the detrended series re-centered to sum to zero over the
    week (the classical-decomposition core of STL without its loess
    refinement loops), remainder = what anomaly detection should
    actually score — events_zscore_anomaly and CUSUM fire on raw
    counts and therefore alarm every weekend; running them on this
    remainder column is the fix.

    Determinism: the trend is an exact BIGINT-sum ratio; detrended
    values snap to 1e-6 integer units BEFORE the cross-day seasonal
    averaging (the MI trick — the weekday means become order-free),
    and every downstream expression is a fixed-order combination of
    those exact ratios.

    Scale: one combiner groupBy to the |types|×|days| grid; trend
    and seasonal are windows on that grid; the weekday seasonal
    table is |types|×7 broadcast back. Decomposition at 100 TB
    costs exactly the daily-rollup shuffle every other time-series
    workload already pays."""
    from pyspark.sql import Window as _W

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7
        ).alias("wd"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    w7 = (
        _W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type", "day", "wd", "y",
        (
            F.sum("y").over(w7) * 1.0 / F.count(F.lit(1)).over(w7)
        ).alias("trend"),
    )
    dt_ = tr.withColumn(
        "du",
        F.round((F.col("y") - F.col("trend")) * _STL_UNIT)
        .cast("bigint"),
    )
    sea = dt_.groupBy("event_type", "wd").agg(
        F.sum("du").cast("bigint").alias("su"),
        F.count(F.lit(1)).cast("bigint").alias("sn"),
    )
    wt = _W.partitionBy("event_type")
    seac = sea.select(
        "event_type", "wd",
        (
            F.col("su") * 1.0 / F.col("sn") / _STL_UNIT
            - (F.sum(F.col("su") * 1.0 / F.col("sn")).over(wt) / 7.0)
            / _STL_UNIT
        ).alias("seasonal"),
    )
    return (
        # bound: <= |event_type| x 7 rows
        dt_.join(F.broadcast(seac), ["event_type", "wd"])
        .select(
            "event_type", "day", "y",
            F.round("trend", 4).alias("trend"),
            F.round("seasonal", 4).alias("seasonal"),
            F.round(
                F.col("y") - F.col("trend") - F.col("seasonal"), 4
            ).alias("remainder"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# Overdispersion (variance-to-mean) diagnostic of daily counts.
# --------------------------------------------------------------------------


@workload(
    "events_dispersion_index",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s,
         CAST(sum(y * y) AS BIGINT) AS ss
  FROM daily GROUP BY 1
)
SELECT event_type,
       n AS n_days,
       ROUND(s * 1.0 / n, 4) AS mean_daily,
       ROUND((n * ss - s * s) * 1.0 / (n * (n - 1)) / (s * 1.0 / n), 4)
         AS dispersion_index,
       ((n * ss - s * s) * 1.0 / (n * (n - 1)) / (s * 1.0 / n)
        > 1.5) AS overdispersed
FROM mom
ORDER BY event_type
""",
)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean dispersion index of daily event counts per
    type (Fisher's index of dispersion): a Poisson arrival process
    scores ~1; bursty/clustered traffic (retries, bots, batch
    replays) scores >1 — the one-number test for whether Poisson
    confidence bands (and the z-score alarm thresholds derived from
    them) are even valid for this feed, and the criterion for
    switching to a negative-binomial model. Flagged at D > 1.5.

    Determinism: daily counts are BIGINT; the sample variance uses
    the n-scaled integer form (n·Σy² − (Σy)²)/(n(n−1)) and the index
    is one fixed-order float expression of four integers.

    Scale: one combiner groupBy to the daily grid, one |types|-row
    moment aggregate. Free at any volume."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("ss"),
    )
    disp = (
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s")) * 1.0
        / (F.col("n") * (F.col("n") - 1))
        / (F.col("s") * 1.0 / F.col("n"))
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(F.col("s") * 1.0 / F.col("n"), 4).alias("mean_daily"),
        F.round(disp, 4).alias("dispersion_index"),
        (disp > 1.5).alias("overdispersed"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Lagged cross-correlation between two event-type daily series.
# --------------------------------------------------------------------------

_XC_X = "click"
_XC_Y = "purchase"
_XC_MAX_LAG = 3

#: Pearson r from exact integer paired moments (n, sx, sy, sxy,
#: sxx, syy) — shared text.
_XC_R = (
    "((n * sxy - sx * sy) * cast(1.0 as double)"
    " / sqrt((n * sxx - sx * sx) * cast(1.0 as double)"
    " * (n * syy - sy * sy)))"
)


@workload(
    "timeseries_cross_correlation",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = '{_XC_X}' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = '{_XC_Y}' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY CAST(ts AS DATE)
),
lags AS (SELECT unnest(range(-{_XC_MAX_LAG}, {_XC_MAX_LAG} + 1)) AS lag),
paired AS (
  SELECT l.lag, a.x, b.y
  FROM lags l
  JOIN daily a ON true
  JOIN daily b ON b.day = a.day + to_days(CAST(l.lag AS INT))
),
m AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM paired GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
       ROUND({_XC_R}, 6) AS r
FROM m
ORDER BY lag
""",
)
def timeseries_cross_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lagged cross-correlation between the daily {x} and {y}
    series: Pearson r of (x_t, y_(t+lag)) for lags −{L}..+{L} — the
    lead-lag detector (the argmax-|r| positive lag is how many days
    {x} activity LEADS {y}; cf. events_day_over_day_change for
    single-series dynamics). The lag join is on the calendar-day
    key, so missing days pair only where both sides exist.

    Determinism: daily counts and all six paired moments are exact
    BIGINTs per lag; r evaluates one shared text over them (one
    sqrt, one division). Scale: the corpus collapses to the
    |days|-row daily grid FIRST (one combiner groupBy — the
    timeseries-family discipline), and the 2L+1 lag fanout runs on
    that grid, never on events."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == _XC_X, 1).otherwise(0))
            .cast("bigint").alias("x"),
            F.sum(F.when(F.col("event_type") == _XC_Y, 1).otherwise(0))
            .cast("bigint").alias("y"),
        )
    )
    lags = spark.range(-_XC_MAX_LAG, _XC_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select("day", "x")
    b = daily.select(F.col("day").alias("day_y"), "y")
    paired = (
        a.crossJoin(lags)
        .join(
            b,
            F.expr("date_add(day, lag)") == F.col("day_y"),
        )
        .select("lag", "x", "y")
    )
    m = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_days"),
        F.round(F.expr(_XC_R), 6).alias("r"),
    ).orderBy("lag")


# --------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis over the hourly series.
# --------------------------------------------------------------------------

#: R/S block sizes (log-spaced over the ~720-hour window)
_HURST_NS = (8, 24, 72, 216)


@workload(
    "timeseries_hurst_exponent",
    oracle=f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY hr) AS i, x FROM hourly
),
blocked AS (
  SELECT n.n AS n, (i - 1) // n.n AS blk,
         row_number() OVER (PARTITION BY n.n, (i - 1) // n.n
                            ORDER BY i) AS t,
         x
  FROM idx CROSS JOIN (
    SELECT unnest([{", ".join(str(n) for n in _HURST_NS)}]) AS n) n
),
walks AS (
  SELECT n, blk, t, x,
         sum(x) OVER (PARTITION BY n, blk ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(x) OVER (PARTITION BY n, blk) AS s,
         count(*) OVER (PARTITION BY n, blk) AS cnt
  FROM blocked
),
per_block AS (
  -- x² and S² outgrow BIGINT once hourly counts reach ~3e9, so the
  -- variance stays in HUGEINT (the Spark side mirrors with
  -- DECIMAL(38,0)); the walk range R is safely BIGINT
  SELECT n, blk,
         CAST(max(n * cum - t * s) - min(n * cum - t * s) AS BIGINT)
             AS r_int,
         n * sum(CAST(x AS HUGEINT) * x)
             - CAST(max(s) AS HUGEINT) * max(s) AS var_int
  FROM walks WHERE cnt = n
  GROUP BY n, blk
),
rs AS (
  SELECT n, CAST(round(r_int * 1000000000.0 / sqrt(var_int))
                 AS BIGINT) AS rs_units
  FROM per_block WHERE var_int > 0
),
avg_rs AS (
  SELECT CAST(n AS BIGINT) AS block_n,
         CAST(count(*) AS BIGINT) AS n_blocks,
         sum(rs_units) / count(*) / 1000000000.0 AS avg_rs
  FROM rs GROUP BY n
),
pts AS (
  SELECT block_n, n_blocks, avg_rs,
         CAST(round(ln(block_n) * 1000000) AS BIGINT) AS xu,
         CAST(round(ln(avg_rs) * 1000000) AS BIGINT) AS yu
  FROM avg_rs
),
slope AS (
  -- < 2 surviving block sizes (near-constant series) zero the
  -- denominator; emit NULL explicitly so both engines agree
  SELECT CASE
           WHEN count(*) * sum(xu * xu) - sum(xu) * sum(xu) != 0
           THEN (count(*) * sum(xu * yu) - sum(xu) * sum(yu)) * 1.0
                / (count(*) * sum(xu * xu) - sum(xu) * sum(xu))
         END AS h
  FROM pts
)
SELECT block_n, n_blocks, ROUND(avg_rs, 6) AS avg_rs,
       ROUND(slope.h, 4) AS hurst
FROM pts CROSS JOIN slope
ORDER BY block_n
""",
)
def timeseries_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly arrival series via rescaled-range
    analysis (Hurst 1951; Mandelbrot & Wallis 1969): split the ranked
    hourly counts into blocks of n ∈ {ns}, compute each block's
    rescaled range R/S (range of the mean-adjusted cumulative walk
    over the population stddev), and fit H as the log-log slope of
    avg(R/S) against n. H ≈ 0.5 is memoryless; H > 0.5 means
    long-range dependence (bursty traffic whose variance grows
    superlinearly under aggregation — the property that decides
    whether per-shard rate forecasts can assume i.i.d. noise).

    Determinism: the walk deviation is the n-scaled BIGINT
    d_t = n·cum_t − t·S, R is a BIGINT range, n·Σx²−S² keeps the
    variance integer, so each block's R/S is one BIGINT-by-sqrt(BIGINT)
    division — identical doubles on both engines; block R/S values
    snap to 1e-9 units before averaging and the regression runs on
    1e-6-snapped log coordinates, so H is integer-exact arithmetic
    until two final divisions. Constant blocks (S²=n·Σx²) drop on
    both sides.

    Scale: the corpus-sized work is ONE hourly groupBy (map-side
    combinable); blocking, walks, and the 4-point regression all run
    on the |hours| grid (~720 rows/month regardless of corpus size),
    where the single-partition rank window is the right plan."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    idx = hourly.select(
        F.row_number().over(Window.orderBy("hr")).alias("i"), "x"
    )
    blocked = idx.select(
        F.explode(
            F.array(*[F.lit(n) for n in _HURST_NS])
        ).alias("n"),
        "i", "x",
    ).select(
        "n", "x",
        ((F.col("i") - 1) - ((F.col("i") - 1) % F.col("n")))
        .alias("blk_scaled"),
        "i",
    ).select(
        "n", "x", "i",
        (F.col("blk_scaled") / F.col("n")).cast("bigint").alias("blk"),
    )
    wb = Window.partitionBy("n", "blk").orderBy("i")
    wall = Window.partitionBy("n", "blk")
    walks = blocked.select(
        "n", "blk", "x",
        F.row_number().over(wb).alias("t"),
        F.sum("x").over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("x").over(wall).alias("s"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    d = F.col("n") * F.col("cum") - F.col("t") * F.col("s")
    per_block = (
        walks.filter(F.col("cnt") == F.col("n"))
        .groupBy("n", "blk")
        .agg(
            (F.max(d) - F.min(d)).cast("bigint").alias("r_int"),
            # DECIMAL(38,0) keeps n·Σx² − S² exact past the BIGINT
            # ceiling (x² alone overflows at hourly counts ~3e9)
            (
                F.max("n")
                * F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
                - F.max("s").cast("decimal(38,0)") * F.max("s")
            ).alias("var_int"),
        )
    )
    rs = per_block.filter(F.col("var_int") > 0).select(
        "n",
        F.round(
            F.col("r_int") * 1000000000.0 / F.sqrt(F.col("var_int"))
        ).cast("bigint").alias("rs_units"),
    )
    avg_rs = rs.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        (
            F.sum("rs_units") / F.count(F.lit(1)) / 1000000000.0
        ).alias("avg_rs"),
    ).select(
        F.col("n").cast("bigint").alias("block_n"), "n_blocks", "avg_rs"
    )
    pts = avg_rs.select(
        "block_n", "n_blocks", "avg_rs",
        F.round(F.log("block_n") * 1000000).cast("bigint").alias("xu"),
        F.round(F.log("avg_rs") * 1000000).cast("bigint").alias("yu"),
    )
    # < 2 surviving block sizes (near-constant series) zero the
    # denominator; gate with when() so both engines emit NULL
    slope_den = (
        F.count(F.lit(1)) * F.sum(F.col("xu") * F.col("xu"))
        - F.sum("xu") * F.sum("xu")
    )
    slope = pts.agg(
        F.when(
            slope_den != 0,
            (
                F.count(F.lit(1)) * F.sum(F.col("xu") * F.col("yu"))
                - F.sum("xu") * F.sum("yu")
            ) * 1.0 / slope_den,
        ).alias("h")
    )
    return (
        pts.crossJoin(slope)
        .select(
            "block_n", "n_blocks",
            F.round("avg_rs", 6).alias("avg_rs"),
            F.round("h", 4).alias("hurst"),
        )
        .orderBy("block_n")
    )


# --------------------------------------------------------------------------
# Page-Hinkley drift detector on the daily mean-value series.
# --------------------------------------------------------------------------


@workload(
    "drift_page_hinkley",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, day, cents * 1.0 / cnt AS x,
         row_number() OVER w AS i,
         sum(cents * 1.0 / cnt) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
u AS (
  SELECT event_type, day,
         sum(x - cx / i) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ut
  FROM m
),
ph AS (
  SELECT event_type, day, ut,
         ut - min(ut) OVER cum AS ph_inc,
         max(ut) OVER cum - ut AS ph_dec
  FROM u
  WINDOW cum AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
best AS (
  SELECT event_type, day, ph_inc, ph_dec,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ph_inc DESC, day) AS ri,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ph_dec DESC, day) AS rd,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM ph
)
SELECT i.event_type, CAST(i.n_days AS BIGINT) AS n_days,
       ROUND(i.ph_inc / 100.0, 4) + 0.0 AS ph_inc,
       CAST(i.day AS DATE) AS inc_day,
       ROUND(d.ph_dec / 100.0, 4) + 0.0 AS ph_dec,
       CAST(d.day AS DATE) AS dec_day
FROM best i JOIN best d
  ON d.event_type = i.event_type AND d.rd = 1
WHERE i.ri = 1
ORDER BY i.event_type
""",
)
def drift_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detector (Page 1954; the sequential test
    stream-mining uses for concept drift) on each event type's daily
    mean value: U_t = Σ(x_i − x̄_i) accumulates deviations from the
    RUNNING mean, PH⁺ = U_t − min U_s flags an upward level shift,
    PH⁻ = max U_s − U_t a downward one. Reports each type's peak
    statistic and the day it peaked — the day a threshold-λ monitor
    would alarm. Complements CUSUM (fixed reference mean) by
    self-centering: no training period needs pinning.

    Determinism: daily means come from exact BIGINT cents; every
    accumulation (running mean, U, prefix min/max) is an ORDERED
    window, so both engines execute the identical IEEE sequence —
    bit-exact before display rounding (ROUND + 0.0 canonicalizes the
    -0.0 a zero-drift type would hit). Argmax days tie-break earliest.

    Scale: one map-side-combinable day groupBy over the corpus;
    every window runs on the |types| x |days| daily grid."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    return _page_hinkley_report(daily)


def _page_hinkley_report(daily: DataFrame) -> DataFrame:
    """PH readout from a (event_type, day, cents, cnt) daily grid —
    shared verbatim by the batch workload and the streaming monitor
    (streaming/ph.py), so their reports are the SAME plan over the
    same grid: exact parity by construction."""
    w = Window.partitionBy("event_type").orderBy("day")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x = F.col("cents") * 1.0 / F.col("cnt")
    m = daily.select(
        "event_type", "day", x.alias("x"),
        F.row_number().over(w).alias("i"),
        F.sum(x).over(cum).alias("cx"),
    )
    u = m.select(
        "event_type", "day",
        F.sum(F.col("x") - F.col("cx") / F.col("i")).over(cum).alias("ut"),
    )
    ph = u.select(
        "event_type", "day", "ut",
        (F.col("ut") - F.min("ut").over(cum)).alias("ph_inc"),
        (F.max("ut").over(cum) - F.col("ut")).alias("ph_dec"),
    )
    best = ph.select(
        "event_type", "day", "ph_inc", "ph_dec",
        F.row_number().over(
            Window.partitionBy("event_type")
            .orderBy(F.col("ph_inc").desc(), "day")
        ).alias("ri"),
        F.row_number().over(
            Window.partitionBy("event_type")
            .orderBy(F.col("ph_dec").desc(), "day")
        ).alias("rd"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")
        ).alias("n_days"),
    )
    inc = best.filter(F.col("ri") == 1).select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        (F.round(F.col("ph_inc") / 100.0, 4) + 0.0).alias("ph_inc"),
        F.col("day").cast("date").alias("inc_day"),
    )
    dec = best.filter(F.col("rd") == 1).select(
        "event_type",
        (F.round(F.col("ph_dec") / 100.0, 4) + 0.0).alias("ph_dec"),
        F.col("day").cast("date").alias("dec_day"),
    )
    return (
        inc.join(dec, "event_type")
        .select("event_type", "n_days", "ph_inc", "inc_day",
                "ph_dec", "dec_day")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Mann-Kendall monotonic-trend test on the daily grid.
# --------------------------------------------------------------------------


@workload(
    "stats_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day > a.day
  GROUP BY a.event_type
),
ties AS (
  SELECT event_type,
         CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
             AS tie_term
  FROM (
    SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
    FROM daily GROUP BY event_type, x
  ) GROUP BY event_type
),
nn AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily
  GROUP BY event_type
),
stat AS (
  SELECT nn.event_type, nn.n, p.s,
         nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term AS v18
  FROM nn JOIN pairs p ON p.event_type = nn.event_type
  JOIN ties ON ties.event_type = nn.event_type
)
SELECT event_type, n AS n_days, s AS s_stat,
       CAST(v18 AS BIGINT) AS var18,
       CASE WHEN v18 <= 0 THEN NULL
            WHEN s > 0 THEN ROUND((s - 1) / sqrt(v18 / 18.0), 4) + 0.0
            WHEN s < 0 THEN ROUND((s + 1) / sqrt(v18 / 18.0), 4) + 0.0
            ELSE 0.0 END AS z,
       CASE WHEN v18 <= 0 THEN 'undefined'
            WHEN s > 0 AND (s - 1) / sqrt(v18 / 18.0) > 1.96
                 THEN 'increasing'
            WHEN s < 0 AND (s + 1) / sqrt(v18 / 18.0) < -1.96
                 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM stat
ORDER BY event_type
""",
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type on daily
    arrival counts — the SIGNIFICANCE verdict Theil-Sen's slope
    estimate lacks (MK asks "is there a trend at α=0.05?", Theil-Sen
    answers "how steep?"; together they are the standard
    nonparametric trend kit): S = Σ_{i<j} sign(x_j − x_i), variance
    with the tie correction, continuity-corrected z.

    Determinism: S, n, and the tie-corrected 18·Var are exact
    BIGINTs; z is one fixed-parenthesization double; verdicts
    compare that identical double against the 1.96 literal.

    Scale: corpus work is ONE day groupBy (map-side combinable);
    the pair comparison is a |days|² per-type self-join on the tiny
    daily grid — bounded by the calendar, not the corpus."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    return _mann_kendall_report(daily)


def _mann_kendall_report(daily: DataFrame) -> DataFrame:
    """Mann-Kendall readout from a (event_type, day, x) daily-count
    grid — shared verbatim by the batch workload and the streaming
    daily monitor (streaming/ph.py)."""
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.day") > F.col("a.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            ).cast("bigint").alias("s")
        )
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).cast("bigint").alias("tie_term")
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    stat = (
        nn.join(pairs, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type", "n", "s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            ).alias("v18"),
        )
    )
    zpos = (F.col("s") - 1) / F.sqrt(F.col("v18") / 18.0)
    zneg = (F.col("s") + 1) / F.sqrt(F.col("v18") / 18.0)
    return stat.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        F.col("v18").cast("bigint").alias("var18"),
        F.when(F.col("v18") <= 0, F.lit(None).cast("double"))
        .when(F.col("s") > 0, F.round(zpos, 4) + 0.0)
        .when(F.col("s") < 0, F.round(zneg, 4) + 0.0)
        .otherwise(F.lit(0.0)).alias("z"),
        F.when(F.col("v18") <= 0, F.lit("undefined"))
        .when((F.col("s") > 0) & (zpos > 1.96), F.lit("increasing"))
        .when((F.col("s") < 0) & (zneg < -1.96), F.lit("decreasing"))
        .otherwise(F.lit("none")).alias("trend"),
    ).orderBy("event_type")
