"""Marketing/user analytics: revenue attribution and RFM
segmentation over the event stream — the warehouse-side analytics a
reference user runs downstream of the ELT layer (delegated-SQL
surface, SURVEY.md §2B: window functions + NTILE + conditional
aggregation composed into named business operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.session import bounded_collect
from datanika_core_spark.workloads import t, workload

# --------------------------------------------------------------------------
# Last-touch revenue attribution.
# --------------------------------------------------------------------------


@workload(
    "attribution_last_touch",
    oracle="""
WITH touched AS (
  SELECT event_type, value,
         coalesce(
           last_value(CASE WHEN event_type <> 'purchase'
                           THEN event_type END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           'direct') AS touch
  FROM events
)
SELECT touch,
       CAST(count(*) AS BIGINT) AS n_purchases,
       ROUND(sum(value), 2) AS revenue,
       ROUND(ROUND(sum(value), 2) / count(*), 4) AS avg_order
FROM touched
WHERE event_type = 'purchase'
GROUP BY touch
ORDER BY touch
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the
    user's most recent preceding non-purchase event (view, click,
    signup, even error) — purchases with no prior touch fall into
    'direct'. One conditional last_value(IGNORE NULLS) window over
    the raw stream; no self-join of purchases back onto touches.

    Scale: ONE shuffle keyed by user (the same key every sessionize/
    funnel window uses — at 100 TB these share a bucketed layout).
    The attribution column is computed in the window pass; the final
    per-channel rollup aggregates five rows per... channel, i.e.
    nothing."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.coalesce(
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
        F.lit("direct"),
    )
    return (
        ev.select("event_type", "value", "user_id", "ts", "event_id")
        .withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy("touch")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
            # divide the ALREADY-rounded revenue: avg(value) rounds a
            # summation-order-dependent double and can land on the
            # other side of a .xxxx5 boundary than the oracle's sum
            F.round(
                F.round(F.sum("value"), 2) / F.count(F.lit(1)), 4
            ).alias("avg_order"),
        )
        .orderBy("touch")
    )


# --------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles).
# --------------------------------------------------------------------------


@workload(
    "rfm_segments",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         max(ts) AS last_purchase,
         count(*) AS freq,
         sum(value) AS monetary
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
scored AS (
  SELECT user_id,
         ntile(5) OVER (ORDER BY last_purchase DESC, user_id) AS r,
         ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
         ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m,
         freq, ROUND(monetary, 2) AS monetary
  FROM per_user
)
SELECT 'R' || CAST(r AS VARCHAR) || 'F' || CAST(f AS VARCHAR)
         || 'M' || CAST(m AS VARCHAR) AS segment,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(freq) AS BIGINT) AS total_orders,
       ROUND(sum(monetary), 2) AS total_revenue
FROM scored
GROUP BY segment
ORDER BY segment
""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per purchasing user, quintile ranks of
    recency (latest purchase first), frequency and monetary value —
    ntile(5) with a user_id tiebreak so bucket boundaries are
    deterministic — rolled up to segment labels R?F?M? with user /
    order / revenue totals (the 'R5F5M5 = champions' marketing
    taxonomy).

    Scale: the per-user agg shuffles once on user_id. The three
    unpartitioned ntile windows run over USERS (post-agg, orders of
    magnitude smaller than events); if the user table itself is
    huge, swap ntile for bucketing on percentile_approx boundaries —
    sketch-mergeable, no global sort (same trade documented in
    docs/SCALE.md for the percentile filters)."""
    ev = t(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("value").alias("monetary"),
        )
    )
    r = F.ntile(5).over(
        Window.orderBy(F.col("last_purchase").desc(), F.col("user_id"))
    )
    f_ = F.ntile(5).over(
        Window.orderBy(F.col("freq").desc(), F.col("user_id"))
    )
    m = F.ntile(5).over(
        Window.orderBy(F.col("monetary").desc(), F.col("user_id"))
    )
    # per-user monetary is rounded BEFORE the segment sum on both
    # sides: both engines then sum the same 2-dp multiset and the
    # final round can't straddle a half-cent boundary
    scored = per_user.select(
        "user_id", "freq",
        F.round("monetary", 2).alias("monetary"),
        r.alias("r"), f_.alias("f"), m.alias("m"),
    )
    segment = F.concat(
        F.lit("R"), F.col("r").cast("string"),
        F.lit("F"), F.col("f").cast("string"),
        F.lit("M"), F.col("m").cast("string"),
    )
    return (
        scored.groupBy(segment.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("freq").cast("bigint").alias("total_orders"),
            F.round(F.sum("monetary"), 2).alias("total_revenue"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# Association rules over session baskets (support / confidence / lift).
# --------------------------------------------------------------------------

_GAP_MIN = 30  # same session definition as events_sessionize_gap


@workload(
    "assoc_rules_session_pairs",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL {_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess_items AS (
  SELECT DISTINCT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no,
         event_type
  FROM ordered
),
n_sessions AS (
  SELECT count(DISTINCT (user_id, session_no)) AS n FROM sess_items
),
item_counts AS (
  SELECT event_type, count(*) AS cnt FROM sess_items GROUP BY event_type
),
pair_counts AS (
  SELECT a.event_type AS antecedent, b.event_type AS consequent,
         count(*) AS cnt
  FROM sess_items a
  JOIN sess_items b
    ON a.user_id = b.user_id AND a.session_no = b.session_no
   AND a.event_type <> b.event_type
  GROUP BY 1, 2
)
SELECT p.antecedent, p.consequent,
       CAST(p.cnt AS BIGINT) AS n_cooccur,
       ROUND(p.cnt * 1.0 / n.n, 6) AS support,
       ROUND(p.cnt * 1.0 / ia.cnt, 6) AS confidence,
       ROUND((p.cnt * 1.0 / ia.cnt) / (ic.cnt * 1.0 / n.n), 6) AS lift
FROM pair_counts p
JOIN item_counts ia ON ia.event_type = p.antecedent
JOIN item_counts ic ON ic.event_type = p.consequent
CROSS JOIN n_sessions n
ORDER BY antecedent, consequent
""",
)
def assoc_rules_session_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules at the session-basket level: for every
    directed event-type pair (a → b), the support
    P(a,b), confidence P(b|a) and lift P(b|a)/P(b) over 30-min-gap
    sessions — lift > 1 means b is genuinely promoted by a's
    presence, the signal behind 'users who viewed also purchased'.

    Scale: sessionization is the one event-scale shuffle (shared
    key with every other session operator). Baskets collapse to
    DISTINCT (session, type) rows — bounded by types-per-session,
    not events — and the pair self-join runs on that collapsed set
    keyed by session. Item/pair count tables are |types| and
    |types|² rows; the final joins are broadcasts."""
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
    sess_items = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("new_session", new_s)
        .withColumn("session_no", F.sum("new_session").over(wcum))
        .select("user_id", "session_no", "event_type")
        .distinct()
    )
    n_sessions = sess_items.select("user_id", "session_no").distinct().count()
    item_counts = sess_items.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    a = sess_items.select(
        "user_id", "session_no", F.col("event_type").alias("antecedent")
    )
    b = sess_items.select(
        "user_id", "session_no", F.col("event_type").alias("consequent")
    )
    pair_counts = (
        a.join(b, ["user_id", "session_no"])
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ia = item_counts.select(
        F.col("event_type").alias("antecedent"), F.col("cnt").alias("a_cnt")
    )
    ic = item_counts.select(
        F.col("event_type").alias("consequent"), F.col("cnt").alias("c_cnt")
    )
    return (
        # bound: <= |event_type| rows
        pair_counts.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")  # bound: <= |event_type| rows
        .select(
            "antecedent",
            "consequent",
            F.col("cnt").cast("bigint").alias("n_cooccur"),
            F.round(F.col("cnt") * F.lit(1.0) / n_sessions, 6).alias(
                "support"
            ),
            F.round(F.col("cnt") * F.lit(1.0) / F.col("a_cnt"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("cnt") * F.lit(1.0) / F.col("a_cnt"))
                / (F.col("c_cnt") * F.lit(1.0) / n_sessions),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


# --------------------------------------------------------------------------
# Linear multi-touch attribution (windowed credit split).
# --------------------------------------------------------------------------

_MT_WINDOW_MIN = 30  # touch lookback before each purchase


@workload(
    "attribution_linear_multitouch",
    oracle=f"""
WITH purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id, value
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, ts AS t_ts, event_type AS touch
  FROM events WHERE event_type <> 'purchase'
),
joined AS (
  SELECT p.p_id, p.value, t.touch
  FROM purchases p
  JOIN touches t
    ON t.user_id = p.user_id
   AND t.t_ts >= p.p_ts - INTERVAL {_MT_WINDOW_MIN} MINUTE
   AND t.t_ts < p.p_ts
),
credited AS (
  SELECT touch,
         value * 1.0 / count(*) OVER (PARTITION BY p_id) AS credit
  FROM joined
)
SELECT touch,
       CAST(count(*) AS BIGINT) AS n_credits,
       ROUND(sum(CAST(round(credit * 10000) AS BIGINT)) / 10000.0, 4)
         AS attributed_revenue
FROM credited
GROUP BY touch
ORDER BY touch
""",
)
def attribution_linear_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits its
    revenue EQUALLY across all of the user's touches in the
    preceding 30 minutes (vs last-touch's winner-takes-all). The
    per-purchase credit denominator comes from a window over the
    purchase id — no second aggregation pass.

    Scale: the purchases×touches join is the range-join shape
    (operators/temporal.py::range_join time-bucket-explodes it at
    scale); here the user_id equi-key already bounds the pairing.
    Credits sum in integer 1e-4 units so the multiset sum is
    order-independent across engines."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"), "value",
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch"),
    )
    joined = purchases.join(
        touches,
        (purchases.user_id == touches.user_id)
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {_MT_WINDOW_MIN} MINUTES")
        )
        & (F.col("t_ts") < F.col("p_ts")),
    ).select("p_id", "value", "touch")
    credit = F.col("value") * F.lit(1.0) / F.count(F.lit(1)).over(
        Window.partitionBy("p_id")
    )
    return (
        joined.withColumn("credit", credit)
        .groupBy("touch")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.round(
                F.sum(F.round(F.col("credit") * 10000).cast("bigint"))
                / 10000.0,
                4,
            ).alias("attributed_revenue"),
        )
        .orderBy("touch")
    )


# --------------------------------------------------------------------------
# Market-basket pairs over the TPC-H order lines (parts co-purchased).
# --------------------------------------------------------------------------

_MB_TOPK = 25


@workload(
    "basket_part_pairs_orders",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS n_baskets
  FROM items a
  JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b,
       CAST(n_baskets AS BIGINT) AS n_baskets,
       ROUND(n_baskets * 1.0 / n.n, 8) AS support
FROM pairs CROSS JOIN n_orders n
ORDER BY n_baskets DESC, part_a, part_b
LIMIT {_MB_TOPK}
""",
)
def basket_part_pairs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining on the warehouse schema: the top part
    pairs co-purchased within an order, with basket support — the
    Apriori candidate-pair pass (the k=2 level that dominates the
    lattice) expressed as a keyed self-join.

    Scale: DISTINCT (order, part) collapse first, then the self-join
    is keyed on l_orderkey — the pair explosion is bounded by
    items-per-order², which TPC-H caps at 7 lines/order (real
    baskets: dozens) — a per-key quadratic inside a linear shuffle,
    never a global cross product. Pair counts aggregate with
    combiners; top-k is a TakeOrdered with a total-order tiebreak."""
    items = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().count()
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    return (
        pairs.select(
            "part_a",
            "part_b",
            F.col("n_baskets").cast("bigint").alias("n_baskets"),
            F.round(F.col("n_baskets") * F.lit(1.0) / n_orders, 8).alias(
                "support"
            ),
        )
        .orderBy(F.col("n_baskets").desc(), "part_a", "part_b")
        .limit(_MB_TOPK)
    )


# --------------------------------------------------------------------------
# RFM tier transitions between two halves of the window.
# --------------------------------------------------------------------------

_RFM_SPLIT = "2024-01-16 00:00:00"


@workload(
    "rfm_segment_transitions",
    oracle=f"""
WITH h1 AS (
  SELECT user_id,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events
  WHERE event_type = 'purchase' AND ts < TIMESTAMP '{_RFM_SPLIT}'
  GROUP BY user_id
),
h2 AS (
  SELECT user_id,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events
  WHERE event_type = 'purchase' AND ts >= TIMESTAMP '{_RFM_SPLIT}'
  GROUP BY user_id
),
t1 AS (
  SELECT user_id,
         'T' || CAST(ntile(3) OVER (ORDER BY cents DESC, user_id)
                     AS VARCHAR) AS tier
  FROM h1
),
t2 AS (
  SELECT user_id,
         'T' || CAST(ntile(3) OVER (ORDER BY cents DESC, user_id)
                     AS VARCHAR) AS tier,
         cents
  FROM h2
)
SELECT coalesce(t1.tier, 'none') AS from_tier,
       coalesce(t2.tier, 'none') AS to_tier,
       CAST(count(*) AS BIGINT) AS n_users,
       ROUND(sum(coalesce(t2.cents, 0)) / 100.0, 2) AS revenue_h2
FROM t1 FULL OUTER JOIN t2 ON t1.user_id = t2.user_id
GROUP BY from_tier, to_tier
ORDER BY from_tier, to_tier
""",
)
def rfm_segment_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-tier migration: monetary tertiles (T1 = top
    spenders) computed independently over the first and second half
    of the window, full-outer-joined per user into a transition
    matrix — 'none'→T? rows are newly active buyers, T?→'none' rows
    are churn, the diagonal is tier retention. The report marketing
    reads as upgrade/downgrade/churn flows.

    Scale: two filtered per-user aggregates (one shuffle each, same
    user_id key — bucketed layouts share it); ntile windows run over
    USERS not events (swap for percentile_approx bucketing if the
    user dimension itself is huge, as rfm_segments documents); the
    transition matrix is ≤ 4×4 rows. Monetary is summed as BIGINT
    cents (the module's convention) so the ntile ORDER BY ranks an
    exact integer — a float sum's aggregation-order drift could
    reorder near-tied users and flip tier assignments between
    engines or reruns."""
    ev = t(spark, sf_dir, "events")
    split = F.lit(_RFM_SPLIT).cast("timestamp")
    purch = ev.filter(F.col("event_type") == "purchase")

    def half(cond, with_rev: bool):
        per_user = purch.filter(cond).groupBy("user_id").agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .alias("cents")
        )
        tier = F.concat(
            F.lit("T"),
            F.ntile(3)
            .over(Window.orderBy(F.col("cents").desc(), F.col("user_id")))
            .cast("string"),
        )
        cols = [F.col("user_id"), tier.alias("tier")]
        if with_rev:
            cols.append(F.col("cents"))
        return per_user.select(*cols)

    t1 = half(F.col("ts") < split, with_rev=False)
    t2 = half(F.col("ts") >= split, with_rev=True)
    joined = t1.alias("a").join(
        t2.alias("b"), F.col("a.user_id") == F.col("b.user_id"), "full_outer"
    )
    return (
        joined.select(
            F.coalesce(F.col("a.tier"), F.lit("none")).alias("from_tier"),
            F.coalesce(F.col("b.tier"), F.lit("none")).alias("to_tier"),
            F.coalesce(F.col("b.cents"), F.lit(0)).alias("m2"),
        )
        .groupBy("from_tier", "to_tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.sum("m2") / 100.0, 2).alias("revenue_h2"),
        )
        .orderBy("from_tier", "to_tier")
    )


# --------------------------------------------------------------------------
# Time-decay multi-touch attribution (exponential half-life credit).
# --------------------------------------------------------------------------

_TD_LOOKBACK_DAYS = 7  # touch lookback before each purchase
_TD_HALF_LIFE_D = 1    # credit halves per full day of age


@workload(
    "attribution_time_decay",
    oracle=f"""
WITH purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id, value
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, ts AS t_ts, event_type AS touch
  FROM events WHERE event_type <> 'purchase'
),
joined AS (
  SELECT p.p_id, p.value, t.touch,
         power(0.5, CAST(floor(date_diff('second', t.t_ts, p.p_ts)
                               / 86400.0) AS BIGINT)) AS w
  FROM purchases p
  JOIN touches t
    ON t.user_id = p.user_id
   AND t.t_ts >= p.p_ts - INTERVAL {_TD_LOOKBACK_DAYS} DAY
   AND t.t_ts < p.p_ts
),
credited AS (
  SELECT touch,
         value * w / sum(w) OVER (PARTITION BY p_id) AS credit
  FROM joined
)
SELECT touch,
       CAST(count(*) AS BIGINT) AS n_credits,
       ROUND(sum(CAST(round(credit * 10000) AS BIGINT)) / 10000.0, 4)
         AS attributed_revenue
FROM credited
GROUP BY touch
ORDER BY touch
""",
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every purchase splits its
    revenue across the user's touches in the prior 7 days with
    exponential decay (half-life = 1 day), so yesterday's click earns
    half of today's — the standard position-independent decay model
    between last-touch's winner-takes-all and linear's flat split.

    Determinism across engines: the decay weight is 0.5^k for an
    INTEGER day lag — an exact dyadic double — so per-purchase weight
    sums are order-independent; credits then sum in integer 1e-4
    units (same convention as attribution_linear_multitouch).

    Scale: same user-keyed range join as the linear variant
    (time-bucket-explode via operators/temporal.py::range_join when
    the per-user pairing stops being bounded); the normalizing
    denominator is a window over p_id — no second aggregation pass."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"), "value",
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch"),
    )
    day_lag = F.floor(
        (
            F.unix_timestamp("p_ts").cast("double")
            - F.unix_timestamp("t_ts").cast("double")
        )
        / 86400.0
    ).cast("bigint")
    joined = purchases.join(
        touches,
        (purchases.user_id == touches.user_id)
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {_TD_LOOKBACK_DAYS} DAYS")
        )
        & (F.col("t_ts") < F.col("p_ts")),
    ).select(
        "p_id", "value", "touch", F.pow(F.lit(0.5), day_lag).alias("w")
    )
    credit = (
        F.col("value") * F.col("w")
        / F.sum("w").over(Window.partitionBy("p_id"))
    )
    return (
        joined.withColumn("credit", credit)
        .groupBy("touch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            F.round(
                F.sum(F.round(F.col("credit") * 10000).cast("bigint"))
                / 10000.0,
                4,
            ).alias("attributed_revenue"),
        )
        .orderBy("touch")
    )


# --------------------------------------------------------------------------
# Shapley-value channel attribution over the coalition lattice.
# --------------------------------------------------------------------------

_SHAP_CHANNELS = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
_SHAP_N = len(_SHAP_CHANNELS)
# 24·w(|S|) for n=4: |S|!·(n−1−|S|)!/n! × 4! — exact integers
_SHAP_W24 = {0: 6, 1: 2, 2: 2, 3: 6}


@workload(
    "attribution_shapley_coalitions",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         + 2 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
         + 8 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS m,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
tot AS (SELECT count(*) AS nu FROM per_user),
grid AS (SELECT m, count(*) AS n, sum(conv) AS c FROM per_user GROUP BY m),
coal AS (SELECT unnest(range(16)) AS s),
sub AS (
  SELECT coal.s AS s, coalesce(sum(g.c), 0) AS csub
  FROM coal LEFT JOIN grid g ON (g.m & coal.s) = g.m
  GROUP BY coal.s
),
terms AS (
  SELECT ch.ch AS channel, coal.s AS s, coal.s + ch.b AS su,
         CASE bit_count(CAST(coal.s AS BIGINT))
              WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END AS w
  FROM coal
  CROSS JOIN (VALUES ('click', 1), ('error', 2),
              ('signup', 4), ('view', 8)) ch(ch, b)
  WHERE (coal.s & ch.b) = 0
),
phi AS (
  SELECT t.channel AS channel,
         CAST(sum(t.w * (su.csub - s0.csub)) AS BIGINT) AS phi_units
  FROM terms t
  JOIN sub su ON su.s = t.su
  JOIN sub s0 ON s0.s = t.s
  GROUP BY t.channel
),
tt AS (SELECT sum(phi_units) AS total_units FROM phi)
SELECT phi.channel AS channel,
       phi.phi_units AS phi_units,
       ROUND(phi.phi_units * 1.0 / (24.0 * tot.nu), 6) AS shapley_rate,
       ROUND(phi.phi_units * 1.0 / tt.total_units, 6) AS credit_share
FROM phi CROSS JOIN tot CROSS JOIN tt
ORDER BY channel
""",
)
def attribution_shapley_coalitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shapley-value (data-driven) channel attribution: each user's
    journey collapses to the SET of touch channels seen (a 4-bit
    mask over click/error/signup/view), the coalition value v(S) is
    the count of converted users whose journey fits inside S, and
    each channel's credit is the exact Shapley average of its
    marginal contributions over the 2⁴ coalition lattice — the
    game-theoretic attribution that position rules (last-touch,
    linear, time-decay — all implemented above) only approximate.
    Purchase-only journeys (empty mask) form v(∅), the
    unattributable baseline the credits correctly exclude.

    Determinism: coalition values are integer user counts; the
    factorial Shapley weights enter as the exact integers 24·w(|S|)
    ∈ {{6,2,2,6}}, so every φ is a BIGINT in 1/24-conversion units;
    rates and shares are exact-integer ratios rounded for display.

    Scale: ONE user groupBy collapses any corpus to ≤2⁴ mask rows
    (one scan, one user-keyed shuffle — pinned by
    tests/test_plan_quality.py on the grid frame); the lattice
    arithmetic (subset sums, marginal averages) runs on those ≤16
    collected rows as exact driver integers — the same
    one-scan-then-driver-scalars shape as the PCA gram. n channels
    grows the lattice 2ⁿ but never touches the fact scan again; at
    10+ channels you'd sample permutations instead — the lattice
    form here is exact."""
    grid_rows = _shapley_grid(spark, sf_dir).collect()  # bound: ≤16 rows
    n_by_mask = {int(r["m"]): int(r["n"]) for r in grid_rows}
    c_by_mask = {int(r["m"]): int(r["c"]) for r in grid_rows}
    nu = sum(n_by_mask.values())
    csub = {
        s_: sum(c for m, c in c_by_mask.items() if (m & s_) == m)
        for s_ in range(16)
    }
    phi_units = {}
    for ch, b in _SHAP_CHANNELS:
        phi_units[ch] = sum(
            _SHAP_W24[bin(s_).count("1")] * (csub[s_ | b] - csub[s_])
            for s_ in range(16)
            if (s_ & b) == 0
        )
    total_units = sum(phi_units.values())
    out = spark.createDataFrame(
        [
            (ch, phi_units[ch],
             phi_units[ch] * 1.0 / (24.0 * nu),
             phi_units[ch] * 1.0 / total_units)
            for ch, _ in _SHAP_CHANNELS
        ],
        "channel string, phi_units bigint, shapley_rate double,"
        " credit_share double",
    )
    return out.select(
        "channel",
        "phi_units",
        F.round("shapley_rate", 6).alias("shapley_rate"),
        F.round("credit_share", 6).alias("credit_share"),
    ).orderBy("channel")


def _shapley_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of the Shapley workload: journeys
    collapsed to ≤2⁴ (mask, n_users, n_converted) rows in one scan +
    one user-keyed combiner groupBy. Separate frame so the plan
    shape is pinnable."""
    ev = t(spark, sf_dir, "events")
    mask = None
    for ch, b in _SHAP_CHANNELS:
        flag = F.max(F.when(F.col("event_type") == ch, 1).otherwise(0))
        mask = flag * b if mask is None else mask + flag * b
    per_user = ev.groupBy("user_id").agg(
        mask.alias("m"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    return per_user.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )


# --------------------------------------------------------------------------
# Markov removal-effect attribution (Anderl et al. 2016 — the
# "data-driven attribution" model): channel credit = how much the
# journey-graph conversion probability drops when the channel is
# removed.
# --------------------------------------------------------------------------

_MRA_GAP_MIN = 30   # session gap, matches the sessionize convention
_MRA_K = 60         # fixed value-iteration rounds (geometric conv.)

#: Journey edges shared by engine and oracle: sessions split on a
#: 30-min gap, each session truncated at its FIRST purchase
#: (absorbing CONV); sessions with no purchase terminate in the
#: absorbing '__null__' state; 'START' precedes every session.
_MRA_EDGES_SQL = f"""
seq AS MATERIALIZED (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL {_MRA_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS MATERIALIZED (
  SELECT user_id, event_type, ts, event_id,
         sum(new_sess) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS sid
  FROM seq
),
pos AS MATERIALIZED (
  SELECT user_id, sid, event_type,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY ts, event_id) AS rn
  FROM sess
),
fp AS MATERIALIZED (
  SELECT user_id, sid,
         min(CASE WHEN event_type = 'purchase' THEN rn END) AS prn,
         max(rn) AS lastrn
  FROM pos GROUP BY user_id, sid
),
kept AS MATERIALIZED (
  SELECT p.user_id, p.sid, p.event_type, p.rn,
         coalesce(f.prn, f.lastrn) AS endrn, f.prn
  FROM pos p JOIN fp f
    ON f.user_id = p.user_id AND f.sid = p.sid
  WHERE p.rn <= coalesce(f.prn, f.lastrn)
),
raw_edges AS MATERIALIZED (
  SELECT 'START' AS src, event_type AS dst FROM kept WHERE rn = 1
  UNION ALL
  SELECT a.event_type, b.event_type
  FROM kept a JOIN kept b
    ON b.user_id = a.user_id AND b.sid = a.sid AND b.rn = a.rn + 1
  UNION ALL
  SELECT event_type, '__null__'
  FROM kept WHERE rn = endrn AND prn IS NULL
),
edges AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
  FROM raw_edges GROUP BY src, dst
)"""


@workload(
    "attribution_markov_removal",
    oracle=f"""
WITH RECURSIVE
{_MRA_EDGES_SQL},
channels AS MATERIALIZED (
  SELECT DISTINCT st FROM (
    SELECT src AS st FROM edges UNION ALL SELECT dst FROM edges
  ) WHERE st NOT IN ('START', 'purchase', '__null__')
),
states AS MATERIALIZED (
  SELECT DISTINCT st FROM (
    SELECT src AS st FROM edges UNION ALL SELECT dst FROM edges
  )
),
scen AS MATERIALIZED (
  SELECT '__base__' AS removed
  UNION ALL SELECT st FROM channels
),
redge AS MATERIALIZED (
  SELECT s.removed, e.src,
         CASE WHEN e.dst = s.removed THEN '__null__' ELSE e.dst END
           AS dst,
         sum(e.w) AS w
  FROM scen s JOIN edges e ON e.src <> s.removed
  GROUP BY 1, 2, 3
),
outw AS MATERIALIZED (
  SELECT removed, src, sum(w) AS tw FROM redge GROUP BY 1, 2
),
aug AS MATERIALIZED (
  SELECT r.removed, r.src, r.dst, r.w * 1.0 / o.tw AS pr
  FROM redge r JOIN outw o
    ON o.removed = r.removed AND o.src = r.src
  WHERE r.src NOT IN ('purchase', '__null__')
  UNION ALL
  SELECT removed, st, st, CAST(1.0 AS DOUBLE)
  FROM scen CROSS JOIN (SELECT 'purchase' AS st
                        UNION ALL SELECT '__null__')
),
walk AS (
  SELECT 0 AS it, removed, st,
         CASE WHEN st = 'purchase' THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS p
  FROM scen CROSS JOIN states
  UNION ALL
  SELECT it + 1, removed, src AS st, sum(pp) AS p
  FROM (
    SELECT w.it AS it, a.removed AS removed, a.src AS src,
           a.pr * w.p AS pp
    FROM walk w
    JOIN aug a ON a.removed = w.removed AND a.dst = w.st
    WHERE w.it < {_MRA_K}
  )
  GROUP BY it, removed, src
),
fin AS (
  SELECT removed, p FROM walk
  WHERE it = {_MRA_K} AND st = 'START'
),
re AS (
  SELECT f.removed AS channel, f.p AS p_removed, b.p AS p_base,
         1.0 - f.p / b.p AS re
  FROM fin f, (SELECT p FROM fin WHERE removed = '__base__') b
  WHERE f.removed <> '__base__'
)
SELECT channel,
       ROUND(p_base, 6) AS p_base,
       ROUND(p_removed, 6) AS p_removed,
       ROUND(re, 6) AS removal_effect,
       ROUND(re / (SELECT sum(re) FROM re), 6) AS attribution_share
FROM re
ORDER BY channel
""",
)
def attribution_markov_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016), the
    "data-driven" model next to the positional heuristics
    (last-touch / linear / time-decay) and the game-theoretic Shapley
    one: journeys are 30-min-gap sessions truncated at the FIRST
    purchase (absorbing CONV) or terminated in an absorbing NULL
    state; a channel's credit is how much the chain's
    START→purchase absorption probability DROPS when the channel is
    removed (its in-edges redirect to NULL, its out-edges vanish),
    normalized across channels. Removing a channel can only lower
    conversion, so effects are nonnegative by construction.

    Determinism: transition probabilities are exact BIGINT-count
    ratios; absorption probabilities come from a FIXED {k}-round
    value iteration (geometric convergence leaves ~1e-16 by round
    {k}), replayed by the oracle as ONE joint recursive CTE over
    (removed_channel, state) — all removal scenarios walk in
    parallel, no per-channel SQL.

    Scale: the distributed work is the sessionize window + one
    groupBy collapsing the stream to |states|² transition counts
    (identical cost to markov_next_event); the scenario sweep and
    iterations run on the collected grid — driver arithmetic on
    sketch-sized state, the markov_conversion_horizon precedent
    (graph.py:1231). Thousands of channels would keep the grid
    metadata-sized; the |channels|+1 scenarios share the one
    grid."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events")
    seq = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts")
               > F.lag("ts").over(w)
               + F.expr(f"INTERVAL {_MRA_GAP_MIN} MINUTES")),
            1,
        ).otherwise(0).alias("new_sess"),
    )
    sess = seq.withColumn("sid", F.sum("new_sess").over(w))
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    pos = sess.select(
        "user_id", "sid", "event_type",
        F.row_number().over(ws).alias("rn"),
    )
    fp = pos.groupBy("user_id", "sid").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rn"))
        ).alias("prn"),
        F.max("rn").alias("lastrn"),
    )
    kept = (
        pos.join(fp, ["user_id", "sid"])
        .withColumn("endrn", F.coalesce("prn", "lastrn"))
        .filter(F.col("rn") <= F.col("endrn"))
    )
    a = kept.select("user_id", "sid", "event_type", "rn")
    b = kept.select(
        F.col("user_id").alias("u2"), F.col("sid").alias("s2"),
        F.col("event_type").alias("t2"), F.col("rn").alias("r2"),
    )
    raw_edges = (
        kept.filter(F.col("rn") == 1)
        .select(F.lit("START").alias("src"),
                F.col("event_type").alias("dst"))
        .unionAll(
            a.join(
                b,
                (F.col("u2") == F.col("user_id"))
                & (F.col("s2") == F.col("sid"))
                & (F.col("r2") == F.col("rn") + 1),
            ).select(F.col("event_type").alias("src"),
                     F.col("t2").alias("dst"))
        )
        .unionAll(
            kept.filter(
                (F.col("rn") == F.col("endrn"))
                & F.col("prn").isNull()
            ).select(F.col("event_type").alias("src"),
                     F.lit("__null__").alias("dst"))
        )
    )
    edges = raw_edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    # the same event-type state grid bound as the graph workloads
    # (imported here: a module-level import would register graph's
    # workloads first and reorder the registry)
    from datanika_core_spark.workloads.graph import GRID_MAX_EDGES

    rows = bounded_collect(edges, GRID_MAX_EDGES, "attribution state grid")
    wmap: dict[str, dict[str, int]] = {}
    states: set[str] = set()
    for r in rows:
        wmap.setdefault(r["src"], {})[r["dst"]] = int(r["w"])
        states.add(r["src"])
        states.add(r["dst"])
    channels = sorted(
        states - {"START", "purchase", "__null__"}
    )

    def absorb(removed: str | None) -> float:
        # scenario chain: drop edges FROM removed, redirect edges TO
        # removed into __null__, renormalize per src
        probs: dict[str, dict[str, float]] = {}
        for s in sorted(states):
            if s in ("purchase", "__null__") or s == removed:
                continue
            outs: dict[str, int] = {}
            for d, c in sorted(wmap.get(s, {}).items()):
                dd = "__null__" if d == removed else d
                outs[dd] = outs.get(dd, 0) + c
            tot = sum(outs.values())
            if tot:
                probs[s] = {d: c * 1.0 / tot
                            for d, c in sorted(outs.items())}
        p = {s: (1.0 if s == "purchase" else 0.0) for s in states}
        for _ in range(_MRA_K):
            p = {
                s: (
                    sum(pr * p[d] for d, pr in probs[s].items())
                    if s in probs else p[s]
                )
                for s in states
            }
        return p["START"]

    p_base = absorb(None)
    out_rows = []
    res = {c: 1.0 - absorb(c) / p_base for c in channels}
    tot_re = sum(res.values())
    for c in channels:
        out_rows.append(
            (
                c,
                round(p_base, 6),
                round(p_base * (1.0 - res[c]), 6),
                round(res[c], 6),
                round(res[c] / tot_re, 6),
            )
        )
    return spark.createDataFrame(
        out_rows,
        "channel string, p_base double, p_removed double,"
        " removal_effect double, attribution_share double",
    ).orderBy("channel")


attribution_markov_removal.__doc__ = (
    attribution_markov_removal.__doc__.replace("{k}", str(_MRA_K))
)
