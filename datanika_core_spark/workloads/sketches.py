"""Sketch-accelerated membership: a distributed Bloom filter built
from pure DataFrame ops, used to dedup an incoming document batch
against an existing corpus (beyond-reference, SURVEY.md §7 Phase 4).

This is the 100 TB incremental-ingest shape: the EXISTING corpus is
reduced once to a ~8 KB bitset (k=3 md5-derived bit positions per
doc, OR-combined per 64-bit word by a `bit_or` aggregation — a
map-side-combinable reduction to ≤1024 rows). The incoming batch
probes that bitset via a BROADCAST join on word index; only the tiny
candidate set that passes all k bit tests pays the exact-verification
join against the corpus. The corpus is scanned once and never
shuffled; the batch shuffles only its surviving candidates.

Spark 4 does not expose `bloom_filter_agg`/`might_contain` in the
public function registry (they are internal to runtime join
filtering), so the bitset is built explicitly — which also makes the
construction engine-portable and exactly reproducible.

Correctness: a Bloom filter admits false positives but never false
negatives, and every candidate is re-verified by an exact hash join —
so the final result equals the plain exact join, which is what the
DuckDB oracle computes directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload

_BF_K = 3            # hash functions per item
_BF_M = 64 * 1024    # bits (1024 longs ≈ 8 KB broadcast)

#: md5-derived bit position j for value x — Spark SQL fragment.
_S_POS = ("pmod(cast(conv(substring(md5(concat(cast({j} as string), ':', "
          "{x})),1,15),16,10) as bigint), {m})")


def _s_positions(x: str) -> str:
    """array<bigint> of the k bloom bit positions for value `x`."""
    elems = ", ".join(
        _S_POS.format(j=j, x=x, m=_BF_M) for j in range(_BF_K)
    )
    return f"array({elems})"


def _corpus_and_batch(spark: SparkSession, sf_dir: str):
    """(existing corpus, incoming batch): batch = every 10th doc
    verbatim (true duplicates, re-keyed +10000) ∪ every 7th doc with
    a novelty suffix (non-duplicates the bloom must reject — modulo
    false positives, which exact verification removes)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("text")
    )
    existing = docs.withColumn("th", F.md5("text"))
    batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 10000).alias("batch_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 20000).alias("batch_id"),
                F.concat(F.col("text"), F.lit(" #novel")).alias("text"),
            )
        )
        .withColumn("th", F.md5("text"))
    )
    return existing, batch


@workload(
    "bloom_dedup_incoming_batch",
    headline=True,
    oracle="""
WITH existing AS (
  SELECT doc_id, md5(lower(trim(text))) AS th FROM documents
), batch AS (
  SELECT doc_id + 10000 AS batch_id, md5(lower(trim(text))) AS th
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 20000 AS batch_id,
         md5(lower(trim(text)) || ' #novel') AS th
  FROM documents WHERE doc_id % 7 = 0
)
SELECT b.batch_id, e.doc_id AS keeper_id
FROM batch b JOIN existing e USING (th)
ORDER BY batch_id, keeper_id
""",
)
def bloom_dedup_incoming_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup: reduce the corpus to an
    8 KB bitset (k=3, m=65536), probe the incoming batch against the
    broadcast bitset, exact-verify the candidates. Result == exact
    join (no false negatives; false positives verified away)."""
    existing, batch = _corpus_and_batch(spark, sf_dir)

    # Corpus → bloom bitset, as ≤1024 (word, bits) rows. bit_or is
    # map-side combinable: each scan task emits ≤1024 partial words.
    # Positions hash the 32-char text digest `th`, not the full text:
    # one full-text md5 per doc total, the k position hashes are
    # constant-cost.
    words = (
        existing.select(
            F.explode(F.expr(_s_positions("th"))).alias("pos")
        )
        .select(
            F.expr("pos div 64").alias("word"),
            F.expr("shiftleft(1L, int(pmod(pos, 64)))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )

    # Batch probes: a row survives only if ALL k positions are set.
    probes = batch.select(
        "batch_id", "th",
        F.explode(F.expr(_s_positions("th"))).alias("pos"),
    ).select(
        "batch_id", "th",
        F.expr("pos div 64").alias("word"),
        F.expr("shiftleft(1L, int(pmod(pos, 64)))").alias("bit"),
    )
    candidates = (
        probes.join(F.broadcast(words), "word")  # bound: <= m/64 bitset words
        .filter((F.col("bits").bitwiseAND(F.col("bit"))) == F.col("bit"))
        .groupBy("batch_id", "th")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == _BF_K)
        .select("batch_id", "th")
    )

    # Exact verification: candidates ⋈ corpus on the text hash. The
    # candidate set is tiny post-bloom — broadcast it so the corpus
    # side streams through without a shuffle.
    return (
        existing.select(F.col("doc_id").alias("keeper_id"), "th")
        # bound: post-bloom candidates of one batch
        .join(F.broadcast(candidates), "th")
        .select("batch_id", "keeper_id")
        .orderBy("batch_id", "keeper_id")
    )


# --------------------------------------------------------------------------
# Count-Min Sketch: heavy-hitter estimation with measured overestimate.
# --------------------------------------------------------------------------

_CMS_W = 256   # buckets per row
_CMS_D = 4     # hash rows (estimate = min over rows)
_CMS_TOPK = 20

_CMS_O_HASH = "('0x'||substring(md5({x}),1,15))::BIGINT"


def _cms_spark_hash(x: str) -> str:
    return f"cast(conv(substring(md5({x}),1,15),16,10) as bigint)"


@workload(
    "cms_heavy_hitters_eval",
    oracle=f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
exact AS (
  SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok
),
cms AS (
  SELECT d, {_CMS_O_HASH.format(x="CAST(d AS VARCHAR) || ':' || tok")}
           % {_CMS_W} AS bucket,
         count(*) AS cnt
  FROM toks CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS d)
  GROUP BY 1, 2
),
top AS (
  SELECT tok, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, tok LIMIT {_CMS_TOPK}
),
est AS (
  SELECT t.tok, t.exact_cnt, min(c.cnt) AS cms_est
  FROM top t
  JOIN cms c
    ON c.bucket = {_CMS_O_HASH.format(
        x="CAST(c.d AS VARCHAR) || ':' || t.tok")} % {_CMS_W}
  GROUP BY t.tok, t.exact_cnt
)
SELECT tok,
       CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overestimate
FROM est
ORDER BY exact_cnt DESC, tok
""",
)
def cms_heavy_hitters_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (Cormode & Muthukrishnan 2005) over corpus
    tokens — the fixed-size (d×w counters), mergeable frequency
    sketch that answers heavy-hitter queries without holding the
    full token dictionary — evaluated against exact counts for the
    top-{_CMS_TOPK} tokens. CMS never underestimates; the
    `overestimate` column IS the sketch's collision error at this
    (256×4) sizing, measured not assumed (same self-measurement
    pattern as the LSH/IVF recall evals).

    Scale: the sketch build is explode ×{_CMS_D} → groupBy(d,bucket)
    — combiner-collapsed to ≤{_CMS_D}×{_CMS_W} rows regardless of
    corpus size, then broadcast for estimation. Hashes are
    md5-derived so the DuckDB oracle reproduces the sketch
    bit-for-bit (including its collisions)."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    depths = spark.range(_CMS_D).select(
        F.col("id").cast("int").alias("d")
    )
    bucket = (
        F.expr(_cms_spark_hash("concat(cast(d as string), ':', tok)"))
        % _CMS_W
    )
    cms = (
        toks.crossJoin(depths)
        .select("tok", "d")
        .withColumn("bucket", bucket)
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = exact.orderBy(F.col("exact_cnt").desc(), "tok").limit(_CMS_TOPK)
    probes = top.withColumn(
        "d", F.explode(F.expr(f"sequence(0, {_CMS_D - 1})"))
    ).withColumn("bucket", bucket)
    return (
        # bound: <= d x w counters, fixed by the sketch shape
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "tok",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.col("exact_cnt").desc(), "tok")
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch with measured error.
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_SCALE = float(1 << 60)  # hash domain: 15 hex digits = 60 bits


@workload(
    "distinct_kmv_estimate",
    oracle=rf"""
WITH toks AS (
  SELECT DISTINCT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
           AS tok
  FROM documents
),
hashed AS (
  SELECT DISTINCT ('0x'||substring(md5(tok),1,15))::BIGINT AS h
  FROM toks WHERE tok <> ''
),
exact AS (
  SELECT count(*) AS n_exact FROM toks WHERE tok <> ''
),
kth AS (
  SELECT max(h) AS hk FROM (
    SELECT h FROM hashed ORDER BY h LIMIT {_KMV_K}
  )
),
est AS (
  SELECT CAST(round(({_KMV_K} - 1) * {_KMV_SCALE!r} / hk) AS BIGINT)
           AS n_est
  FROM kth
)
SELECT CAST({_KMV_K} AS BIGINT) AS k,
       CAST(n_exact AS BIGINT) AS n_exact,
       n_est,
       ROUND(abs(n_est - n_exact) * 1.0 / n_exact, 6) AS rel_err
FROM exact, est
""",
)
def distinct_kmv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) cardinality sketch over the corpus
    vocabulary, scored against the exact distinct count it
    approximates: hash every token to 60 uniform bits (the repo's
    engine-portable md5 convention), keep the k = 64 smallest
    distinct hash values, and estimate |V| ≈ (k−1)·2⁶⁰/h₍ₖ₎ — the
    classic order-statistics estimator (Bar-Yossef et al. 2002,
    Beyer et al. 2007). Both engines compute the identical hashes,
    so the estimate AND its relative error are deterministic — the
    sketch's accuracy is part of the checked result, the same
    self-measurement convention as the CMS and histogram-AUC
    workloads.

    Scale: this is the distinct-count shape that replaces a global
    COUNT(DISTINCT) shuffle at 100 TB — k-smallest is
    TakeOrdered(k): each task forwards at most k candidate hashes,
    so the merge is k·partitions rows regardless of corpus size
    (the exact branch here exists only to measure the error; a
    production pipeline runs the sketch alone). Duplicate hashes
    collapse before the take so a hot token can't occupy two of the
    k slots."""
    docs = t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    hashed = toks.select(
        F.expr(_cms_spark_hash("tok")).alias("h")
    ).distinct()
    exact = toks.agg(F.count(F.lit(1)).alias("n_exact"))
    kth = (
        hashed.orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").alias("hk"))
    )
    est = kth.select(
        F.round(F.lit(_KMV_K - 1) * F.lit(_KMV_SCALE) / F.col("hk"))
        .cast("bigint")
        .alias("n_est")
    )
    return exact.crossJoin(est).select(
        F.lit(_KMV_K).cast("bigint").alias("k"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        "n_est",
        F.round(
            F.abs(F.col("n_est") - F.col("n_exact"))
            * 1.0
            / F.col("n_exact"),
            6,
        ).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# Rolling distinct count via MERGED per-day KMV sketches.
# --------------------------------------------------------------------------

_RK = 32  # per-day sketch size


@workload(
    "rolling_distinct_users_kmv",
    oracle=f"""
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
         ('0x'||substring(md5('u-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT AS h
  FROM events
),
bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM du),
day_sketch AS (
  SELECT day, h FROM (
    SELECT day, h,
           row_number() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM du
  ) WHERE rn <= {_RK}
),
win_cand AS (
  SELECT day + o * INTERVAL 1 DAY AS w, h
  FROM day_sketch CROSS JOIN (SELECT unnest(range(0, 7)) AS o)
),
win_kmin AS (
  SELECT w, h FROM (
    SELECT w, h, row_number() OVER (PARTITION BY w ORDER BY h) AS rn
    FROM (SELECT DISTINCT w, h FROM win_cand)
  ) WHERE rn <= {_RK}
),
win_est AS (
  SELECT w, count(*) AS n_seen, max(h) AS hk
  FROM win_kmin GROUP BY w
),
exact AS (
  SELECT w, count(DISTINCT h) AS n_exact FROM (
    SELECT day + o * INTERVAL 1 DAY AS w, h
    FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS o)
  ) GROUP BY w
)
SELECT CAST(e.w AS DATE) AS window_end,
       CAST(x.n_exact AS BIGINT) AS n_exact,
       CAST(CASE WHEN e.n_seen < {_RK} THEN e.n_seen
                 ELSE CAST(round(({_RK} - 1) * {_KMV_SCALE!r} / e.hk)
                           AS BIGINT) END AS BIGINT) AS n_est,
       ROUND(abs(CASE WHEN e.n_seen < {_RK} THEN e.n_seen
                      ELSE CAST(round(({_RK} - 1) * {_KMV_SCALE!r} / e.hk)
                                AS BIGINT) END - x.n_exact)
             * 1.0 / x.n_exact, 6) AS rel_err
FROM win_est e
JOIN exact x ON x.w = e.w
CROSS JOIN bounds b
WHERE CAST(e.w AS DATE) BETWEEN b.mn + 6 AND b.mx
ORDER BY window_end
""",
)
def rolling_distinct_users_kmv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day distinct users from MERGED per-day KMV sketches —
    the mergeability property that makes sketches matter at scale:
    each day reduces to its {_RK} smallest distinct user-hashes once,
    and every rolling window unions seven ≤{_RK}-row sketches and
    re-takes the k minimum (k-min of a union == k-min of merged
    k-mins), so the window never revisits user-level data. When the
    union holds fewer than k values the sketch is exhaustive and the
    estimate is exact; otherwise (k−1)·2⁶⁰/h₍ₖ₎. The exact windowed
    COUNT DISTINCT rides along so every window's relative error is
    part of the checked result (the same self-measurement convention
    as the global KMV and CMS workloads).

    Scale: the per-day reduction is the only pass over events; daily
    sketches are k rows/day forever after — a year of rolling
    windows reprocesses 365·k rows, not the event log. This is the
    exact pattern `approx_count_distinct` partials implement inside
    Spark, here materialized as a first-class, restartable table."""
    from pyspark.sql import Window

    du = (
        t(spark, sf_dir, "events")
        .select(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            F.expr(
                _cms_spark_hash("concat('u-', cast(user_id as string))")
            ).alias("h"),
        )
        .distinct()
    )
    bounds = du.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    wday = Window.partitionBy("day").orderBy("h")
    day_sketch = (
        du.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= _RK)
        .select("day", "h")
    )
    offsets = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o")
    win_cand = (
        day_sketch.select("day", "h", offsets)
        .select(F.expr("date_add(day, o)").alias("w"), "h")
        .distinct()
    )
    wwin = Window.partitionBy("w").orderBy("h")
    win_est = (
        win_cand.withColumn("rn", F.row_number().over(wwin))
        .filter(F.col("rn") <= _RK)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("h").alias("hk"))
    )
    exact = (
        du.select("day", "h", offsets)
        .select(F.expr("date_add(day, o)").alias("w"), "h")
        .groupBy("w")
        .agg(F.countDistinct("h").alias("n_exact"))
        .withColumnRenamed("w", "x_w")
    )
    est = F.when(
        F.col("n_seen") < _RK, F.col("n_seen")
    ).otherwise(
        F.round(F.lit(_RK - 1) * F.lit(_KMV_SCALE) / F.col("hk"))
        .cast("bigint")
    ).cast("bigint")
    return (
        win_est.join(exact, F.col("w") == F.col("x_w"))
        .crossJoin(bounds)
        .filter(
            (F.col("w") >= F.expr("date_add(mn, 6)"))
            & (F.col("w") <= F.col("mx"))
        )
        .select(
            F.col("w").alias("window_end"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            est.alias("n_est"),
            F.round(
                F.abs(est - F.col("n_exact")) * 1.0 / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
        .orderBy("window_end")
    )


@workload(
    "distinct_users_by_type_kmv",
    oracle=f"""
WITH du AS (
  SELECT DISTINCT event_type,
         ('0x'||substring(md5('u-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT AS h
  FROM events
),
kmin AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM du
  ) WHERE rn <= {_RK}
),
est AS (
  SELECT event_type, count(*) AS n_seen, max(h) AS hk
  FROM kmin GROUP BY event_type
),
exact AS (
  SELECT event_type, count(*) AS n_exact FROM du GROUP BY event_type
)
SELECT e.event_type,
       CAST(x.n_exact AS BIGINT) AS n_exact,
       CAST(CASE WHEN e.n_seen < {_RK} THEN e.n_seen
                 ELSE CAST(round(({_RK} - 1) * {_KMV_SCALE!r} / e.hk)
                           AS BIGINT) END AS BIGINT) AS n_est,
       ROUND(abs(CASE WHEN e.n_seen < {_RK} THEN e.n_seen
                      ELSE CAST(round(({_RK} - 1) * {_KMV_SCALE!r} / e.hk)
                                AS BIGINT) END - x.n_exact)
             * 1.0 / x.n_exact, 6) AS rel_err
FROM est e JOIN exact x ON x.event_type = e.event_type
ORDER BY e.event_type
""",
)
def distinct_users_by_type_kmv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group KMV: distinct users per event type from one sketch
    pass — the GROUP BY x COUNT(DISTINCT y) shape that at scale
    turns into a two-level shuffle (distinct pairs, then regroup);
    the sketch caps every group's state at k = {_RK} hashes however
    many users the group has, going exact below k. Per-group
    relative error is part of the checked result, measured against
    the exact pair-distinct count the sketch replaces.

    Scale: identical partial-aggregation shape to
    `approx_count_distinct`, materialized and restartable — per-group
    sketches persist and merge with tomorrow's (see the rolling
    7-day workload for the merge form)."""
    from pyspark.sql import Window

    du = (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(
                _cms_spark_hash("concat('u-', cast(user_id as string))")
            ).alias("h"),
        )
        .distinct()
    )
    wg = Window.partitionBy("event_type").orderBy("h")
    est = (
        du.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= _RK)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("h").alias("hk"))
    )
    exact = du.groupBy(F.col("event_type").alias("x_type")).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_est = F.when(
        F.col("n_seen") < _RK, F.col("n_seen")
    ).otherwise(
        F.round(F.lit(_RK - 1) * F.lit(_KMV_SCALE) / F.col("hk"))
        .cast("bigint")
    ).cast("bigint")
    return (
        est.join(exact, F.col("event_type") == F.col("x_type"))
        .select(
            "event_type",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            n_est.alias("n_est"),
            F.round(
                F.abs(n_est - F.col("n_exact")) * 1.0 / F.col("n_exact"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Bottom-k order-statistics quantile sketch (mergeable, self-measuring).
# --------------------------------------------------------------------------

_QS_K = 256
# 1-based sample index for quantile q: ceil(q*k), computed in exact
# integer arithmetic at module load (a float ceil can land one short)
_QS_IDX = {
    "50": -(-1 * _QS_K // 2),     # 128
    "90": -(-9 * _QS_K // 10),    # 231
    "99": -(-99 * _QS_K // 100),  # 254
}


@workload(
    "quantile_bottomk_sketch",
    oracle=f"""
WITH hashed AS (
  SELECT event_id, value,
         ('0x'||substring(md5(event_id::VARCHAR),1,15))::BIGINT AS h
  FROM events
),
samp AS (
  SELECT value FROM hashed ORDER BY h, event_id LIMIT {_QS_K}
),
sorted AS (
  SELECT value, row_number() OVER (ORDER BY value) AS r FROM samp
),
est AS (
  SELECT
    (SELECT value FROM sorted WHERE r = {_QS_IDX["50"]}) AS q50_est,
    (SELECT value FROM sorted WHERE r = {_QS_IDX["90"]}) AS q90_est,
    (SELECT value FROM sorted WHERE r = {_QS_IDX["99"]}) AS q99_est
),
ranks AS (
  SELECT count(*) AS n,
         sum(CASE WHEN value <= e.q50_est THEN 1 ELSE 0 END) AS le50,
         sum(CASE WHEN value <= e.q90_est THEN 1 ELSE 0 END) AS le90,
         sum(CASE WHEN value <= e.q99_est THEN 1 ELSE 0 END) AS le99
  FROM events CROSS JOIN est e
)
SELECT CAST({_QS_K} AS BIGINT) AS k,
       CAST(n AS BIGINT) AS n_events,
       ROUND(e.q50_est, 6) AS q50_est,
       ROUND(abs(le50 * 1.0 / n - 0.5), 6) AS q50_rank_err,
       ROUND(e.q90_est, 6) AS q90_est,
       ROUND(abs(le90 * 1.0 / n - 0.9), 6) AS q90_rank_err,
       ROUND(e.q99_est, 6) AS q99_est,
       ROUND(abs(le99 * 1.0 / n - 0.99), 6) AS q99_rank_err
FROM ranks, est e
""",
)
def quantile_bottomk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch from a bottom-k-by-hash sample: the
    k = 256 events with the smallest 60-bit md5(event_id) form a
    uniform fixed-size sample whose ORDER STATISTICS estimate any
    quantile (est_q = sample value at rank ceil(q·k), integer-exact
    index); the reported per-quantile rank error |F̂(est) − q| is
    measured against the full table — the KMV self-measurement
    convention applied to quantiles (binomial stderr ≈ sqrt(q(1−q)/k):
    3.1% at q50, 1.9% at q90, 0.6% at q99; measured at sf0.1 the
    rank errors are 3.7%/3.7%/0.4% — 1.2σ/2.0σ/0.7σ, inside the
    ±2σ band a 256-row sample promises).

    Mergeability is the point (the t-digest use case without a
    custom centroid codec): bottom-k of a union is the k smallest of
    the per-part bottom-k's, so per-day/per-partition sketches merge
    losslessly — the Spark plan computes the sample through a
    per-day prefilter (rank ≤ k within day) and merges with one
    global TakeOrdered(k); the oracle takes the DIRECT global
    bottom-k, and the driver's hash-equality between the two IS the
    merge-losslessness proof, checked at every run.

    Scale: each task forwards ≤ k rows (TakeOrdered), the sort/rank
    work runs on ≤ k·days rows, and the only full-table passes are
    the scan that feeds the per-day windows and the single-pass
    conditional-count rank check (production drops the check). No
    full-table sort anywhere — the thing a naive percentile at
    100 TB would do."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "event_id", "value", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    hashed = ev.select(
        "day", "event_id", "value",
        F.expr(_cms_spark_hash("cast(event_id as string)")).alias("h"),
    )
    wday = Window.partitionBy("day").orderBy("h", "event_id")
    perday = (
        hashed.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= _QS_K)
        .select("event_id", "value", "h")
    )
    samp = perday.orderBy("h", "event_id").limit(_QS_K).select("value")
    sorted_s = samp.select(
        "value", F.row_number().over(Window.orderBy("value")).alias("r")
    )
    est = (
        sorted_s.agg(
            F.max(F.when(F.col("r") == _QS_IDX["50"], F.col("value")))
            .alias("q50_est"),
            F.max(F.when(F.col("r") == _QS_IDX["90"], F.col("value")))
            .alias("q90_est"),
            F.max(F.when(F.col("r") == _QS_IDX["99"], F.col("value")))
            .alias("q99_est"),
        )
    )
    ranks = (
        ev.crossJoin(est)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") <= F.col("q50_est"), 1)
                  .otherwise(0)).alias("le50"),
            F.sum(F.when(F.col("value") <= F.col("q90_est"), 1)
                  .otherwise(0)).alias("le90"),
            F.sum(F.when(F.col("value") <= F.col("q99_est"), 1)
                  .otherwise(0)).alias("le99"),
            F.max("q50_est").alias("q50_est"),
            F.max("q90_est").alias("q90_est"),
            F.max("q99_est").alias("q99_est"),
        )
    )
    return ranks.select(
        F.lit(_QS_K).cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n_events"),
        F.round("q50_est", 6).alias("q50_est"),
        F.round(F.abs(F.col("le50") * 1.0 / F.col("n") - 0.5), 6)
        .alias("q50_rank_err"),
        F.round("q90_est", 6).alias("q90_est"),
        F.round(F.abs(F.col("le90") * 1.0 / F.col("n") - 0.9), 6)
        .alias("q90_rank_err"),
        F.round("q99_est", 6).alias("q99_est"),
        F.round(F.abs(F.col("le99") * 1.0 / F.col("n") - 0.99), 6)
        .alias("q99_rank_err"),
    )


# --------------------------------------------------------------------------
# Per-group bottom-k quantile sketches (GROUP BY x quantiles, one pass).
# --------------------------------------------------------------------------

_QG_K = 128
_QG_IDX = {
    "50": -(-1 * _QG_K // 2),     # 64
    "90": -(-9 * _QG_K // 10),    # 116
}


@workload(
    "quantile_bottomk_per_group",
    oracle=f"""
WITH hashed AS (
  SELECT event_type, event_id, value,
         ('0x'||substring(md5(event_id::VARCHAR),1,15))::BIGINT AS h
  FROM events
),
samp AS (
  SELECT event_type, value FROM (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY h, event_id) AS rn
    FROM hashed
  ) WHERE rn <= {_QG_K}
),
sorted AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value) AS r
  FROM samp
),
est AS (
  SELECT event_type,
         max(CASE WHEN r = {_QG_IDX["50"]} THEN value END) AS q50_est,
         max(CASE WHEN r = {_QG_IDX["90"]} THEN value END) AS q90_est
  FROM sorted GROUP BY event_type
),
ranks AS (
  SELECT ev.event_type,
         count(*) AS n,
         sum(CASE WHEN ev.value <= e.q50_est THEN 1 ELSE 0 END) AS le50,
         sum(CASE WHEN ev.value <= e.q90_est THEN 1 ELSE 0 END) AS le90,
         max(e.q50_est) AS q50_est,
         max(e.q90_est) AS q90_est
  FROM events ev JOIN est e ON ev.event_type = e.event_type
  GROUP BY ev.event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       ROUND(q50_est, 6) AS q50_est,
       ROUND(abs(le50 * 1.0 / n - 0.5), 6) AS q50_rank_err,
       ROUND(q90_est, 6) AS q90_est,
       ROUND(abs(le90 * 1.0 / n - 0.9), 6) AS q90_rank_err
FROM ranks
ORDER BY event_type
""",
)
def quantile_bottomk_per_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUP BY × quantiles in ONE sketch pass — the per-group twin
    of quantile_bottomk_sketch (the shape that replaces a per-group
    global sort at 100 TB: one window keeps each type's k = 128
    smallest-hash rows, order statistics give q50/q90 per type, and
    the self-measured rank error is checked per group, exactly the
    distinct_users_by_type_kmv convention applied to quantiles).

    Scale: one shuffle on event_type for the bottom-k window (each
    task pre-prunes to its local k per type before the exchange at
    real scale — rank-over-window degrades gracefully; swap for a
    groupBy collect_list+slice if a type's row count per task
    explodes), the order-statistics window runs on ≤ k·|types| rows,
    and the rank check is the same single-pass conditional agg."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    hashed = ev.withColumn(
        "h", F.expr(_cms_spark_hash("cast(event_id as string)"))
    )
    wk = Window.partitionBy("event_type").orderBy("h", "event_id")
    samp = (
        hashed.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _QG_K)
        .select("event_type", "value")
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    est = (
        samp.withColumn("r", F.row_number().over(wv))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("r") == _QG_IDX["50"], F.col("value")))
            .alias("q50_est"),
            F.max(F.when(F.col("r") == _QG_IDX["90"], F.col("value")))
            .alias("q90_est"),
        )
    )
    return (
        ev.join(F.broadcast(est), "event_type")  # bound: <= |event_type| rows
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") <= F.col("q50_est"), 1)
                  .otherwise(0)).alias("le50"),
            F.sum(F.when(F.col("value") <= F.col("q90_est"), 1)
                  .otherwise(0)).alias("le90"),
            F.max("q50_est").alias("q50_est"),
            F.max("q90_est").alias("q90_est"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.round("q50_est", 6).alias("q50_est"),
            F.round(F.abs(F.col("le50") * 1.0 / F.col("n") - 0.5), 6)
            .alias("q50_rank_err"),
            F.round("q90_est", 6).alias("q90_est"),
            F.round(F.abs(F.col("le90") * 1.0 / F.col("n") - 0.9), 6)
            .alias("q90_rank_err"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# t-digest-compatible centroid export from the bottom-k sample.
# --------------------------------------------------------------------------

# k1 scale function (Dunning & Ertl, "Computing extremely accurate
# quantiles using t-digests", arXiv:1902.04023), delta = 32, shifted
# to start at 0: k(q) = (delta/2pi) * (asin(2q-1) + pi/2), range
# [0, delta/2]. Cluster id = floor(k(q)) snapped at 6 dp first, so a
# boundary-grazing asin ulp can't split a centroid across engines.
# All literals are integer-CAST-double: Spark SQL parses `32.0` as
# DECIMAL and decimal arithmetic drifts from DuckDB's doubles (the
# shared-fragment convention from the EWMA rewrite).
_TD_SCALE = (
    "cast(floor(round((cast(32 as double) / (2 * pi())) * "
    "(asin((2 * {r} - 1) / cast(256 as double) - 1) + pi() / 2), 6)) "
    "as bigint)"
)


@workload(
    "quantile_tdigest_export",
    oracle=f"""
WITH hashed AS (
  SELECT event_id, value,
         ('0x'||substring(md5(event_id::VARCHAR),1,15))::BIGINT AS h
  FROM events
),
samp AS (
  SELECT value FROM hashed ORDER BY h, event_id LIMIT {_QS_K}
),
sorted AS (
  SELECT value, row_number() OVER (ORDER BY value) AS r FROM samp
),
clustered AS (
  SELECT {_TD_SCALE.format(r='r')} AS centroid, value FROM sorted
)
SELECT centroid,
       CAST(count(*) AS BIGINT) AS weight,
       ROUND(avg(value), 6) AS v_mean,
       ROUND(min(value), 6) AS v_min,
       ROUND(max(value), 6) AS v_max
FROM clustered
GROUP BY centroid
ORDER BY centroid
""",
)
def quantile_tdigest_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest-compatible centroid export (Dunning & Ertl,
    arXiv:1902.04023) of the bottom-k quantile sample: sort the
    k = {_QS_K} bottom-k-by-hash sample, map each rank's midpoint
    quantile q = (2r-1)/2k through the k1 scale function
    k(q) = (delta/2pi)(asin(2q-1) + pi/2) with delta = 32, and group
    by floor(k(q)) — the canonical t-digest sizing: clusters are
    narrow at the tails (singleton-ish near q=0,1) and wide at the
    median, so tail quantiles read back with far better relative
    accuracy than uniform binning at equal budget. Each centroid row
    is (weight, mean, min, max) — exactly what a t-digest consumer
    (monitoring backends, percentile dashboards) merges, with no
    custom codec: any engine that can groupBy can re-aggregate these.

    Why from the bottom-k sample: the sample is DETERMINISTIC (k
    smallest md5 hashes) and mergeable across partitions/days, so the
    exported digest is reproducible bit-for-bit across engines — the
    oracle builds the identical digest from the identical sample and
    the driver hash-compare proves it. A native t-digest's centroids
    depend on insertion order (the classic non-determinism complaint);
    snapping the digest to a deterministic sample trades a bounded
    extra sampling error (binomial, self-measured by
    quantile_bottomk_sketch's rank-error columns) for exact
    reproducibility — the right trade for a data-quality artifact
    that diffs across runs.

    Scale: identical to quantile_bottomk_sketch (per-day bottom-k
    prefilter, one TakeOrdered(k) merge); the digest construction
    itself runs on k = 256 rows — free. The export is ~16 rows
    (delta/2 clusters): small enough to broadcast back into any scan
    as approximate-percentile literals."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "event_id", "value", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    hashed = ev.select(
        "day", "event_id", "value",
        F.expr(_cms_spark_hash("cast(event_id as string)")).alias("h"),
    )
    wday = Window.partitionBy("day").orderBy("h", "event_id")
    perday = (
        hashed.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= _QS_K)
        .select("event_id", "value", "h")
    )
    samp = perday.orderBy("h", "event_id").limit(_QS_K).select("value")
    sorted_s = samp.select(
        "value", F.row_number().over(Window.orderBy("value")).alias("r")
    )
    clustered = sorted_s.select(
        F.expr(_TD_SCALE.format(r="r")).alias("centroid"), "value"
    )
    return (
        clustered.groupBy("centroid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("weight"),
            F.round(F.avg("value"), 6).alias("v_mean"),
            F.round(F.min("value"), 6).alias("v_min"),
            F.round(F.max("value"), 6).alias("v_max"),
        )
        .orderBy("centroid")
    )


# --------------------------------------------------------------------------
# HyperLogLog distinct-count per group, with mergeability proof.
# --------------------------------------------------------------------------

_HLL_M = 64          # registers (b = 6 bucket bits)
_HLL_ALPHA = 0.709   # alpha_64 (Flajolet et al. 2007, m = 64)
_HLL_WBITS = 54      # value bits after the 6 bucket bits of the 60-bit hash
_HLL_SCALE = 1 << (_HLL_WBITS + 1)  # 2^55: integer-exact Z accumulator

#: rank of the first set bit in the 54-bit value window (1-based;
#: all-zero window -> 55). bin() returns the minimal binary string in
#: BOTH engines, so 55 - length(bin(w)) is engine-exact integer math.
_HLL_RHO = ("cast(case when w = 0 then 55"
            " else 55 - length(bin(w)) end as int)")

#: raw HLL estimate from the integer-exact Z accumulator: every
#: 2^-M_j term is scaled to the integer 2^(55-M_j) (M_j <= 55), so
#: the register sum is EXACT BIGINT arithmetic and both engines
#: divide the identical pair of doubles — the only float ops are one
#: multiply chain and one division, in forced order.
_S_HLL_EST = ("((0.709D * 4096.0D) * 36028797018963968.0D)"
              " / cast(zsum as double)")
_O_HLL_EST = ("((CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE))"
              " * CAST(36028797018963968 AS DOUBLE))"
              " / CAST(zsum AS DOUBLE)")
#: small-range (linear counting) correction, identical branch rule:
#: raw <= 5/2·m and at least one empty register.
_S_HLL_CORR = (f"case when ({_S_HLL_EST}) <= 160.0D and v > 0"
               f" then 64.0D * ln(64.0D / cast(v as double))"
               f" else ({_S_HLL_EST}) end")
_O_HLL_CORR = (f"CASE WHEN ({_O_HLL_EST}) <= CAST(160 AS DOUBLE) AND v > 0"
               f" THEN CAST(64 AS DOUBLE)"
               f"      * ln(CAST(64 AS DOUBLE) / CAST(v AS DOUBLE))"
               f" ELSE ({_O_HLL_EST}) END")


@workload(
    "hll_distinct_users_by_type",
    oracle=f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events
),
hashed AS (
  SELECT event_type, day,
         ('0x'||substring(md5(user_id::VARCHAR),1,15))::BIGINT AS h
  FROM ev
),
parts AS (
  SELECT event_type, day, h % 64 AS j, h // 64 AS w FROM hashed
),
rho AS (
  SELECT event_type, day, j, {_HLL_RHO} AS r FROM parts
),
regs_day AS (
  SELECT event_type, day, j, max(r) AS m_rho FROM rho
  GROUP BY event_type, day, j
),
regs_direct AS (
  SELECT event_type, j, max(r) AS m_rho FROM rho GROUP BY event_type, j
),
regs_merged AS (
  SELECT event_type, j, max(m_rho) AS m_rho FROM regs_day
  GROUP BY event_type, j
),
grid AS (
  SELECT DISTINCT event_type, jj.j FROM ev,
         (SELECT unnest(range(0, 64)) AS j) jj
),
acc_direct AS (
  SELECT g.event_type,
         CAST(sum(1::BIGINT << (55 - coalesce(r.m_rho, 0))) AS BIGINT)
           AS zsum,
         CAST(sum(CASE WHEN r.m_rho IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v
  FROM grid g LEFT JOIN regs_direct r
    ON r.event_type = g.event_type AND r.j = g.j
  GROUP BY g.event_type
),
acc_merged AS (
  SELECT g.event_type,
         CAST(sum(1::BIGINT << (55 - coalesce(r.m_rho, 0))) AS BIGINT)
           AS zsum,
         CAST(sum(CASE WHEN r.m_rho IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v
  FROM grid g LEFT JOIN regs_merged r
    ON r.event_type = g.event_type AND r.j = g.j
  GROUP BY g.event_type
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM ev GROUP BY event_type
),
est AS (
  SELECT d.event_type,
         ROUND({_O_HLL_CORR.replace('zsum', 'd.zsum').replace(' v ', ' d.v ').replace('(v ', '(d.v ')}, 4) AS n_est_hll,
         ROUND({_O_HLL_CORR.replace('zsum', 'm.zsum').replace(' v ', ' m.v ').replace('(v ', '(m.v ')}, 4) AS n_est_merged
  FROM acc_direct d JOIN acc_merged m ON m.event_type = d.event_type
)
SELECT x.event_type, x.n_exact, e.n_est_hll,
       ROUND(abs(e.n_est_hll - x.n_exact) / x.n_exact, 6) AS rel_err,
       e.n_est_merged,
       e.n_est_merged = e.n_est_hll AS merge_lossless
FROM exact x JOIN est e ON e.event_type = x.event_type
ORDER BY x.event_type
""",
)
def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event type (Flajolet et al.
    2007; m = 64 registers over the engine-portable 60-bit md5 hash:
    6 bucket bits + 54 value bits), scored against the exact
    COUNT(DISTINCT) it replaces, with the standard linear-counting
    small-range correction and a MERGEABILITY PROOF: per-day
    sketches max-merged into the global registers must yield the
    bit-identical estimate (``merge_lossless``) — the property that
    lets 100 TB of daily partitions keep 64-byte sketch rows instead
    of re-scanning history for every distinct-count refresh.

    Engine-exactness: the register sum Z is accumulated as EXACT
    integers (2^(55-M_j) summed in BIGINT — no float summation-order
    drift), bit ranks come from length(bin(w)) (minimal binary
    string in both engines), and the only float ops are one ordered
    multiply chain, a division, and the ln() of the correction
    branch (same libm) — so estimate, error, and the merge flag are
    all deterministic and value-hash-checked.

    Scale: sketch build is one map-side-combinable groupBy to
    |types|×64 register rows; the exact branch exists only to score
    the error (production runs the sketch alone — COUNT(DISTINCT)
    at 100 TB is exactly the shuffle this replaces). Register
    merging is an abelian max — the same IVM-friendly shape as the
    KMV/CMS/t-digest stores."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    hashed = ev.select(
        "event_type", "day",
        F.expr(_cms_spark_hash("cast(user_id as string)")).alias("h"),
    )
    rho = hashed.select(
        "event_type", "day",
        (F.col("h") % 64).alias("j"),
        F.expr("h div 64").alias("w"),
    ).select("event_type", "day", "j", F.expr(_HLL_RHO).alias("r"))
    regs_day = rho.groupBy("event_type", "day", "j").agg(
        F.max("r").alias("m_rho")
    )
    regs_direct = rho.groupBy("event_type", "j").agg(
        F.max("r").alias("m_rho")
    )
    regs_merged = regs_day.groupBy("event_type", "j").agg(
        F.max("m_rho").alias("m_rho")
    )
    grid = (
        ev.select("event_type").distinct()
        .select("event_type",
                F.explode(F.sequence(F.lit(0), F.lit(63))).alias("j"))
    )

    def acc(regs: DataFrame) -> DataFrame:
        return (
            grid.join(regs, ["event_type", "j"], "left")
            .groupBy("event_type")
            .agg(
                F.expr("cast(sum(shiftleft(1L, 55 - coalesce(m_rho, 0)))"
                       " as bigint)").alias("zsum"),
                F.expr("cast(sum(case when m_rho is null then 1 else 0 end)"
                       " as bigint)").alias("v"),
            )
        )

    est_d = acc(regs_direct).select(
        "event_type", F.round(F.expr(_S_HLL_CORR), 4).alias("n_est_hll")
    )
    est_m = acc(regs_merged).select(
        "event_type", F.round(F.expr(_S_HLL_CORR), 4).alias("n_est_merged")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    return (
        exact.join(est_d, "event_type").join(est_m, "event_type")
        .select(
            "event_type", "n_exact", "n_est_hll",
            F.round(F.abs(F.col("n_est_hll") - F.col("n_exact"))
                    / F.col("n_exact"), 6).alias("rel_err"),
            "n_est_merged",
            (F.col("n_est_merged") == F.col("n_est_hll"))
            .alias("merge_lossless"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Join-size estimation via CMS inner product (the plan-an-expensive-
# join-before-running-it advisor).
# --------------------------------------------------------------------------


@workload(
    "join_size_estimate_cms",
    oracle=f"""
WITH keys AS (
  SELECT CAST(l_partkey AS VARCHAR) AS tok FROM lineitem
),
exact AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(c * c) AS BIGINT) AS exact_join_rows
  FROM (SELECT tok, count(*) AS c FROM keys GROUP BY tok)
),
cms AS (
  SELECT d, {_CMS_O_HASH.format(x="CAST(d AS VARCHAR) || ':' || tok")}
           % {_CMS_W} AS bucket,
         count(*) AS cnt
  FROM keys CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS d)
  GROUP BY 1, 2
),
est AS (
  SELECT CAST(min(ip) AS BIGINT) AS cms_est_rows FROM (
    SELECT d, sum(cnt * cnt) AS ip FROM cms GROUP BY d
  )
)
SELECT e.n_rows, e.n_keys, e.exact_join_rows, s.cms_est_rows,
       ROUND(CAST(s.cms_est_rows AS DOUBLE) / e.exact_join_rows, 6)
         AS over_ratio
FROM exact e CROSS JOIN est s
""",
)
def join_size_estimate_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation by CMS inner product (AMS-style
    second-moment sketch, Alon-Matias-Szegedy 1996 via the CMS
    formulation of Cormode & Muthukrishnan 2005): the output size of
    lineitem ⋈ lineitem on l_partkey — the co-purchase join the
    triangle/basket workloads actually run — is Σ_k c_k², and the
    sketch estimates it as min over the d counter rows of
    Σ_b cnt[d,b]² WITHOUT holding the key dictionary. CMS inner
    products never underestimate, so est/exact (`over_ratio`) is the
    sketch's collision inflation, measured against the exact answer
    the same run computes — the self-measurement pattern of the
    other sketch evals. The 100 TB use: price a shuffle join's
    output (detect a quadratic blowup) from two ≤d×w sketches
    BEFORE paying for the join; sketches of both sides build in one
    map pass each and the estimate is a d-row reduction.

    Scale: one groupBy(d, bucket) collapsed by the combiner to
    ≤ d×w rows per partition (corpus-size-independent), plus one
    exact groupBy(key) for the measured-error report — at
    production scale you run only the sketch pass."""
    keys = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("tok")
    )
    exact = (
        keys.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.col("c") * F.col("c")).cast("bigint")
            .alias("exact_join_rows"),
        )
    )
    depths = spark.range(_CMS_D).select(F.col("id").cast("int").alias("d"))
    bucket = (
        F.expr(_cms_spark_hash("concat(cast(d as string), ':', tok)"))
        % _CMS_W
    )
    est = (
        keys.crossJoin(depths)
        .select("tok", "d")
        .withColumn("bucket", bucket)
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("d")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("ip"))
        .agg(F.min("ip").cast("bigint").alias("cms_est_rows"))
    )
    return exact.crossJoin(est).select(
        "n_rows",
        "n_keys",
        "exact_join_rows",
        "cms_est_rows",
        F.round(
            F.col("cms_est_rows").cast("double") / F.col("exact_join_rows"),
            6,
        ).alias("over_ratio"),
    )


# --------------------------------------------------------------------------
# KMV set-overlap estimation: customer audiences of two order windows.
# --------------------------------------------------------------------------

_OV_A = "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"
_OV_B = "o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'"


@workload(
    "audience_overlap_kmv",
    oracle=rf"""
WITH a AS (
  SELECT DISTINCT o_custkey AS ck FROM orders WHERE {_OV_A}
),
b AS (
  SELECT DISTINCT o_custkey AS ck FROM orders WHERE {_OV_B}
),
ha AS (
  SELECT ('0x'||substring(md5(CAST(ck AS VARCHAR)),1,15))::BIGINT AS h
  FROM a
),
hb AS (
  SELECT ('0x'||substring(md5(CAST(ck AS VARCHAR)),1,15))::BIGINT AS h
  FROM b
),
ka AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
kb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
ku AS (
  SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
  ORDER BY h LIMIT {_KMV_K}
),
j AS (
  SELECT CAST(count(*) AS BIGINT) AS n_both
  FROM ku
  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
),
uest AS (
  SELECT CAST(round(({_KMV_K} - 1) * {_KMV_SCALE!r} / max(h)) AS BIGINT)
           AS union_est
  FROM ku
),
exact AS (
  SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
         CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
         CAST((SELECT count(*) FROM a JOIN b USING (ck)) AS BIGINT)
           AS inter_exact
)
SELECT CAST({_KMV_K} AS BIGINT) AS k,
       e.n_a, e.n_b, e.inter_exact,
       ROUND(e.inter_exact * 1.0
             / (e.n_a + e.n_b - e.inter_exact), 6) AS jaccard_exact,
       ROUND(j.n_both * 1.0 / {_KMV_K}, 6) AS jaccard_est,
       CAST(round(j.n_both * 1.0 / {_KMV_K} * u.union_est) AS BIGINT)
         AS inter_est,
       ROUND(abs(round(j.n_both * 1.0 / {_KMV_K} * u.union_est)
                 - e.inter_exact) * 1.0 / e.inter_exact, 6) AS rel_err
FROM exact e CROSS JOIN j CROSS JOIN uest u
""",
)
def audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-overlap estimation from two KMV sketches (Beyer et al.
    2007): how many customers the pre-1998 and post-1999 order
    windows SHARE, without ever joining the two audiences — the
    k-min of the union is the k-min of the two sketches' union, the
    fraction of those union minima present in BOTH sketches
    estimates Jaccard, and intersection ≈ Jaccard × the union's KMV
    cardinality estimate. The audience-overlap / reach-dedup
    primitive: at 100 TB each side compresses to k=64 hashes
    (TakeOrdered — k·partitions merge rows), the overlap math runs
    on ≤2k driver-side rows, and sketches of MANY windows compose
    pairwise for free, where exact answers need a join per pair.
    Exact |A|, |B|, |A∩B| are computed alongside so the estimate's
    relative error is part of the checked result (the sketch-eval
    self-measurement convention).

    Scale: two filtered distinct-key scans → two TakeOrdered(k);
    nothing downstream scales with the data."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.expr(_OV_A)).select(F.col("o_custkey").alias("ck")).distinct()
    b = o.filter(F.expr(_OV_B)).select(F.col("o_custkey").alias("ck")).distinct()

    def kmin(side: DataFrame) -> DataFrame:
        return (
            side.select(
                F.expr(_cms_spark_hash("cast(ck as string)")).alias("h")
            )
            .orderBy("h")
            .limit(_KMV_K)
        )

    ka = kmin(a)
    kb = kmin(b)
    ku = (
        ka.unionByName(kb).distinct().orderBy("h").limit(_KMV_K)
    )
    in_a = ku.join(ka.withColumnRenamed("h", "h_a"),
                   F.col("h") == F.col("h_a"), "left_semi")
    n_both = in_a.join(kb.withColumnRenamed("h", "h_b"),
                       F.col("h") == F.col("h_b"), "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both")
    )
    uest = ku.agg(
        F.round(F.lit(_KMV_K - 1) * F.lit(_KMV_SCALE) / F.max("h"))
        .cast("bigint")
        .alias("union_est")
    )
    exact = (
        a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).cast("bigint").alias("n_b")))
        .crossJoin(
            a.join(b, "ck").agg(
                F.count(F.lit(1)).cast("bigint").alias("inter_exact")
            )
        )
    )
    inter_est = F.round(
        F.col("n_both") * 1.0 / _KMV_K * F.col("union_est")
    ).cast("bigint")
    return (
        exact.crossJoin(n_both)
        .crossJoin(uest)
        .select(
            F.lit(_KMV_K).cast("bigint").alias("k"),
            "n_a",
            "n_b",
            "inter_exact",
            F.round(
                F.col("inter_exact")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("inter_exact")),
                6,
            ).alias("jaccard_exact"),
            F.round(F.col("n_both") * 1.0 / _KMV_K, 6).alias("jaccard_est"),
            inter_est.alias("inter_est"),
            F.round(
                F.abs(inter_est - F.col("inter_exact"))
                * 1.0
                / F.col("inter_exact"),
                6,
            ).alias("rel_err"),
        )
    )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters — the top-k-GUARANTEE sketch next to CMS
# (point queries) and KMV/HLL (cardinality): every token with
# frequency > n/(k+1) is guaranteed present in the summary.
# --------------------------------------------------------------------------

_MG_K = 16     # counters kept per summary
_MG_PARTS = 8  # deterministic data-derived partitions


@workload(
    "heavy_hitters_misra_gries",
    oracle=f"""
WITH toks AS (
  SELECT ('0x'||substring(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
           % {_MG_PARTS} AS pid,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
filtered AS (SELECT pid, tok FROM toks WHERE tok <> ''),
local AS (
  SELECT pid, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM filtered GROUP BY pid, tok
),
ranked AS (
  SELECT pid, tok, cnt,
         row_number() OVER (PARTITION BY pid
                            ORDER BY cnt DESC, tok) AS rnk
  FROM local
),
offsets AS (
  SELECT pid,
         coalesce(max(CASE WHEN rnk = {_MG_K + 1} THEN cnt END), 0)
           AS off_p
  FROM ranked GROUP BY pid
),
summaries AS (
  SELECT r.pid, r.tok, r.cnt - o.off_p AS resid
  FROM ranked r JOIN offsets o ON o.pid = r.pid
  WHERE r.rnk <= {_MG_K} AND r.cnt - o.off_p > 0
),
merged AS (
  SELECT tok, CAST(sum(resid) AS BIGINT) AS s FROM summaries GROUP BY tok
),
mranked AS (
  SELECT tok, s, row_number() OVER (ORDER BY s DESC, tok) AS rnk
  FROM merged
),
off2 AS (
  SELECT coalesce(max(CASE WHEN rnk = {_MG_K + 1} THEN s END), 0) AS o2
  FROM mranked
),
bound AS (
  SELECT (SELECT CAST(sum(off_p) AS BIGINT) FROM offsets)
         + (SELECT o2 FROM off2) AS max_undercount
),
final AS (
  SELECT m.tok, m.s - (SELECT o2 FROM off2) AS mg_est, m.rnk
  FROM mranked m
  WHERE m.rnk <= {_MG_K} AND m.s - (SELECT o2 FROM off2) > 0
),
exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM filtered GROUP BY tok
)
SELECT f.tok,
       CAST(f.mg_est AS BIGINT) AS mg_est,
       e.exact_cnt,
       e.exact_cnt - f.mg_est AS undercount,
       b.max_undercount,
       CAST(f.rnk AS BIGINT) AS rank
FROM final f
JOIN exact e ON e.tok = f.tok
CROSS JOIN bound b
ORDER BY rank
""",
)
def heavy_hitters_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Misra-Gries heavy hitters (Misra & Gries 1982)
    via the mergeable-summaries formulation (Agarwal et al., PODS
    2012): each deterministic data-derived partition keeps the
    OFFSET-OPTIMAL k-counter MG summary of its exact combiner counts
    — top-k tokens with residual cnt − c_(k+1), which satisfies the
    one-pass MG guarantee (undercount ≤ c_(k+1) ≤ n_p/(k+1)) with
    the smallest offset any k-counter MG run could achieve — and the
    summaries merge by key-wise sum followed by the same truncation.
    Every token with true frequency > max_undercount is GUARANTEED
    to surface (the top-k guarantee CMS point estimates can't give);
    mg_est never overestimates, and the report self-measures by
    joining exact counts (undercount column) and carries the a
    priori bound (max_undercount = Σ_p c_(k+1),p + merge offset).

    Determinism: partitions are data-derived (md5(doc_id) mod
    {_MG_PARTS}), not Spark task placement, and every truncation
    tiebreaks (cnt DESC, tok) — the DuckDB oracle replays the whole
    pipeline exactly; all arithmetic is BIGINT.

    Scale: one combiner groupBy(pid, tok) over the corpus, then
    windows over per-pid token counts; the merge sees ≤ P·k = 128
    rows. At 100 TB, pid becomes the physical partition and the
    summary IS what shuffles — k rows per partition instead of the
    vocabulary."""
    from pyspark.sql import Window as _W

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr(
            "pmod(" + _cms_spark_hash("cast(doc_id as string)")
            + f", {_MG_PARTS})"
        ).alias("pid"),
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    local = toks.groupBy("pid", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    rnk = F.row_number().over(
        _W.partitionBy("pid").orderBy(F.col("cnt").desc(), "tok")
    )
    ranked = local.withColumn("rnk", rnk)
    offsets = ranked.groupBy("pid").agg(
        F.coalesce(
            F.max(F.when(F.col("rnk") == _MG_K + 1, F.col("cnt"))),
            F.lit(0),
        ).alias("off_p")
    )
    summaries = (
        ranked.filter(F.col("rnk") <= _MG_K)
        .join(F.broadcast(offsets), "pid")  # bound: <= |partitions| rows
        .select("tok", (F.col("cnt") - F.col("off_p")).alias("resid"))
        .filter(F.col("resid") > 0)
    )
    merged = summaries.groupBy("tok").agg(
        F.sum("resid").cast("bigint").alias("s")
    )
    mranked = merged.withColumn(
        "rnk", F.row_number().over(_W.orderBy(F.col("s").desc(), "tok"))
    )
    off2 = mranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rnk") == _MG_K + 1, F.col("s"))),
            F.lit(0),
        ).alias("o2")
    )
    total_off = offsets.agg(
        F.sum("off_p").cast("bigint").alias("sum_off")
    )
    final = (
        mranked.filter(F.col("rnk") <= _MG_K)
        .crossJoin(off2)
        .withColumn("mg_est", F.col("s") - F.col("o2"))
        .filter(F.col("mg_est") > 0)
    )
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    return (
        final.join(exact, "tok")
        .crossJoin(total_off)
        .select(
            "tok",
            F.col("mg_est").cast("bigint").alias("mg_est"),
            "exact_cnt",
            (F.col("exact_cnt") - F.col("mg_est")).alias("undercount"),
            (F.col("sum_off") + F.col("o2")).cast("bigint")
            .alias("max_undercount"),
            F.col("rnk").cast("bigint").alias("rank"),
        )
        .orderBy("rank")
    )
