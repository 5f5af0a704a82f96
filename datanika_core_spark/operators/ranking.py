"""Distributed global order statistics — row_number / ntile /
prefix aggregates over a TOTAL order — without the single-partition
WindowExec a bare ``Window.orderBy(...)`` compiles to.

The classic two-phase shape (TeraSort ranking / Blelloch scan):

1. ONE cheap pass computes ~|shuffle partitions| quantile boundaries
   of the leading sort key (``approxQuantile``) and freezes them as
   PLAN LITERALS — so bucket assignment is a pure, deterministic
   projection (``#bounds <= key``), immune to the per-execution
   boundary sampling that makes ``repartitionByRange`` inconsistent
   between plan branches (Spark samples new range bounds every time
   an exchange re-executes; offsets computed under one sampling and
   applied under another silently mis-rank boundary rows — found the
   hard way, pinned by tests/test_ranking.py);
2. the statistic is computed WITHIN each bucket
   (``Window.partitionBy(bucket)`` — the window's own hash exchange
   is the only corpus-wide shuffle);
3. buckets close over each other with a ≤|buckets|-row table of
   per-bucket summaries: an exclusive running total over bucket ids
   (a global window, but over a bucket-count-sized aggregate —
   bounded by construction), broadcast-joined back.

Exactness: buckets are contiguous, non-overlapping ranges of the
leading key with ties co-located, so for a total ordering key
(callers always append a unique id tiebreak) the global rank is
exactly ``rows in earlier buckets + local rank`` for ANY boundary
placement — results are bit-identical to the single-partition form;
only the plan changes. The machine pin in tests/test_plan_quality.py
(tools/plan_audit.py ``global_window`` detector) keeps every registry
workload on this path.

Quantile (not equal-width) boundaries keep the buckets balanced
under value skew; a pathological single hot key still collapses to
one bucket — the same floor any order-preserving partitioning has.

Cost note: ``approxQuantile`` is a DRIVER ACTION, so CONSTRUCTING one
of these frames scans the input once before any downstream action
(plan-only callers like the registry-wide plan audit pay an
execute-a-scan cost per call). That eager pass is the price of
freezing the boundaries as literals — the property the correctness
of the offsets depends on — and is one cheap aggregate, not a sort.
Callers composing several statistics over the SAME order should use
the combined primitives (global_rank_prefix_sum) rather than
chaining calls; callers building several frames over the SAME INPUT
in different orders (Spearman's two rank columns, layout's chained
ntiles) should precompute every key's boundaries in one scan with
``quantile_boundaries`` and pass them via ``boundaries=`` — chaining
without it executes pipeline 1 inside pipeline 2's boundary scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "_gr_pid"
_KEY = "_gr_key"
_LRN = "_gr_lrn"
_RUN = "_gr_run"
_CNT = "_gr_c"
_OFF = "_gr_off"
_TOT = "_gr_n"


def _cols(order_cols) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def quantile_boundaries(
    df: DataFrame, keys, n_parts: int | None = None
) -> list[list[float]]:
    """ONE approxQuantile driver pass computing frozen bucket
    boundaries for SEVERAL ranking keys at once — pass the results to
    the ``boundaries=`` parameter of the public functions so call
    sites that build two+ ranking frames (Spearman's two rank columns,
    layout's chained ntiles) pay one input scan instead of executing
    pipeline 1 inside pipeline 2's eager boundary scan.

    ``keys`` are column names or numeric Column expressions, each the
    bucket key its frame will use (the leading sort key, negated for
    descending). Returns one sorted-deduped boundary list per key, in
    order. NULL keys are ignored by approxQuantile — NULL rows land in
    bucket 0, consistent with ascending NULLS FIRST."""
    if n_parts is None:
        n_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    if n_parts <= 1:
        return [[] for _ in keys]
    # collision-resistant temp prefix: never shadow an input column
    prefix = "_gr_qb_"
    while any(c.startswith(prefix) for c in df.columns):
        prefix += "x"
    names = [f"{prefix}{i}" for i in range(len(keys))]
    tmp = df
    for name, k in zip(names, keys):
        col = F.col(k) if isinstance(k, str) else k
        tmp = tmp.withColumn(name, col.cast("double"))
    qs = [i / n_parts for i in range(1, n_parts)]
    got = tmp.approxQuantile(names, qs, 0.001)
    return [sorted(set(b)) for b in got]


def _with_pid(
    df: DataFrame, order_cols, bucket_by: Column | None,
    boundaries: list[float] | None = None,
):
    """Tag each row with a deterministic, order-contiguous bucket id:
    #(frozen quantile boundaries <= leading key). ``bucket_by`` must
    be numeric and monotone NON-DECREASING along the global order —
    it defaults to the first order column, so pass e.g. ``-F.col(c)``
    when the leading sort is descending. ``boundaries`` (from
    quantile_boundaries) skips the eager per-frame scan; ANY boundary
    placement yields the same final statistic (exactness holds per
    bucket + offsets), so precomputed boundaries never change results,
    only the plan."""
    key = bucket_by if bucket_by is not None else _cols(order_cols)[0]
    n_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    tmp = df.withColumn(_KEY, key.cast("double"))
    if boundaries is not None:
        bounds = sorted(set(boundaries))
    elif n_parts > 1:
        qs = [i / n_parts for i in range(1, n_parts)]
        bounds = sorted(set(tmp.approxQuantile(_KEY, qs, 0.001)))
    else:
        bounds = []
    if bounds:
        # CASE-WHEN sum, NOT F.filter(array, lambda ...): these frames
        # are self-joined downstream (local ⋈ its own bucket offsets in
        # every public function here), and lambda-variable exprIds go
        # stale under DeduplicateRelations when the key collapses onto
        # a scan attribute (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — the
        # SCALE.md rule-7 trap). |bounds| <= shuffle.partitions-1, so
        # the unrolled comparison chain stays codegen-friendly.
        pid = sum(
            F.when(F.lit(float(b)) <= F.col(_KEY), 1).otherwise(0)
            for b in bounds
        )
    else:
        pid = F.lit(0)
    return tmp.withColumn(_PID, pid)


def _local(
    df: DataFrame, order_cols, bucket_by, expr_fn, boundaries=None
) -> DataFrame:
    """Bucket-tag and evaluate ``expr_fn(window)`` within buckets."""
    w = Window.partitionBy(_PID).orderBy(*_cols(order_cols))
    return _with_pid(df, order_cols, bucket_by, boundaries).withColumn(
        _LRN, expr_fn(w)
    )


def _count_offsets(local: DataFrame) -> DataFrame:
    """Exclusive prefix COUNT per bucket: how many rows sort strictly
    before bucket p. ≤|buckets| rows — the one global window here is
    bounded by construction."""
    counts = local.groupBy(_PID).agg(F.count(F.lit(1)).alias(_CNT))
    woff = Window.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return counts.select(
        _PID,
        F.coalesce(F.sum(_CNT).over(woff), F.lit(0))
        .cast("bigint").alias(_OFF),
        F.col(_CNT),
    )


def global_row_number(
    df: DataFrame, order_cols, alias: str,
    bucket_by: Column | None = None,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """df + a BIGINT ``alias`` column = row_number() over the global
    ``order_cols`` order. The ordering must be total (append a unique
    id as the last key) — under ties, ranks would be bucket-placement
    dependent, exactly as they are nondeterministic under a
    single-partition window."""
    local = _local(
        df, order_cols, bucket_by, lambda w: F.row_number().over(w),
        boundaries,
    )
    offs = _count_offsets(local).drop(_CNT)
    return (
        local.join(F.broadcast(offs), _PID)  # bound: <= n_parts bucket rows
        .withColumn(alias, (F.col(_OFF) + F.col(_LRN)).cast("bigint"))
        .drop(_PID, _KEY, _LRN, _OFF)
    )


def global_ntile(
    df: DataFrame, order_cols, k: int, alias: str,
    bucket_by: Column | None = None,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """df + an INT ``alias`` column = ntile(k) over the global
    ``order_cols`` order, reproducing the SQL-standard bucket fill
    (first n mod k tiles take one extra row) from the distributed
    rank — bit-identical to ``F.ntile(k).over(Window.orderBy(...))``."""
    local = _local(
        df, order_cols, bucket_by, lambda w: F.row_number().over(w),
        boundaries,
    )
    offs = _count_offsets(local)
    tot = offs.agg(F.sum(_CNT).cast("bigint").alias(_TOT))
    rn = F.col(_OFF) + F.col(_LRN)
    rem = F.col(_TOT) % k
    big = F.expr(f"{_TOT} div {k}") + 1
    tile = F.when(
        rn <= rem * big,
        F.expr(f"({_OFF} + {_LRN} - 1) div ({_TOT} div {k} + 1)") + 1,
    ).otherwise(
        rem
        + F.expr(
            f"({_OFF} + {_LRN} - ({_TOT} % {k}) * ({_TOT} div {k} + 1)"
            f" - 1) div greatest({_TOT} div {k}, 1)"
        )
        + 1
    )
    return (
        # bound: <= n_parts bucket rows
        local.join(F.broadcast(offs.drop(_CNT)), _PID)
        .crossJoin(tot)
        .withColumn(alias, tile.cast("int"))
        .drop(_PID, _KEY, _LRN, _OFF, _TOT)
    )


def global_prefix_sum(
    df: DataFrame, order_cols, value: str, alias: str,
    bucket_by: Column | None = None,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """df + ``alias`` = sum(value) over the global order, rows
    UNBOUNDED PRECEDING .. CURRENT ROW (inclusive running total).

    NULL semantics match the single-partition window exactly: sum
    ignores NULLs, so a row whose within-bucket prefix is all-NULL
    carries the earlier buckets' total (NULL only when EVERY value up
    to the row is NULL) — the offset is left un-coalesced and the two
    halves combine with NULL-as-identity, like global_prefix_min."""
    local = _local(
        df, order_cols, bucket_by,
        lambda w: F.sum(value).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
        boundaries,
    ).withColumnRenamed(_LRN, _RUN)
    totals = local.groupBy(_PID).agg(F.sum(value).alias(_CNT))
    woff = Window.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = totals.select(_PID, F.sum(_CNT).over(woff).alias(_OFF))
    combined = (
        F.when(F.col(_RUN).isNull(), F.col(_OFF))
        .when(F.col(_OFF).isNull(), F.col(_RUN))
        .otherwise(F.col(_OFF) + F.col(_RUN))
    )
    return (
        local.join(F.broadcast(offs), _PID)  # bound: <= n_parts bucket rows
        .withColumn(alias, combined)
        .drop(_PID, _KEY, _RUN, _OFF)
    )


def global_rank_prefix_sum(
    df: DataFrame, order_cols, value: str,
    rank_alias: str, sum_alias: str,
    bucket_by: Column | None = None,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """row_number AND the inclusive running sum of ``value`` over the
    same global order in ONE bucketed pass (one quantile scan, one
    shuffle, one per-bucket window) — callers needing both (Lorenz
    curves, weighted quantiles) should not pay two independent
    ranking pipelines. NULL values carry the earlier buckets' total
    exactly like global_prefix_sum."""
    ocols = _cols(order_cols)
    w = Window.partitionBy(_PID).orderBy(*ocols)
    local = (
        _with_pid(df, order_cols, bucket_by, boundaries)
        .withColumn(_LRN, F.row_number().over(w))
        .withColumn(
            _RUN,
            F.sum(value).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    per = local.groupBy(_PID).agg(
        F.count(F.lit(1)).alias(_CNT), F.sum(value).alias("_gr_vs")
    )
    woff = Window.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = per.select(
        _PID,
        F.coalesce(F.sum(_CNT).over(woff), F.lit(0))
        .cast("bigint").alias(_OFF),
        F.sum("_gr_vs").over(woff).alias("_gr_voff"),
    )
    vcomb = (
        F.when(F.col(_RUN).isNull(), F.col("_gr_voff"))
        .when(F.col("_gr_voff").isNull(), F.col(_RUN))
        .otherwise(F.col("_gr_voff") + F.col(_RUN))
    )
    return (
        local.join(F.broadcast(offs), _PID)  # bound: <= n_parts bucket rows
        .withColumn(
            rank_alias, (F.col(_OFF) + F.col(_LRN)).cast("bigint")
        )
        .withColumn(sum_alias, vcomb)
        .drop(_PID, _KEY, _LRN, _RUN, _OFF, "_gr_voff")
    )


def global_prefix_min(
    df: DataFrame, order_cols, value: str, alias: str,
    bucket_by: Column | None = None, exclusive: bool = False,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """df + ``alias`` = min(value) over the global order. With
    ``exclusive=True`` the frame is UNBOUNDED PRECEDING .. 1
    PRECEDING (NULL for the globally-first row) — the sort-filter
    skyline / dominance shape: "best value seen strictly before
    me"."""
    ocols = _cols(order_cols)
    hi = -1 if exclusive else 0
    local = _local(
        df, order_cols, bucket_by,
        lambda w: F.min(value).over(
            w.rowsBetween(Window.unboundedPreceding, hi)
        ),
        boundaries,
    ).withColumnRenamed(_LRN, _RUN)
    totals = local.groupBy(_PID).agg(F.min(value).alias(_CNT))
    woff = Window.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = totals.select(_PID, F.min(_CNT).over(woff).alias(_OFF))
    combined = (
        F.when(F.col(_OFF).isNull(), F.col(_RUN))
        .when(F.col(_RUN).isNull(), F.col(_OFF))
        .otherwise(F.least(F.col(_OFF), F.col(_RUN)))
    )
    return (
        local.join(F.broadcast(offs), _PID)  # bound: <= n_parts bucket rows
        .withColumn(alias, combined)
        .drop(_PID, _KEY, _RUN, _OFF)
    )


def global_prefix_max(
    df: DataFrame, order_cols, value: str, alias: str,
    bucket_by: Column | None = None,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """df + ``alias`` = max(value) over the global order, rows
    UNBOUNDED PRECEDING .. CURRENT ROW (running high-water mark)."""
    local = _local(
        df, order_cols, bucket_by,
        lambda w: F.max(value).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
        boundaries,
    ).withColumnRenamed(_LRN, _RUN)
    totals = local.groupBy(_PID).agg(F.max(value).alias(_CNT))
    woff = Window.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = totals.select(_PID, F.max(_CNT).over(woff).alias(_OFF))
    return (
        local.join(F.broadcast(offs), _PID)  # bound: <= n_parts bucket rows
        .withColumn(
            alias,
            F.when(F.col(_OFF).isNull(), F.col(_RUN))
            .otherwise(F.greatest(F.col(_OFF), F.col(_RUN))),
        )
        .drop(_PID, _KEY, _RUN, _OFF)
    )
