"""Temporal join operators Spark lacks as built-ins: as-of join and
interval/range join.

The reference has no temporal operators (its SQL surface is delegated
to warehouses, SURVEY.md §2B); these belong to the beyond-reference
training-data/event-analytics family. Both are implemented as
compositions of built-in DataFrame ops so Catalyst/Tungsten keep the
whole plan JVM-side — no Python UDFs, no per-key driver loops.

Scale design:

- ``asof_join`` is the union + windowed last-non-null trick: tag both
  inputs, union them, and for every left row pick the most recent
  right payload within its key partition. ONE shuffle on the join
  keys, linear work, no point-in-time self-join blowup. This is the
  same strategy Flink's temporal join and kdb's `aj` use logically;
  at 100 TB it beats a per-key ``applyInPandas`` merge because state
  never materializes in Python.

- ``range_join`` buckets time: each right-side interval explodes into
  the fixed-width buckets it covers, the left side computes its single
  bucket, and the pair equi-join on (keys, bucket) before the exact
  containment filter. Turns an inequality join (BroadcastNestedLoop in
  vanilla Spark — quadratic) into a shuffled hash join whose fan-out
  is bounded by interval_length / bucket_width. Pick ``bucket`` close
  to the typical interval length.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

__all__ = ["asof_join", "range_join"]


def _epoch_seconds(c: Column) -> Column:
    """Whole-second epoch for TIMESTAMP or TIMESTAMP_NTZ (which Spark
    refuses to cast straight to BIGINT); NTZ is read as session-UTC."""
    return c.cast("timestamp").cast("long")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    tolerance_seconds: int | None = None,
    suffix: str = "_right",
    prune_right: bool = False,
) -> DataFrame:
    """For each left row, attach the columns of the latest right row
    with the same key and ``right_ts <= left_ts`` (backward as-of).

    Right rows at exactly ``left_ts`` DO match (>= semantics, like
    DuckDB ``ASOF JOIN`` and pandas ``merge_asof``). Left rows with no
    prior right row keep NULLs. ``tolerance_seconds`` additionally
    requires ``left_ts - right_ts <= tolerance``.

    Single shuffle on ``on``; no data-dependent blowup.

    ``prune_right=True`` first semi-joins the right side against the
    left's distinct keys — when the left is key-selective (a filtered
    cohort against a firehose history table) this keeps the dominant
    right side from riding through the union shuffle at all. The
    distinct-key set is typically small, so the planner broadcasts
    the semi join while its estimate is under the threshold; it is
    not hinted, because it grows with the left side's key domain.
    """
    on = list(on)
    right_cols = list(right_cols)
    if prune_right:
        right = right.join(
            left.select(*on).distinct(), on, "left_semi"
        )

    payload = F.struct(
        F.col(right_ts).alias("__ts"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    r = right.select(
        *[F.col(k) for k in on],
        F.col(right_ts).alias("__evt_ts"),
        F.lit(1).alias("__is_right"),
        payload.alias("__payload"),
    )
    l = left.withColumn("__evt_ts", F.col(left_ts)).withColumn(
        "__is_right", F.lit(0)
    ).withColumn("__payload", F.lit(None).cast(r.schema["__payload"].dataType))

    unioned = l.unionByName(r, allowMissingColumns=True)

    # At equal timestamps the right row must sort BEFORE the left row
    # so the left row sees it (inclusive >=): order by (ts, is_right
    # DESC). last(ignorenulls) over unbounded-preceding carries the
    # latest right payload forward.
    w = (
        W.partitionBy(*on)
        .orderBy(F.col("__evt_ts").asc(), F.col("__is_right").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.withColumn(
        "__asof", F.last("__payload", ignorenulls=True).over(w)
    )

    out = carried.filter(F.col("__is_right") == 0)
    match_ok: Column = F.col("__asof").isNotNull()
    if tolerance_seconds is not None:
        match_ok = match_ok & (
            _epoch_seconds(F.col(left_ts)) - _epoch_seconds(F.col("__asof.__ts"))
            <= F.lit(int(tolerance_seconds))
        )
    for c in right_cols:
        name = c if c not in left.columns else f"{c}{suffix}"
        out = out.withColumn(
            name, F.when(match_ok, F.col(f"__asof.{c}"))
        )
    matched_ts = right_ts if right_ts not in left.columns else f"{right_ts}{suffix}"
    out = out.withColumn(
        matched_ts, F.when(match_ok, F.col("__asof.__ts"))
    )
    return out.drop("__evt_ts", "__is_right", "__payload", "__asof")


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_start: str,
    right_end: str,
    bucket_seconds: int = 86400,
    end_inclusive: bool = False,
) -> DataFrame:
    """Join left rows to every right interval containing them:
    ``right_start <= left_ts < right_end`` (``<= right_end`` when
    ``end_inclusive``), equi on ``on``.

    Implementation: explode each right interval into the
    ``bucket_seconds``-wide epoch buckets it covers, equi-join on
    (keys, bucket), then apply the exact containment predicate. Each
    (left, right) pair meets in exactly one bucket — the left row's —
    so no dedup is needed. Fan-out per right row is
    ``ceil(interval / bucket) + 1``.
    """
    on = list(on)
    b = int(bucket_seconds)

    l = left.withColumn(
        "__bucket", F.floor(_epoch_seconds(F.col(left_ts)) / b)
    )
    r = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(_epoch_seconds(F.col(right_start)) / b),
                F.floor(_epoch_seconds(F.col(right_end)) / b),
            )
        ),
    )
    upper = (
        F.col(left_ts) <= F.col(right_end)
        if end_inclusive
        else F.col(left_ts) < F.col(right_end)
    )
    return (
        l.join(r, on + ["__bucket"])
        .filter((F.col(left_ts) >= F.col(right_start)) & upper)
        .drop("__bucket")
    )
