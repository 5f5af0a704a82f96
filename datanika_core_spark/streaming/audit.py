"""Streaming forensic-audit twins — incremental forms of the batch
``dq_benford_first_digit`` (workloads/dataquality.py),
``abtest_sprt_sequential`` / ``abtest_mann_whitney_u``
(workloads/stats.py), and ``drift_ks_two_period``
(workloads/evalmetrics.py): per-batch deltas fold into a persisted
state table, so "does this feed still look Benford?" / "can we stop
the experiment yet?" / "has the distribution drifted?" are answerable
at any point of the stream without rescanning history.

One kernel per twin: each monitor's ``absorb`` folds its batch
workload's grid function over the micro-batch into a
:class:`~datanika_core_spark.operators.merge_store.MergeStore`, and
``report()`` is the batch workload's report function over the stored
grid — the statistic exists once, so stream/batch parity holds by
construction. The store's batch-id watermark (the counters are not
idempotent) applies a micro-batch redelivered after a crash between
the state swap and the streaming-checkpoint commit exactly once.

State sizes: Benford is 9 digit counters; SPRT is 4 scalars per
experiment arm; the KS and Mann-Whitney grids are bounded by the
VALUE DOMAIN (|types| x |distinct cents|, |distinct cents|), never by
stream volume.

Ordering caveat (SPRT only, documented): the LLR walk is a
SEQUENTIAL fold, so micro-batches must arrive in event-time order
(the availableNow file source delivers files in listing order —
name ingest files monotonically). Benford, KS and Mann-Whitney have
no such requirement: their grids are commutative monoids.

Parity: tests/test_stream_audit.py streams the events table in two
files and asserts each report EQUALS the batch workload over the
concatenated frame.

At 100 TB: each micro-batch contributes one map-side combiner
groupBy; state reads and writes touch the grid, never the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files
from datanika_core_spark.workloads.dataquality import (
    _benford_grid,
    _benford_report,
)
from datanika_core_spark.workloads.evalmetrics import _ks_grid, _ks_report
from datanika_core_spark.workloads.stats import (
    _mw_grid,
    _mw_report,
    _sprt_crossings,
    _sprt_report,
    _sprt_trials,
)


class StreamBenfordMonitor:
    """Persisted (digit, n_obs) first-digit counters over an events
    feed; counts are commutative, so out-of-order delivery is fine —
    only REPLAY needs the watermark."""

    def __init__(self, spark: SparkSession, counters_table: str):
        self.spark = spark
        self.counters_table = counters_table
        self.state = MergeStore(
            spark, counters_table, "digit bigint, n_obs bigint",
            keys=["digit"], merge={"n_obs": "sum"},
        )

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        self.state.absorb(_benford_grid(batch), batch_id)

    def report(self) -> DataFrame:
        """(digit, n_obs, obs_share, benford_share, abs_gap)."""
        return _benford_report(self.state.rows())


def stream_benford_audit(
    spark: SparkSession,
    source_path: str,
    monitor: StreamBenfordMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available events files (availableNow)
    into the Benford monitor; query ``monitor.report()`` any time."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="benford",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )


class StreamSPRTMonitor:
    """Persisted per-arm SPRT walk state over a purchases feed.

    Stored state per arm: the batch workload's ``_sprt_crossings`` row
    (variant, n_trials, n_success, i_up, i_lo) — the trial/conversion
    totals plus the first boundary-crossing indices (null until
    crossed). A micro-batch continues the walk from the stored
    totals: trial i = n0 + rn carries conv = c0 + cum_s, and the batch
    crossing aggregate runs over that carried walk.

    The first-crossing indices are monotone under ordered delivery:
    once set they never change (coalesce keeps the stored value), so
    the state is a fold, not a recomputation."""

    def __init__(self, spark: SparkSession, state_table: str):
        self.spark = spark
        self.state_table = state_table
        self.state = MergeStore(
            spark, state_table,
            "variant bigint, n_trials bigint, n_success bigint,"
            " i_up bigint, i_lo bigint",
        )

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        if self.state.replayed(batch_id):
            return
        stored = self.state.rows()
        offs = stored.select(
            "variant",
            F.col("n_trials").alias("n0"),
            F.col("n_success").alias("c0"),
        )
        w = Window.partitionBy("variant").orderBy("ts", "event_id")
        # bound: one stored row per arm (two variants)
        walk = _sprt_trials(batch).join(F.broadcast(offs), "variant", "left")
        walk = walk.select(
            "variant",
            (F.coalesce(F.col("n0"), F.lit(0))
             + F.row_number().over(w)).alias("i"),
            (F.coalesce(F.col("c0"), F.lit(0)) + F.sum("s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )).cast("bigint").alias("conv"),
        )
        step = _sprt_crossings(walk)
        # an arm the batch reached continues its walk (totals from the
        # batch, first crossings kept once set); the others keep theirs
        nxt = stored.alias("o").join(
            step.alias("b"), "variant", "full_outer"
        ).select(
            "variant",
            *[F.coalesce(f"b.{c}", f"o.{c}").alias(c)
              for c in ("n_trials", "n_success")],
            *[F.coalesce(f"o.{c}", f"b.{c}").alias(c)
              for c in ("i_up", "i_lo")],
        )
        self.state.commit(nxt, batch_id)

    def report(self) -> DataFrame:
        """(arm, n_trials, n_success, final_llr, decision,
        n_at_decision)."""
        return _sprt_report(self.state.rows())


def stream_sprt_monitor(
    spark: SparkSession,
    source_path: str,
    monitor: StreamSPRTMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available events files (availableNow, in
    listing order — the SPRT walk needs ordered delivery) into the
    monitor; query ``monitor.report()`` any time."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="sprt",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )


class StreamKSDriftMonitor:
    """Persisted (event_type, c, na, nb) two-period value counters
    over an events feed, queryable as a KS drift report at any point.

    ``mid_day`` (epoch-day) fixes the period boundary up front — the
    deployment shape: "compare before/after the release day". The
    batch workload derives the same boundary from the table's span;
    the parity test feeds that value in."""

    def __init__(self, spark: SparkSession, counters_table: str,
                 mid_day: int):
        self.spark = spark
        self.counters_table = counters_table
        self.mid_day = int(mid_day)
        self.state = MergeStore(
            spark, counters_table,
            "event_type string, c bigint, na bigint, nb bigint",
            keys=["event_type", "c"], merge={"na": "sum", "nb": "sum"},
        )

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        self.state.absorb(_ks_grid(batch, self.mid_day), batch_id)

    def report(self) -> DataFrame:
        """(event_type, n_a, n_b, ks_stat, crit_05, drifted)."""
        return _ks_report(self.state.rows())


def stream_ks_drift(
    spark: SparkSession,
    source_path: str,
    monitor: StreamKSDriftMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available events files (availableNow)
    into the KS drift monitor; counts are commutative, so file order
    is irrelevant."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="ks",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )


class StreamMannWhitneyMonitor:
    """Persisted (c, na, cnt) purchase-value counters, queryable as
    the full rank-sum test report at any point: ranks are recomputed
    from the stored grid, so the report is the batch one, not an
    approximation."""

    def __init__(self, spark: SparkSession, counters_table: str):
        self.spark = spark
        self.counters_table = counters_table
        self.state = MergeStore(
            spark, counters_table, "c bigint, na bigint, cnt bigint",
            keys=["c"], merge={"na": "sum", "cnt": "sum"},
        )

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        self.state.absorb(_mw_grid(batch), batch_id)

    def report(self) -> DataFrame:
        """(n_a, n_b, u_a, u_b, z, rank_biserial)."""
        return _mw_report(self.state.rows())


def stream_mann_whitney(
    spark: SparkSession,
    source_path: str,
    monitor: StreamMannWhitneyMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available events files (availableNow)
    into the Mann-Whitney monitor; counts are commutative, so file
    order is irrelevant."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="mw",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )
