"""Streaming Poisson-bootstrap monitor — the incremental twin of the
batch ``bootstrap_ci_poisson`` workload (workloads/stats.py): live
error bars on a stream. Because the Poisson weight of a row is a
pure function of (orderkey, replicate) — the md5 inverse-CDF draw —
each replicate's (Σw, Σw·x) moments are ADDITIVE counters a
micro-batch can fold into a persisted state table; the 95% CI is
recomputed from the merged moments at any point of the stream and
EQUALS the batch CI over everything absorbed so far.

One kernel: ``absorb`` folds the batch workload's ``_bootstrap_grid``
— (priority, r, sw, swx) for the |groups|×R replicate grid plus the
unit-weight r = -1 point rows — into a
:class:`~datanika_core_spark.operators.merge_store.MergeStore` whose
batch-id watermark guards replay (counter addition is not
idempotent); ``report()`` is the batch ``_bootstrap_report`` over the
stored grid.

Parity: tests/test_stream_bootstrap.py streams orders in two files
and asserts ``report()`` EQUALS the batch workload over the
concatenated table.

At 100 TB: each micro-batch contributes one map-side ×(R+1) explode
collapsed by the combiner to |groups|×(R+1) rows; the state merge
touches the same grid — stream volume never grows the state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files
from datanika_core_spark.workloads.stats import (
    _bootstrap_grid,
    _bootstrap_report,
)


class StreamBootstrapMonitor:
    """Persisted streaming replicate moments with the batch
    workload's exact CI selection as ``report()``."""

    def __init__(self, spark: SparkSession, state_table: str):
        self.spark = spark
        self.state_table = state_table
        self.state = MergeStore(
            spark, state_table,
            "priority string, r int, sw bigint, swx bigint",
            keys=["priority", "r"], merge={"sw": "sum", "swx": "sum"},
        )

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        self.state.absorb(_bootstrap_grid(batch), batch_id)

    def report(self) -> DataFrame:
        """bootstrap_ci_poisson over everything absorbed so far."""
        return _bootstrap_report(self.state.rows())


def stream_bootstrap_ci(
    spark: SparkSession,
    source_path: str,
    monitor: StreamBootstrapMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available orders files (availableNow)
    into the replicate moments; query ``monitor.report()`` any time
    after."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="bootstrap",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )
