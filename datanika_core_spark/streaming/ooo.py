"""Streaming out-of-order-depth monitor — the incremental twin of
the batch ``events_out_of_order_depth`` workload: micro-batches of
events (arriving in the same simulated-transport order the batch
workload replays) fold their lateness histogram into a persisted
counter table, CARRYING the event-time high-water mark across
batches — the first streaming twin here whose correctness depends on
cross-batch ORDER state, not just an additive counter.

Within each micro-batch the lateness of an event is measured against
max(carry-in high water, running max over the batch's arrival
order); the new high water persists with the counters, as a third
column every histogram row carries. As long as
micro-batch boundaries respect arrival order (file streaming's
natural order — and what a real collector provides), the folded
histogram is IDENTICAL to the batch replay over the concatenated
stream; tests/test_stream_ooo.py asserts exact equality.

Replay discipline: bucket counts are additive (not idempotent) and
the high-water is a max (idempotent) — the batch-id watermark of the
:class:`~datanika_core_spark.operators.merge_store.MergeStore` guards
the counters exactly like the CMS/MG/fingerprint stores. The next
state (histogram + high water) is folded in Spark and committed
through the store's staged swap: nothing reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files
from datanika_core_spark.workloads.events import (
    _OOO_CAP_MIN,
    _S_OOO_DELAY,
)


class StreamOOOMonitor:
    """Persisted lateness histogram + carried high-water mark."""

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table
        self.state = MergeStore(
            spark, table, "bucket_min bigint, n_events bigint,"
            " high_water bigint",
        )

    def high_water(self) -> int | None:
        """Event-time high water (microseconds) reached so far."""
        # bound: one aggregate row
        hw = self.state.rows().agg(F.max("high_water")).collect()[0][0]
        return None if hw is None else int(hw)

    def absorb(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """Fold one micro-batch (events schema) into the histogram.
        The batch is replayed in (arrival, event_id) order against
        max(carried high water, in-batch running max)."""
        if self.state.replayed(batch_id):
            return  # redelivered batch — counters already folded
        from pyspark.sql import Window as _W

        stored = self.state.rows()
        carry = stored.agg(F.max("high_water").alias("carry"))
        timed = batch_df.select(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("e"),
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                + F.expr(_S_OOO_DELAY) * 1000000
            ).alias("arrival"),
            "event_id",
        )
        w = _W.orderBy("arrival", "event_id").rowsBetween(
            _W.unboundedPreceding, _W.currentRow
        )
        # greatest() skips the NULL carry of a fresh store
        # bound: one aggregate row
        run = timed.crossJoin(F.broadcast(carry)).select(
            "e",
            F.greatest(F.max("e").over(w), F.col("carry")).alias("high_water"),
        )
        hist = (
            run.select(
                F.least(
                    F.expr("(high_water - e) div 60000000"),
                    F.lit(_OOO_CAP_MIN).cast("bigint"),
                ).alias("bucket_min")
            )
            .groupBy("bucket_min")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        )
        new_hw = run.agg(F.max("high_water").alias("h")).crossJoin(carry)
        counts = (
            stored.select("bucket_min", "n_events")
            .unionByName(hist)
            .groupBy("bucket_min")
            .agg(F.sum("n_events").alias("n_events"))
        )
        self.state.commit(
            counts.crossJoin(  # bound: one row
                F.broadcast(new_hw.select(
                    F.greatest("h", "carry").alias("high_water")
                ))
            ),
            batch_id,
        )

    def histogram(self) -> DataFrame:
        return self.state.rows().select("bucket_min", "n_events").orderBy(
            "bucket_min"
        )


def stream_ooo_monitor(
    spark: SparkSession,
    source_path: str,
    monitor: StreamOOOMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available event files (availableNow)
    into the monitor's lateness histogram."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="ooo",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )
