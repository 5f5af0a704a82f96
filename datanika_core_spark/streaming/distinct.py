"""Streaming HLL ingest — the incremental twin of the batch
``hll_distinct_users_by_type`` workload: micro-batches of events
max-merge their HyperLogLog registers into a persisted
:class:`~datanika_core_spark.operators.hll_store.HLLSketchStore`,
so per-group distinct counts stay queryable at any point of the
stream without ever rescanning history.

Why this twin is trivially exactly-once-safe where counter-based
twins are not: HLL union is register-wise MAX — an idempotent
commutative monoid — so a replayed micro-batch (failure/restart
redelivery) re-raises registers to values they already hold. No
dedup state, no transactional sink needed for correctness of the
ESTIMATE (the usual at-least-once caveat for counters does not
apply).

Parity: tests/test_stream_hll.py drives availableNow over the same
files the batch workload reads and asserts the store's estimates
EQUAL the batch sketch's estimates — exact equality, not tolerance,
because both sides run the same integer-exact register math.

Scale: each micro-batch contributes one map-side-combinable groupBy
to |groups|×64 rows; the store merge touches |groups|×64 stored
rows regardless of event volume — the same bounded-state argument
as the KMV rolling-window workload.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from datanika_core_spark.operators.hll_store import HLLSketchStore
from datanika_core_spark.streaming.jobs import (
    StreamStats,
    drain,
    read_event_stream,
)


def stream_hll_ingest(
    spark: SparkSession,
    source_path: str,
    store: HLLSketchStore,
    group_col: str = "event_type",
    value_col: str = "user_id",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available event files (availableNow)
    into the store's per-group HLL registers. Returns batch/row
    accounting; query ``store.estimate()`` any time after."""
    # no reset_state: HLL max-merge makes a full replay idempotent
    return drain(
        spark,
        read_event_stream(
            spark, source_path, max_files_per_trigger=max_files_per_trigger
        ),
        lambda batch_df, batch_id: store.update(
            batch_df, group_col, value_col
        ),
        kind="hll", state_name=store.table,
        has_state=store.state.exists, refresh=(store.table,),
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
    )
