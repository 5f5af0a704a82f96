"""Streaming content-fingerprint ingest — the incremental twin of
the batch ``table_fingerprint_xor`` workload: micro-batches of order
rows hash their canonical field string in-batch and XOR-fold into a
persisted :class:`~datanika_core_spark.operators.fingerprint_store.
FingerprintStore`, so the replica-comparison fingerprint of the
stream-so-far is queryable at any point without rescanning history.

Replay safety: xor is SELF-INVERTING — a redelivered micro-batch
would cancel its own rows back out of the fingerprint (strictly
worse than the CMS twin's double-count), so the batch-id watermark
in the store is load-bearing, not belt-and-braces. Same checkpointed
availableNow + skip-when-batch_id<=watermark discipline as
streaming/freq.py.

Parity: tests/test_stream_fingerprint.py streams orders in two files
and asserts the store EQUALS the batch workload's per-status
(n_rows, fingerprint) rows exactly — xor/count are abelian, so any
batch split folds to the same result.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.fingerprint_store import FingerprintStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files
from datanika_core_spark.workloads.cdc import _S_FP


def stream_fingerprint_ingest(
    spark: SparkSession,
    source_path: str,
    store: FingerprintStore,
    group_col: str = "o_orderstatus",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available order files (availableNow)
    into the store's per-group fingerprints."""
    return drain_files(
        spark, source_path,
        lambda batch_df, batch_id: store.update(
            batch_df.select(
                F.col(group_col).cast("string").alias("grp"),
                F.expr(_S_FP).alias("h"),
            ),
            batch_id=batch_id,
        ),
        store.state, kind="fingerprint", checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )
