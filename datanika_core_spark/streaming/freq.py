"""Streaming CMS ingest — the incremental twin of the batch
``cms_heavy_hitters_eval`` workload: micro-batches of documents
tokenize in-batch and ADD-merge their Count-Min counters into a
persisted :class:`~datanika_core_spark.operators.cms_store.CMSSketchStore`,
so token-frequency estimates stay queryable at any point of the
stream without rescanning history.

Replay safety (the deliberate contrast with the HLL twin): counter
addition is not idempotent, so a REDELIVERED micro-batch would
double-count. The sink is checkpointed (availableNow +
checkpointLocation) AND passes its micro-batch id into the store,
which commits it with the counters as a table property — a batch
replayed after a crash between the state swap and the
streaming-checkpoint commit is recognized (batch_id <= watermark)
and skipped, making the non-idempotent merge replay-safe end to
end. The HLL/Bloom/MinHash stores don't need any of this because
their merges are idempotent.

Parity: tests/test_stream_cms.py streams the corpus in two files and
asserts the store's counter table EQUALS the batch sketch built over
the concatenated corpus — exact (d, bucket, cnt) equality, because
counter addition is associative across any batch split — and that
point estimates match the batch workload's.

Scale: each micro-batch contributes one explode ×d →
groupBy(d, bucket) collapsed by the combiner to ≤ d×w rows; the
store merge touches ≤ d×w stored rows regardless of stream volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.cms_store import CMSSketchStore
from datanika_core_spark.operators.mg_store import MGSketchStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files


def _tokens(batch_df: DataFrame, text_col: str) -> DataFrame:
    return batch_df.select(
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("tok")
    )


def stream_cms_ingest(
    spark: SparkSession,
    source_path: str,
    store: CMSSketchStore,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available document files (availableNow)
    into the store's CMS counters. Returns batch/row accounting;
    query ``store.estimate(probe)`` any time after."""
    return drain_files(
        spark, source_path,
        lambda batch_df, batch_id: store.update(
            _tokens(batch_df, text_col), batch_id=batch_id
        ),
        store.state, kind="cms", checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )


def stream_mg_ingest(
    spark: SparkSession,
    source_path: str,
    store: MGSketchStore,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Streaming twin of the Misra-Gries store
    (:class:`~datanika_core_spark.operators.mg_store.MGSketchStore`):
    micro-batches of documents tokenize in-batch and fold their
    offset-optimal k-counter summaries into the persisted residuals
    — top-k-guarantee tracking that stays queryable at any point of
    the stream. Same replay discipline as the CMS twin: the merge is
    a sum (not idempotent), so the store's batch-id watermark makes
    redelivery exactly-once."""
    return drain_files(
        spark, source_path,
        lambda batch_df, batch_id: store.update(
            _tokens(batch_df, text_col).filter(F.col("tok") != ""),
            batch_id=batch_id,
        ),
        store.state, kind="mg", checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )
