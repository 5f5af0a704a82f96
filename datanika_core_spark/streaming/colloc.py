"""Streaming collocation monitor — the incremental twin of the batch
``collocation_pmi_bigrams`` workload (workloads/corpus_quality.py):
micro-batches of documents tokenize in-batch and ADD-merge their
unigram and adjacent-bigram counts into one persisted counter table,
so the PMI collocation ranking stays queryable at any point of the
stream without rescanning history.

One kernel: ``absorb`` folds the batch workload's ``_colloc_grid`` —
(kind, key, n) rows, kind 'u' for unigram counts and 'b' for bigram
counts — into a
:class:`~datanika_core_spark.operators.merge_store.MergeStore`, and
``report()`` is the batch ``_colloc_report`` over the stored grid.
Counts are commutative monoids, so file-delivery ORDER is
irrelevant; only REPLAY needs the store's batch-id watermark
(counter addition is not idempotent).

Parity: tests/test_stream_colloc.py streams the corpus in two files
and asserts ``report()`` EQUALS the batch workload over the
concatenated corpus.

At 100 TB: each micro-batch contributes two combiner groupBys over
its own tokens; the merge touches |vocab|+|bigram vocab| stored rows
(the true state of the statistic — there is no smaller exact form;
pair the monitor with the MG/CMS stores when an approximate
heavy-hitter state is acceptable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files
from datanika_core_spark.workloads.corpus_quality import (
    _colloc_grid,
    _colloc_report,
)


class StreamCollocationMonitor:
    """Persisted streaming unigram/bigram counters with the batch
    workload's exact PMI ranking as ``report()``."""

    def __init__(self, spark: SparkSession, counters_table: str):
        self.spark = spark
        self.counters_table = counters_table
        self.state = MergeStore(
            spark, counters_table, "kind string, key string, n bigint",
            keys=["kind", "key"], merge={"n": "sum"},
        )

    def absorb(self, batch: DataFrame, batch_id: int | None = None,
               text_col: str = "text") -> None:
        self.state.absorb(_colloc_grid(batch, text_col), batch_id)

    def report(self) -> DataFrame:
        """collocation_pmi_bigrams over everything absorbed so far."""
        return _colloc_report(self.state.rows())


def stream_collocations(
    spark: SparkSession,
    source_path: str,
    monitor: StreamCollocationMonitor,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available document files (availableNow)
    into the collocation counters; query ``monitor.report()`` any
    time after."""
    return drain_files(
        spark, source_path,
        lambda batch_df, batch_id: monitor.absorb(
            batch_df, batch_id=batch_id, text_col=text_col
        ),
        monitor.state, kind="colloc", checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )
