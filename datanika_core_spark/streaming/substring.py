"""Streaming exact-substring dedup: continuous document ingestion
probing and extending the persisted gram-position index — the
streaming operating mode of
workloads/text_dedup.dedup_exact_substring_incremental, and the
exact-substring member of the store-twin family (curate.py: MinHash;
fingerprint.py: xor table fingerprints; distinct.py: HLL).

Per micro-batch (foreachBatch):

1. ``store.update(batch)`` — gram-index docs not yet ingested and
   min/max-merge the gram summary. The store's doc-table anti-join
   makes ROW-level replays idempotent on top of the checkpoint's
   FILE-level replay guard (a redelivered file appends 0 rows).
2. ``store.probe(todo)`` — the batch's duplicated-at-arrival spans
   against everything ingested so far (self-batch included, because
   update ran first), aggregated per doc and appended to the result
   table: ONE row per indexed doc, zero-span docs included.

The probe set ``todo`` is the batch's indexable docs WITHOUT a landed
report row — that single rule is what keeps the at-arrival semantics
exact under every replay shape. A full fresh-checkpoint replay
re-reads old files against the now-complete store; probing them
again would retro-flag docs whose duplicates arrived later (measured:
8 phantom rows on the sf0.001 corpus), but their landed rows make
``todo`` empty. A crash between the index append and the report
append redelivers the batch with its docs indexed but unlanded —
``todo`` still covers them, and the store at that moment contains
exactly the batches through the crashed one, so the recomputed spans
are the at-arrival spans. (This is why the report mirrors every
indexed doc instead of only dup docs: "no landed row" must mean
"never reported", never "reported nothing".)

At-arrival semantics match the batch workload
(dedup_exact_substring_incremental): a doc's spans reflect the
corpus THROUGH its own arrival batch — later arrivals never
retro-edit landed rows; the retroactive readout is ``store.spans()``
(one-shot-parity, pinned in tests/test_substring_store.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.substring_store import (
    ExactSubstringIndexStore,
)
from datanika_core_spark.streaming.jobs import (
    StreamStats,
    drain,
    read_event_stream,
)


@dataclass
class SubstringStreamStats(StreamStats):
    gram_rows_indexed: int = 0
    #: report rows landed (one per newly indexed doc, zero-span
    #: docs included — see module docstring for why)
    report_rows: int = 0


def stream_exact_substring(
    spark: SparkSession,
    source_path: str,
    store: ExactSubstringIndexStore,
    result_table: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> SubstringStreamStats:
    """Drain all currently-available document files (availableNow)
    through the index store; land per-doc at-arrival dup reports
    (doc_id, n_spans, covered_chars — one row per indexed doc,
    zero-span docs included) in ``result_table``."""
    from datanika_core_spark.operators.writers import TableWriter

    _observed = TableWriter._observed
    stats = SubstringStreamStats()

    def _absorb(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select("doc_id", "text")
        stats.gram_rows_indexed += store.update(docs)
        # the probe set: indexable batch docs without a landed report
        # row (module docstring: the replay/crash-exactness rule)
        todo = docs.filter(F.length("text") >= store.k)
        has_report = spark.catalog.tableExists(result_table)
        if has_report:
            landed = spark.table(result_table).select("doc_id")
            todo = todo.join(landed, "doc_id", "left_anti")
        todo = todo.localCheckpoint(eager=True)  # feeds probe + join
        if not todo.head(1):  # bound: one row
            return
        per_doc = (
            store.probe(todo)
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("ns"),
                F.sum(F.col("hi") - F.col("lo") + 1)
                .cast("bigint").alias("cov"),
            )
        )
        report = (
            todo.select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("ns", F.lit(0)).cast("bigint")
                .alias("n_spans"),
                F.coalesce("cov", F.lit(0)).cast("bigint")
                .alias("covered_chars"),
            )
        )
        report, obs = _observed(report)
        mode = "append" if has_report else "overwrite"
        report.write.format("parquet").mode(mode).saveAsTable(result_table)
        stats.report_rows += obs.get["rows"]

    # State is COHERENT only when index AND report both exist: a
    # dropped report table (or dropped store) with surviving commits
    # must clear the checkpoint so the full input replays — the
    # store's doc anti-join and the report's doc_id dedup make that
    # replay exact, so reset_state stays None (idempotent-store arm).
    return drain(
        spark,
        read_event_stream(
            spark, source_path, max_files_per_trigger=max_files_per_trigger
        ),
        _absorb,
        kind="stream_substring", state_name=result_table,
        has_state=lambda: (
            spark.catalog.tableExists(store.docs_table)
            and spark.catalog.tableExists(result_table)
        ),
        refresh=(store.table, store.docs_table, store.summary_table,
                 result_table),
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec, stats=stats,
    )
