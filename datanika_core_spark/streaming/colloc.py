"""Streaming collocation monitor — the incremental twin of the batch
``collocation_pmi_bigrams`` workload (workloads/corpus_quality.py):
micro-batches of documents tokenize in-batch and ADD-merge their
unigram and adjacent-bigram counts into one persisted counter table,
so the PMI collocation ranking stays queryable at any point of the
stream without rescanning history. This closes the last batch
workload without a streaming twin in the additive-counter family.

State: (kind, key, n) rows — kind 'u' for unigram counts, 'b' for
bigram counts — in a
:class:`~datanika_core_spark.operators.merge_store.MergeStore`.
Counts are commutative monoids, so file-delivery ORDER is
irrelevant; only REPLAY needs the store's batch-id watermark
(counter addition is not idempotent — same discipline as the
CMS/MG/DQ stores).

Parity: tests/test_stream_colloc.py streams the corpus in two files
and asserts ``report()`` EQUALS the batch workload over the
concatenated corpus — exact equality, because every ranking input
(nxy, nx, ny, nn, bb) is an integer counter that adds across any
batch split, and the PMI ratio is the identical parenthesized
expression of those integers.

At 100 TB: each micro-batch contributes two combiner groupBys over
its own tokens; the merge touches |vocab|+|bigram vocab| stored rows
(the true state of the statistic — there is no smaller exact form;
pair the monitor with the MG/CMS stores when an approximate
heavy-hitter state is acceptable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files
from datanika_core_spark.workloads.corpus_quality import (
    _COLL_MIN_SUPPORT,
    _COLL_TOPK,
)


def _batch_counts(batch: DataFrame, text_col: str) -> DataFrame:
    """(kind, key, n) unigram + adjacent-bigram counts of one
    micro-batch — tokenization identical to the batch workload."""
    toklists = batch.select(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("toks")
    )
    uni = (
        toklists.select(F.explode("toks").alias("key"))
        .filter(F.col("key") != "")
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("u").alias("kind"), "key", "n")
    )
    bg = (
        toklists.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ',"
                    " element_at(toks, i + 1)))"
                )
            ).alias("key")
        )
        .filter(~F.col("key").startswith(" ") & ~F.col("key").endswith(" "))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("b").alias("kind"), "key", "n")
    )
    return uni.unionByName(bg)


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

    def last_batch_id(self) -> int | None:
        return self.state.last_batch_id()

    def absorb(self, batch: DataFrame, batch_id: int | None = None,
               text_col: str = "text") -> None:
        self.state.absorb(_batch_counts(batch, text_col), batch_id)

    def report(self) -> DataFrame:
        """Identical shape + math to collocation_pmi_bigrams: the
        top-{_COLL_TOPK} bigrams by the exact-integer PMI ratio."""
        from pyspark.sql import Window as _W

        state = self.state.rows()
        uni = state.filter(F.col("kind") == "u").select(
            F.col("key").alias("tok"), "n"
        )
        bg = state.filter(F.col("kind") == "b").select(
            F.col("key").alias("bg"), F.col("n").alias("nxy")
        )
        tots = uni.agg(F.sum("n").cast("bigint").alias("nn")).crossJoin(
            bg.agg(F.sum("nxy").cast("bigint").alias("bb"))
        )
        ux = uni.select(F.col("tok").alias("tx"), F.col("n").alias("nx"))
        uy = uni.select(F.col("tok").alias("ty"), F.col("n").alias("ny"))
        scored = (
            bg.filter(F.col("nxy") >= _COLL_MIN_SUPPORT)
            .withColumn("tx", F.split(F.col("bg"), " ").getItem(0))
            .withColumn("ty", F.split(F.col("bg"), " ").getItem(1))
            .join(ux, "tx")
            .join(uy, "ty")
            .crossJoin(F.broadcast(tots))  # bound: one row
            .withColumn(
                "ratio",
                F.expr(
                    "((CAST(nxy AS DOUBLE) * (CAST(nn AS DOUBLE)"
                    " * CAST(nn AS DOUBLE))) / CAST(bb AS DOUBLE))"
                    " / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))"
                ),
            )
        )
        ranked = scored.withColumn(
            "rank",
            F.row_number().over(
                _W.orderBy(F.col("ratio").desc(), "bg")
            ).cast("bigint"),
        )
        return (
            ranked.filter(F.col("rank") <= _COLL_TOPK)
            .select(
                F.col("bg").alias("bigram"),
                F.col("nxy").alias("n_pair"),
                "nx", "ny",
                F.round(F.log("ratio"), 6).alias("pmi_nats"),
                "rank",
            )
            .orderBy("rank")
        )


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
