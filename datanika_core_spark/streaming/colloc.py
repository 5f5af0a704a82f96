"""Streaming collocation monitor — the incremental twin of the batch
``collocation_pmi_bigrams`` workload (workloads/corpus_quality.py):
micro-batches of documents tokenize in-batch and ADD-merge their
unigram and adjacent-bigram counts into one persisted counter table,
so the PMI collocation ranking stays queryable at any point of the
stream without rescanning history. This closes the last batch
workload without a streaming twin in the additive-counter family.

State: (kind, key, n) rows — kind 'u' for unigram counts, 'b' for
bigram counts, plus the '_wm' batch-id watermark row. Counts are
commutative monoids, so file-delivery ORDER is irrelevant; only
REPLAY needs the watermark (counter addition is not idempotent —
same discipline as the CMS/MG/DQ stores).

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

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.streaming.jobs import read_event_stream
from datanika_core_spark.workloads.corpus_quality import (
    _COLL_MIN_SUPPORT,
    _COLL_TOPK,
)


@dataclass
class CollocStats:
    batches: int = 0
    arrived: int = 0


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

    def last_batch_id(self) -> int | None:
        if not self.spark.catalog.tableExists(self.counters_table):
            return None
        rows = (
            self.spark.table(self.counters_table)
            .filter(F.col("kind") == "_wm")
            .select("n")
            .collect()
        )
        return int(rows[0][0]) if rows else None

    def absorb(self, batch: DataFrame, batch_id: int | None = None,
               text_col: str = "text") -> None:
        spark = self.spark
        wm = self.last_batch_id()
        if batch_id is not None and wm is not None and batch_id <= wm:
            return  # replayed batch — counters already contain it
        delta = _batch_counts(batch, text_col)
        if spark.catalog.tableExists(self.counters_table):
            merged = (
                spark.table(self.counters_table)
                .filter(F.col("kind") != "_wm")
                .unionByName(delta)
                .groupBy("kind", "key")
                .agg(F.sum("n").cast("bigint").alias("n"))
            )
        else:
            merged = delta
        new_wm = max(
            (x for x in (wm, batch_id) if x is not None), default=None
        )
        if new_wm is not None:
            wm_row = spark.createDataFrame(
                [("_wm", "", int(new_wm))], "kind string, key string, n bigint"
            )
            merged = merged.unionByName(wm_row)
        # materialize before the overwrite: the merged plan READS the
        # same table the write replaces (same hazard the DQ monitor
        # documents)
        out = merged.localCheckpoint(eager=True)
        out.write.format("parquet").mode("overwrite").saveAsTable(
            self.counters_table
        )
        out.unpersist()
        spark.catalog.refreshTable(self.counters_table)

    def report(self) -> DataFrame:
        """Identical shape + math to collocation_pmi_bigrams: the
        top-{_COLL_TOPK} bigrams by the exact-integer PMI ratio."""
        from pyspark.sql import Window as _W

        state = self.spark.table(self.counters_table)
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
) -> CollocStats:
    """Absorb all currently-available document files (availableNow)
    into the collocation counters; query ``monitor.report()`` any
    time after."""
    stats = CollocStats()
    sdf = read_event_stream(
        spark, source_path, max_files_per_trigger=max_files_per_trigger
    )

    def _sink_body(batch_df: DataFrame, batch_id: int) -> None:
        if spark.catalog.tableExists(monitor.counters_table):
            spark.catalog.refreshTable(monitor.counters_table)
        stats.batches += 1
        n = batch_df.count()
        stats.arrived += n
        if n == 0:
            return
        monitor.absorb(batch_df, batch_id=batch_id, text_col=text_col)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from datanika_core_spark.blocks import scoped_blocks

        with scoped_blocks(spark):
            _sink_body(batch_df, batch_id)

    from datanika_core_spark.streaming.jobs import resolve_checkpoint

    ckpt_loc = resolve_checkpoint(
        spark, checkpoint_dir, "colloc", monitor.counters_table,
        has_state=lambda: monitor.last_batch_id() is not None,
        reset_state=lambda: spark.sql(
            f"DROP TABLE IF EXISTS {monitor.counters_table}"
        ),
    )
    q = (
        sdf.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt_loc)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    if spark.catalog.tableExists(monitor.counters_table):
        spark.catalog.refreshTable(monitor.counters_table)
    return stats
