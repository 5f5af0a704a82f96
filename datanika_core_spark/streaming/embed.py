"""Streaming embedding ingestion with near-dup rejection against the
warehouse-persisted IVF index — the vector-side twin of
streaming/curate.py::stream_curate (documents vs the MinHash store).

Per micro-batch (foreachBatch):
1. assign arriving vectors to the stored coarse quantizer (map-only
   against literal centroids — the index is only probed, never
   retrained inside the stream);
2. cosine-check each arrival against the SAME-cluster posting lists
   only: the batch side is tiny → broadcast; the index side is the
   cid-partitioned store, so the join prunes to the clusters the
   batch actually touches;
3. intra-batch dups resolve to the smallest vec_id;
4. survivors append to the index through IVFIndexStore.update()
   (anti-join keyed on vec_id → file-replay idempotent, same as the
   signature store).

This is IVF-bounded semantic dedup at ingest time: per arriving
vector the work is one centroid argmin + one posting-list scan of its
own cluster — never the whole index.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.ann_store import IVFIndexStore, _assign_expr
from datanika_core_spark.streaming.jobs import (
    StreamStats,
    drain,
    read_event_stream,
)
from datanika_core_spark.workloads.similarity import _s_cos


@dataclass
class EmbedIngestStats(StreamStats):
    rejected_dup: int = 0
    loaded: int = 0
    rejected_ids: list[int] = field(default_factory=list)


def stream_embed_ingest(
    spark: SparkSession,
    source_path: str,
    store: IVFIndexStore,
    threshold: float = 0.98,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> EmbedIngestStats:
    """Ingest all currently-available embedding files (availableNow),
    rejecting arrivals whose cosine vs an already-indexed (or
    earlier-id same-batch) vector in the SAME IVF cluster is >=
    ``threshold``. Returns per-stage accounting."""
    stats = EmbedIngestStats()

    def _absorb(batch_df: DataFrame, batch_id: int) -> None:
        vecs = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        assigned = vecs.select(
            "vec_id", "v", _assign_expr(store.centroids()).alias("cid")
        ).localCheckpoint(eager=True)  # reused by 3 branches

        new_side = assigned.select(
            F.col("vec_id").alias("new_id"),
            F.col("v").alias("nv"),
            "cid",
        )
        dup_sets = []
        if spark.catalog.tableExists(store.table):
            lists = spark.table(store.table)
            dup_sets.append(
                # bound: one micro-batch
                lists.join(F.broadcast(new_side), "cid")
                # a replayed file re-delivers vec_ids already in the
                # store; they'd match THEMSELVES at cosine 1.0 —
                # that's idempotent redelivery, not a duplicate
                .filter(F.col("vec_id") != F.col("new_id"))
                .filter(F.expr(_s_cos("nv", "v")) >= threshold)
                .select("new_id")
            )
        intra = (
            new_side.alias("a")
            .join(
                assigned.alias("b"),
                (F.col("a.cid") == F.col("b.cid"))
                & (F.col("a.new_id") > F.col("b.vec_id")),
            )
            .filter(F.expr(_s_cos("a.nv", "b.v")) >= threshold)
            .select("a.new_id")
        )
        dup_sets.append(intra)
        dups = dup_sets[0]
        for d in dup_sets[1:]:
            dups = dups.unionByName(d)
        # materialize the dup-id frame once; survivors prune via a
        # broadcast anti-join (no collect()-ed isin literals in the
        # plan). The collect is accounting only, micro-batch-bounded.
        dups_df = dups.distinct().localCheckpoint(eager=True)
        # bound: <= one micro-batch's vec ids
        rejected = sorted(r.new_id for r in dups_df.collect())
        stats.rejected_dup += len(rejected)
        stats.rejected_ids.extend(rejected)

        survivors = assigned.select("vec_id", "v").join(
            # bound: <= one micro-batch's vec ids
            F.broadcast(dups_df.withColumnRenamed("new_id", "vec_id")),
            "vec_id",
            "left_anti",
        )
        stats.loaded += store.update(survivors)

    # no reset_state: the vec_id-keyed left-anti append makes a full
    # replay idempotent
    return drain(
        spark,
        read_event_stream(
            spark, source_path, max_files_per_trigger=max_files_per_trigger
        ),
        _absorb,
        kind="embed", state_name=store.table,
        has_state=lambda: spark.catalog.tableExists(store.table),
        refresh=(store.table,), checkpoint_dir=checkpoint_dir,
        timeout_sec=timeout_sec, stats=stats,
    )
