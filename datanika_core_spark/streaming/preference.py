"""Streaming Bradley-Terry preference store — the incremental twin
of the batch ``preference_bradley_terry`` workload (the RLHF
preference-collection shape: comparisons arrive continuously, the
fitted strengths are queryable at any point).

Design (the PH-monitor convention): the BT fit is a path-dependent
iteration over the comparison matrix, so the store does NOT fold
strengths across micro-batches. It persists the ADDITIVE
per-(order, brand) quantity grid the comparisons are derived from —
a micro-batch boundary can split an order's line items, and summing
quantities per (ok, b) merges the halves exactly — and ``report()``
recomputes wins / n_ij / the MM iteration through the SAME
``bt_strengths`` plan the batch workload runs. Consequences:

- exact batch parity by construction (identical fit over an
  identical grid — tests/test_stream_preference.py asserts
  equality, including a stream split MID-ORDER);
- order-split safety: quantities are commutative/associative;
- arrival-order independence;
- state ∝ |orders| x |brands-per-order| — an index-store like the
  substring/minhash stores (grows with corpus, not with replay).

Replay discipline: quantities are additive (not idempotent), so the
batch-id watermark of the
:class:`~datanika_core_spark.operators.merge_store.MergeStore`
guards redelivery — the CMS/MG/PH store convention. The grid is
corpus-sized, and the store's staged swap writes it without a driver
collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.streaming.jobs import StreamStats, drain


class StreamPreferenceStore:
    """Persisted (order, brand, total quantity) grid; queryable as
    the fitted Bradley-Terry strengths at any point."""

    def __init__(
        self,
        spark: SparkSession,
        grid_table: str,
        part_dim: DataFrame,
    ):
        self.spark = spark
        self.grid_table = grid_table
        #: static enrichment dimension (p_partkey, p_brand) —
        #: joined into every batch
        self.part_dim = part_dim.select("p_partkey", "p_brand")
        self.state = MergeStore(
            spark, grid_table, "ok bigint, b string, q double",
            keys=["ok", "b"], merge={"q": "sum"},
        )

    def absorb(
        self, batch: DataFrame, batch_id: int | None = None
    ) -> None:
        """Fold a micro-batch of line items (l_orderkey, l_partkey,
        l_quantity) into the quantity grid. Additive, so redelivery
        is guarded by the watermark."""
        delta = (
            batch.join(
                self.part_dim,
                F.col("p_partkey") == F.col("l_partkey"),
            )
            .groupBy(
                F.col("l_orderkey").alias("ok"),
                F.col("p_brand").alias("b"),
            )
            .agg(F.sum("l_quantity").cast("double").alias("q"))
        )
        self.state.absorb(delta, batch_id)

    def report(self) -> DataFrame:
        """Same columns and math as the batch workload: (brand,
        strength, wins, comparisons) — bt_strengths over the stored
        grid."""
        from datanika_core_spark.workloads.evalmetrics import (
            bt_strengths,
        )

        return bt_strengths(self.spark, self.state.rows())


def stream_preferences(
    spark: SparkSession,
    source_path: str,
    store: StreamPreferenceStore,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 120,
) -> StreamStats:
    """Drain all currently-available line-item parquet files
    (availableNow) into the preference store; query
    ``store.report()`` any time."""
    reader = spark.readStream.schema(
        "l_orderkey bigint, l_partkey bigint, l_quantity double"
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", max_files_per_trigger
        )
    return drain(
        spark, reader.parquet(source_path), store.absorb,
        kind="preference", state_name=store.grid_table,
        has_state=store.state.exists, refresh=(store.grid_table,),
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
    )
