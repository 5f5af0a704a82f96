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

Replay discipline: quantities are additive (not idempotent), so a
batch-id WATERMARK row guards redelivery — the CMS/MG/PH store
convention.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: watermark sentinel: BOTH keys must match, so a real order key -1
#: can never shadow it
_WM_OK = -1
_WM_B = "__batch watermark__"

_GRID_SCHEMA = "ok bigint, b string, q double"


def _is_wm():
    return (F.col("ok") == _WM_OK) & (F.col("b") == _WM_B)


@dataclass
class PreferenceStats:
    batches: int = 0
    arrived: int = 0


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
        #: broadcast-joined into every batch
        self.part_dim = part_dim.select("p_partkey", "p_brand")

    def last_batch_id(self) -> int | None:
        if not self.spark.catalog.tableExists(self.grid_table):
            return None
        rows = (
            self.spark.table(self.grid_table)
            .filter(_is_wm())
            .select("q")
            .collect()
        )
        return int(rows[0][0]) if rows else None

    def absorb(
        self, batch: DataFrame, batch_id: int | None = None
    ) -> None:
        """Fold a micro-batch of line items (l_orderkey, l_partkey,
        l_quantity) into the quantity grid. Additive, so redelivery
        is guarded by the watermark."""
        spark = self.spark
        wm = self.last_batch_id()
        if batch_id is not None and wm is not None and batch_id <= wm:
            return  # redelivered batch — grid already folded
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
        if spark.catalog.tableExists(self.grid_table):
            merged = (
                spark.table(self.grid_table)
                .filter(~_is_wm())
                .unionByName(delta)
                .groupBy("ok", "b")
                .agg(F.sum("q").alias("q"))
            )
        else:
            merged = delta
        # stage through a temp location so the overwrite doesn't read
        # the table it replaces (store convention); the grid is
        # corpus-sized, so NO driver collect here — unlike the PH
        # counter grid this one grows with orders
        stage = f"{self.grid_table}_stage"
        merged.write.format("parquet").mode("overwrite").saveAsTable(
            stage
        )
        out = spark.table(stage)
        new_wm = max(
            (x for x in (wm, batch_id) if x is not None), default=None
        )
        if new_wm is not None:
            wm_row = spark.createDataFrame(
                [(_WM_OK, _WM_B, float(new_wm))], _GRID_SCHEMA
            )
            out = out.unionByName(wm_row)
        out.write.format("parquet").mode("overwrite").saveAsTable(
            self.grid_table
        )
        spark.catalog.refreshTable(self.grid_table)

    def _grid(self) -> DataFrame:
        if not self.spark.catalog.tableExists(self.grid_table):
            return self.spark.createDataFrame([], _GRID_SCHEMA)
        return self.spark.table(self.grid_table).filter(~_is_wm())

    def report(self) -> DataFrame:
        """Same columns and math as the batch workload: (brand,
        strength, wins, comparisons) — bt_strengths over the stored
        grid."""
        from datanika_core_spark.workloads.evalmetrics import (
            bt_strengths,
        )

        return bt_strengths(self.spark, self._grid())


def stream_preferences(
    spark: SparkSession,
    source_path: str,
    store: StreamPreferenceStore,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 120,
) -> PreferenceStats:
    """Drain all currently-available line-item parquet files
    (availableNow) into the preference store; query
    ``store.report()`` any time."""
    from datanika_core_spark.streaming.jobs import resolve_checkpoint

    stats = PreferenceStats()

    schema = (
        "l_orderkey bigint, l_partkey bigint, l_quantity double"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", max_files_per_trigger
        )
    sdf = reader.parquet(source_path)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        n = batch.count()
        stats.batches += 1
        stats.arrived += n
        if n:
            store.absorb(batch, batch_id=batch_id)

    ckpt_loc = resolve_checkpoint(
        spark, checkpoint_dir, "preference", store.grid_table,
        has_state=lambda: spark.catalog.tableExists(store.grid_table),
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
    return stats
