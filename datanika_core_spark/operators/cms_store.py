"""Persisted Count-Min-Sketch store — incremental frequency
estimation for the sketch-store family (MinHashSignatureStore:
near-dup; BloomFilterStore: membership; IVFIndexStore: ANN;
WinnowingFingerprintStore: verbatim overlap; HLLSketchStore:
cardinality; this: frequency / heavy hitters).

The store is a (d, bucket, cnt) counter table — ≤ d×w rows total —
persisted in the warehouse. ``update()`` ADD-merges a new batch's
counters into the stored ones (CMS union is counter-wise sum, an
abelian group), so successive ingest batches grow one shared sketch
without rescanning old data, and per-partition / per-day sketches
merge losslessly.

The merge discipline is the OPPOSITE of the HLL store's and that
contrast is the point of keeping both: register max is idempotent
(replays free), counter addition is NOT — a redelivered micro-batch
double-counts. The streaming twin therefore runs under a
checkpointed availableNow sink (effectively-once batch delivery),
exactly like the counter-based streaming workloads; see
streaming/freq.py for the caveat in context.

At 100 TB: per-token frequency over the full history becomes a probe
of d stored counters per token (broadcast the ≤ d×w-row sketch);
the sketch build is explode ×d → groupBy(d, bucket), collapsed by
the map-side combiner to ≤ d×w rows per partition regardless of
corpus size. Hash and sizing are shared verbatim with the
oracle-checked workload — see
workloads/sketches.py::cms_heavy_hitters_eval.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.workloads.sketches import (
    _CMS_D,
    _CMS_W,
    _cms_spark_hash,
)


def _bucket():
    # built lazily: F.expr needs an active SparkContext
    return (
        F.expr(_cms_spark_hash("concat(cast(d as string), ':', tok)"))
        % _CMS_W
    )


def batch_sketch(toks: DataFrame) -> DataFrame:
    """(d, bucket, cnt) counters of one batch's ``tok`` column — one
    map-side-combinable groupBy; ≤ d×w rows out."""
    depths = toks.sparkSession.range(_CMS_D).select(
        F.col("id").cast("int").alias("d")
    )
    return (
        toks.crossJoin(F.broadcast(depths))  # bound: _CMS_D rows
        .select("tok", "d")
        .withColumn("bucket", _bucket())
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


@dataclass
class CMSSketchStore:
    """Warehouse-persisted CMS counters (d=4 rows × w=256 buckets)."""

    spark: SparkSession
    table: str

    def __post_init__(self):
        self.state = MergeStore(
            self.spark, self.table, "d int, bucket bigint, cnt bigint",
            keys=["d", "bucket"], merge={"cnt": "sum"},
        )

    def update(self, toks: DataFrame, batch_id: int | None = None) -> None:
        """Add-merge a batch's counters into the store. Order- and
        partitioning-independent (addition commutes); counter
        addition itself is NOT idempotent, so replay safety comes
        from the batch_id watermark: pass the sink's micro-batch id
        and a redelivered batch (checkpointed foreachBatch crashing
        after the state swap but before the streaming commit) is
        recognized as already merged and skipped. Updates without
        a batch_id keep the old effectively-once caveat."""
        self.state.absorb(batch_sketch(toks), batch_id)

    def estimate(self, probe_toks: DataFrame) -> DataFrame:
        """(tok, cms_est) point-frequency estimates for a ``tok``
        probe frame: min over the d counter rows each token hashes
        into. Never underestimates; overestimate is bucket-collision
        mass (self-measured by the batch workload)."""
        probes = probe_toks.select("tok").distinct().withColumn(
            "d", F.explode(F.expr(f"sequence(0, {_CMS_D - 1})"))
        ).withColumn("d", F.col("d").cast("int")).withColumn(
            "bucket", _bucket()
        )
        sketch = self.state.rows()
        return (
            # bound: <= d x w counters, fixed by the sketch shape
            probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
            .groupBy("tok")
            .agg(
                F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                .cast("bigint")
                .alias("cms_est")
            )
        )
