"""Persisted table-content fingerprint store — the incremental twin
of the oracle-checked ``table_fingerprint_xor`` workload (the
replica-comparison primitive of the sketch-store family;
cf. cms_store.py frequency, hll_store.py cardinality).

The store is a (grp, n_rows, fp) table — one row per fingerprinted
partition — where ``fp`` is the XOR fold of the partition's row
content hashes. XOR is an abelian GROUP (not just a monoid): merging
a new micro-batch is ``fp ⊕ fp_batch`` and retracting a deleted
row's hash is the SAME operation, so the store supports true
incremental upsert accounting (apply a CDC delta by xor-ing old
hashes out and new ones in — cf. operators/cdc.py, whose final-state
semantics this store can audit cheaply).

Replay discipline: xor is self-inverting, so a REDELIVERED
micro-batch doesn't just double-count — it CANCELS its own rows out
of the fingerprint. The batch-id watermark of the underlying
:class:`~datanika_core_spark.operators.merge_store.MergeStore` (a
table property, not a row) therefore guards the merge exactly like
the CMS/MG counter stores; see streaming/freq.py for the
crash-window analysis.

At 100 TB: each micro-batch reduces to |groups| (grp, n, fp) rows
map-side; the merge touches |groups| stored rows; comparing two
replicas compares fingerprint tables, never data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore

def batch_fingerprint(rows: DataFrame) -> DataFrame:
    """(grp, n_rows, fp) of one batch: ``rows`` must carry a ``grp``
    string column and an ``h`` BIGINT row-content hash (the shared
    md5 text — workloads/cdc.py::_S_FP). One map-side-combinable
    groupBy; |groups| rows out."""
    return rows.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("bit_xor(h)").cast("bigint").alias("fp"),
    )


@dataclass
class FingerprintStore:
    """Warehouse-persisted xor content fingerprints per group."""

    spark: SparkSession
    table: str

    def __post_init__(self):
        self.state = MergeStore(
            self.spark, self.table, "grp string, n_rows bigint, fp bigint",
            keys=["grp"], merge={"n_rows": "sum", "fp": "bit_xor"},
        )

    def update(self, rows: DataFrame, batch_id: int | None = None) -> None:
        """Fold a batch's (grp, h) rows into the stored fingerprints.
        Commutative and associative across any batch split; NOT
        idempotent (xor self-cancels), so redelivered batch ids are
        skipped via the watermark. The merged table is written through
        the staged swap, so a crash leaves either the old or the new
        fingerprints (and their batch id), never a partial table."""
        self.state.absorb(batch_fingerprint(rows), batch_id)

    def fingerprints(self) -> DataFrame:
        """(grp, n_rows, fp) per fingerprinted group."""
        return self.state.rows()
