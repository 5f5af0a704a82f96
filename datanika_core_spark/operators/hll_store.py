"""Persisted HyperLogLog register store — incremental distinct
counting for the sketch-store family (MinHashSignatureStore:
near-dup; BloomFilterStore: membership; IVFIndexStore: ANN;
WinnowingFingerprintStore: verbatim overlap; this: cardinality).

The store is a (group, j, m_rho) register table — m = 64 rows per
group — persisted in the warehouse. ``update()`` max-merges a new
batch's registers into the stored ones (HLL union IS register-wise
max, an abelian idempotent monoid), so:

- successive ingest batches grow one shared sketch without ever
  rescanning old data;
- REPLAYED rows are free: a value already absorbed can only re-raise
  a register to the value it already has (idempotence by
  construction — no dedup bookkeeping needed, unlike counters);
- per-partition / per-day sketches union losslessly (proved per-run
  by the ``hll_distinct_users_by_type`` workload's merge flag).

At 100 TB: COUNT(DISTINCT key) over the full history becomes a scan
of |groups|×64 stored rows plus one register-max over the new batch.
The estimate math (integer-exact Z accumulation, linear-counting
correction) is shared verbatim with the oracle-checked workload —
see workloads/sketches.py::hll_distinct_users_by_type.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.workloads.sketches import (
    _HLL_RHO,
    _S_HLL_CORR,
    _cms_spark_hash,
)


def batch_registers(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """(group, j, m_rho) registers of one batch — a single
    map-side-combinable groupBy; |groups|×64 rows out."""
    # grp is cast to string here because that IS the persisted
    # schema ('grp string, j int, m_rho int') — a non-string group
    # would otherwise merge as a different key than the stored one; and
    # null value_col rows are dropped (a NULL hash would emit a
    # spurious (grp, NULL, NULL) register row), mirroring how
    # estimate()'s 0..63 grid ignores missing registers.
    hashed = df.select(
        F.col(group_col).cast("string").alias("grp"),
        F.expr(
            _cms_spark_hash(f"cast({value_col} as string)")
        ).alias("h"),
    ).filter(F.col("h").isNotNull())
    return (
        hashed.select(
            "grp",
            (F.col("h") % 64).alias("j"),
            F.expr("h div 64").alias("w"),
        )
        .select("grp", "j", F.expr(_HLL_RHO).alias("r"))
        .groupBy("grp", "j")
        .agg(F.max("r").alias("m_rho"))
    )


@dataclass
class HLLSketchStore:
    """Warehouse-persisted per-group HLL registers (m = 64)."""

    spark: SparkSession
    table: str

    def __post_init__(self):
        self.state = MergeStore(
            self.spark, self.table, "grp string, j int, m_rho int",
            keys=["grp", "j"], merge={"m_rho": "max"},
        )

    def update(self, df: DataFrame, group_col: str, value_col: str) -> None:
        """Max-merge a batch's registers into the store. Replay-safe
        and order-independent (register max is an idempotent
        commutative monoid)."""
        self.state.absorb(batch_registers(df, group_col, value_col))

    def estimate(self) -> DataFrame:
        """Per-group distinct estimates from the stored registers:
        (grp, n_est) with the standard linear-counting small-range
        correction — the same integer-exact accumulation as the
        oracle-checked workload."""
        regs = self.state.rows()
        grid = (
            regs.select("grp").distinct()
            .select("grp",
                    F.explode(F.sequence(F.lit(0), F.lit(63))).alias("j"))
        )
        acc = (
            grid.join(regs, ["grp", "j"], "left")
            .groupBy("grp")
            .agg(
                F.expr("cast(sum(shiftleft(1L, 55 - coalesce(m_rho, 0)))"
                       " as bigint)").alias("zsum"),
                F.expr("cast(sum(case when m_rho is null then 1 else 0 end)"
                       " as bigint)").alias("v"),
            )
        )
        return acc.select(
            "grp", F.round(F.expr(_S_HLL_CORR), 4).alias("n_est")
        )
