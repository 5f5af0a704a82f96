"""Persisted distributed Bloom filter — the incremental-ingest
membership index, completing the sketch-store triad alongside
MinHashSignatureStore (near-dup) and IVFIndexStore (ANN).

The filter is the ≤``m/64``-row (word, bits) table built by
``workloads/sketches.py``'s construction, persisted in the warehouse.
``update()`` OR-merges a new batch's words into the stored bitset —
a bit_or aggregation over (stored ∪ new) words, which is exactly how
Bloom filters union — so successive ingest batches grow one shared
index without ever rescanning old data. ``probe()`` broadcasts the
≈8 KB table and keeps only batch rows whose k positions are all set;
the caller exact-verifies survivors (Bloom guarantees no false
negatives, so prefilter + verify == exact membership).

At 100 TB: the corpus is hashed ONCE over its lifetime (per batch,
at ingest); every later batch's dedup reads an 8 KB table instead of
the corpus. Sizing m/k for the expected cardinality is the usual
Bloom tradeoff — false positives only cost verification work, never
correctness.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.workloads.sketches import _BF_K, _BF_M, _s_positions


def _word_bits(df: DataFrame, value_col: str) -> DataFrame:
    """values → exploded (word, bit) rows for the k positions."""
    return (
        df.select(F.explode(F.expr(_s_positions(value_col))).alias("pos"))
        .select(
            F.expr("pos div 64").alias("word"),
            F.expr("shiftleft(1L, int(pmod(pos, 64)))").alias("bit"),
        )
    )


@dataclass
class BloomFilterStore:
    """Warehouse-persisted Bloom bitset over a value column."""

    spark: SparkSession
    table: str
    k: int = _BF_K
    m: int = _BF_M

    def __post_init__(self):
        self.state = MergeStore(
            self.spark, self.table, "word bigint, bits bigint",
            keys=["word"], merge={"bits": "bit_or"},
        )

    def update(self, values: DataFrame, value_col: str) -> None:
        """OR-merge a batch into the stored bitset (Bloom union).
        One scan of the batch; the stored table is ≤ m/64 rows."""
        self.state.absorb(
            _word_bits(values, value_col)
            .groupBy("word")
            .agg(F.bit_or("bit").alias("bits"))
        )

    def probe(self, batch: DataFrame, value_col: str,
              keep_cols: list[str]) -> DataFrame:
        """Rows of ``batch`` whose value MIGHT be in the stored set
        (all k bits set). No false negatives; callers exact-verify
        the survivors."""
        words = self.state.rows()
        # distinct first: a duplicated input row would double its
        # exploded positions and fail the hits == k test — a false
        # negative, which a Bloom filter must never produce
        probes = batch.select(*keep_cols, F.col(value_col)).distinct().select(
            *keep_cols,
            F.explode(F.expr(_s_positions(value_col))).alias("pos"),
        ).select(
            *keep_cols,
            F.expr("pos div 64").alias("word"),
            F.expr("shiftleft(1L, int(pmod(pos, 64)))").alias("bit"),
        )
        return (
            # bound: m/64 bitset words, fixed by the filter size
            probes.join(F.broadcast(words), "word")
            .filter((F.col("bits").bitwiseAND(F.col("bit"))) == F.col("bit"))
            .groupBy(*keep_cols)
            .agg(F.count(F.lit(1)).alias("hits"))
            .filter(F.col("hits") == self.k)
            .select(*keep_cols)
        )
