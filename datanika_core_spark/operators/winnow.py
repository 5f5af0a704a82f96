"""Winnowing fingerprint index (MOSS — Schleimer, Wilkinson & Aiken,
SIGMOD 2003) with a warehouse-persisted store: CHARACTER-level
verbatim-overlap detection that pays fingerprinting cost only for NEW
documents — the char-level sibling of
operators/minhash.MinHashSignatureStore, and the incremental operating
mode of workloads/text_dedup.dedup_winnowing_fingerprints.

Guarantee: any verbatim substring of >= K + W - 1 characters shared by
two documents yields at least one shared fingerprint (the window
minimum of a shared window is shared). The store holds ONLY 8-byte
fingerprints — no text ever enters it, so a probe physically cannot
re-fingerprint the corpus: per-batch cost is the batch's own grams
plus one equi-join against the stored fingerprints.

At 100 TB: fingerprints are ~1/W of the text bytes; the store is an
append-only (doc_id, f) table bucketable by ``f`` so the probe join
co-locates. A hot gram enters the index only where it is a window
MINIMUM, which caps posting-list fan-out the way rarest-prefix
selection does for the token-shingle family.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.minhash import spark_hash_expr

WN_K = 16  # char-gram length
WN_W = 16  # winnow window, in grams
WN_MIN_SHARED = 3  # noise floor: hash coincidences / formulaic phrases


def with_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = WN_K, w: int = WN_W
) -> DataFrame:
    """doc rows → (doc_id, fp array<bigint>): distinct window-minimum
    hashes of the normalized text's char ``k``-grams. Docs shorter
    than k + w - 1 chars get no row (nothing is guaranteed for them).
    Pure per-row higher-order lambdas — no UDF, no shuffle.

    The gram array is LET-BOUND via ``transform(array(grams),
    hs -> ...)[0]``: a projected ``__hs`` column gets collapse-inlined
    into the window lambda (projection pushdown walks it below any
    repartition too), and a non-lambda subexpression inside a lambda
    body re-evaluates PER ELEMENT — every window would recompute the
    whole md5 gram array, turning the pass quadratic (measured 162 s
    → 4.5 s at sf0.01). Binding it to a lambda variable evaluates it
    exactly once per row; only localCheckpoint (rejected: leaks
    persisted blocks) otherwise stops the inlining."""
    norm = F.lower(F.trim(F.col(text_col)))
    grams = (
        f"transform(sequence(1, length(__t) - {k} + 1),"
        f" i -> {spark_hash_expr(f'substring(__t, i, {k})')})"
    )
    let_fp = (
        f"transform(array({grams}), hs -> "
        f"array_distinct(transform(sequence(1, size(hs) - {w} + 1),"
        f" j -> array_min(slice(hs, j, {w})))))[0]"
    )
    return (
        df.withColumn("__t", norm)
        .filter(F.length("__t") >= k + w - 1)
        .select("doc_id", F.expr(let_fp).alias("fp"))
    )


@dataclass
class WinnowingFingerprintStore:
    """Warehouse-persisted winnowing index.

    ``table`` holds (doc_id bigint, f bigint) EXPLODED — one row per
    (doc, fingerprint), the layout the probe equi-join wants (and the
    one a ``CLUSTERED BY (f)`` bucketing co-locates). Append-only:
    ``update`` fingerprints and appends only unseen doc_ids.
    """

    spark: SparkSession
    table: str
    k: int = WN_K
    w: int = WN_W

    def update(self, corpus: DataFrame, text_col: str = "text") -> int:
        """Fingerprint docs not yet in the store; append. Returns the
        number of (doc, fingerprint) rows appended (observed during
        the write — no extra scan). Replayed doc_ids are skipped, so
        file-replay is idempotent like the signature store."""
        from datanika_core_spark.operators.writers import TableWriter

        new_docs = corpus.select("doc_id", text_col)
        if self.spark.catalog.tableExists(self.table):
            existing = self.spark.table(self.table).select("doc_id").distinct()
            new_docs = new_docs.join(existing, "doc_id", "left_anti")
        fps = with_fingerprints(new_docs, text_col, self.k, self.w).select(
            "doc_id", F.explode("fp").alias("f")
        )
        fps, obs = TableWriter._observed(fps)
        mode = (
            "append"
            if self.spark.catalog.tableExists(self.table)
            else "overwrite"
        )
        fps.write.format("parquet").mode(mode).saveAsTable(self.table)
        return obs.get["rows"]

    def match_batch(
        self,
        batch: DataFrame,
        text_col: str = "text",
        min_shared: int = WN_MIN_SHARED,
    ) -> DataFrame:
        """Flag batch docs sharing >= ``min_shared`` fingerprints with
        a STORED doc or an earlier-id doc in the same batch. Returns
        (doc_new, doc_old, shared). The batch side is one micro-batch
        (tiny) → broadcast into the store probe; the store is only
        ever probed, never re-fingerprinted (it contains no text)."""
        bfp = with_fingerprints(batch, text_col, self.k, self.w).select(
            "doc_id", F.explode("fp").alias("f")
        ).localCheckpoint(eager=True)  # micro-batch-sized; feeds 2 joins
        pairs = None
        if self.spark.catalog.tableExists(self.table):
            stored = self.spark.table(self.table)
            pairs = (
                # bound: one micro-batch's fingerprints
                F.broadcast(bfp).alias("n")
                .join(stored.alias("o"), F.col("n.f") == F.col("o.f"))
                .filter(F.col("n.doc_id") != F.col("o.doc_id"))
                .select(
                    F.col("n.doc_id").alias("doc_new"),
                    F.col("o.doc_id").alias("doc_old"),
                    F.col("n.f").alias("f"),
                )
            )
        intra = (
            bfp.alias("x")
            .join(
                bfp.alias("y"),
                (F.col("x.f") == F.col("y.f"))
                & (F.col("x.doc_id") > F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_new"),
                F.col("y.doc_id").alias("doc_old"),
                F.col("x.f").alias("f"),
            )
        )
        pairs = intra if pairs is None else pairs.unionByName(intra)
        # count DISTINCT fingerprints per pair: on a replayed batch a
        # neighbor doc exists in the store AND the batch, so the
        # cross ∪ intra union would double-count every shared
        # fingerprint and halve the effective noise floor
        return (
            pairs.groupBy("doc_new", "doc_old")
            .agg(F.count_distinct("f").cast("bigint").alias("shared"))
            .filter(F.col("shared") >= min_shared)
        )

    def dedup_batch(
        self,
        batch: DataFrame,
        text_col: str = "text",
        min_shared: int = WN_MIN_SHARED,
    ) -> tuple[DataFrame, list[int]]:
        """Reject batch docs that verbatim-overlap the store (or an
        earlier-id batch doc); append survivors' fingerprints.
        Returns (kept_batch, sorted rejected ids). The prune is a
        broadcast anti-join on the materialized flagged-id frame —
        the same no-literals convention as the streaming curate path."""
        from datanika_core_spark.blocks import (
            persistent_rdd_ids,
            unpersist_rdd_ids,
        )

        ids0 = persistent_rdd_ids(self.spark)
        pairs = self.match_batch(batch, text_col, min_shared)
        ids_probe = persistent_rdd_ids(self.spark) - ids0
        flagged = (
            pairs
            .select(F.col("doc_new").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # flagged is materialized: the batch-fingerprint checkpoint
        # match_batch pinned is no longer an input — free it so an
        # N-batch ingest holds O(1) block sets (flagged itself stays;
        # the returned kept frame reads it)
        unpersist_rdd_ids(self.spark, ids_probe)
        # bound: <= one micro-batch's doc ids
        rejected = sorted(r.doc_id for r in flagged.collect())
        # bound: <= one micro-batch's doc ids
        kept = batch.join(F.broadcast(flagged), "doc_id", "left_anti")
        self.update(kept, text_col)
        return kept, rejected
