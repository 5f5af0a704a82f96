"""SemDeDup — semantic deduplication over the `embeddings` table
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"): cluster the embedding space with
k-means, then prune near-duplicate *pairs* only WITHIN each cluster,
so the quadratic pairwise-cosine step is bounded by cluster size
instead of corpus size (beyond-reference, SURVEY.md §7 Phase 4).

Scale shape at billions of vectors:
- cluster assignment is map-only against broadcast (literal)
  centroids — the corpus is scanned, never shuffled, exactly like
  `kmeans_lloyd_embeddings`;
- the within-cluster pair scan shuffles on `cid` once into a
  per-cluster Arrow batch, where a blocked numpy matmul scores all
  pairs (the dense-kernel exception to "UDFs are the slow path" —
  same pattern as knn_cosine_topk_vectorized); with k grown
  proportionally to N (SemDeDup uses k ≈ sqrt(N)), per-cluster
  cardinality stays bounded, so the scan stays linear-ish overall
  and never degenerates into the all-pairs product;
- the removal rule is local to a cluster → embarrassingly parallel.

Determinism: centroids are the first K vectors (same seeding as the
k-means workload); distances and cosines use the shared left-fold
formulas from `workloads/similarity.py`, so both engines see
bit-identical doubles before the 6-dp output rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.workloads import workload
from datanika_core_spark.workloads.similarity import (
    _DIM,
    _O_DOT,
    _O_SQD,
    _O_VECTORS,
    _S_DOT,
    _S_SQD,
    _vectors,
)

_SD_K = 8        # coarse clusters (≈ sqrt(N) at real scale)
_SD_TAU = 0.30   # cosine threshold: "semantically duplicate"


def _sd_assign(vecs: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Map-only argmin assignment against literal centroids
    (broadcast-variable pattern at expression level); ties break on
    centroid id. Mirrors `_o_sd_assign` below operation-for-operation.
    """
    dist_cols = F.array(*[
        F.struct(
            F.expr(_S_SQD.format(
                a="v",
                b=f"array({', '.join(repr(x) + 'd' for x in cvec)})",
            )).alias("dist"),
            F.lit(cid).cast("bigint").alias("cid"),
        )
        for cid, cvec in sorted(cents.items())
    ])
    return vecs.select(
        "vec_id", "v", F.array_min(dist_cols)["cid"].alias("cid")
    )


_O_SD_ASSIGN = f"""
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_O_SQD.format(a='e.v', b='c.cvec', n=_DIM)}, c.cid
           ) AS rn
    FROM vecs e CROSS JOIN cents c
  ) WHERE rn = 1
"""

# Pre-normalized vectors make the per-pair cosine a single dot
# product: norms are computed N times instead of N² times. The
# normalize-then-dot operation order is IDENTICAL on both engines so
# the doubles still agree bit-for-bit.
_S_NORMED = f"transform(v, x -> x / sqrt({_S_DOT.format(a='v', b='v')}))"
_O_NORMED = (f"list_transform(v, x -> x / "
             f"sqrt({_O_DOT.format(a='v', b='v', n=_DIM)}))")


def _prune_cluster(pdf):
    """One cluster's pair scan: a blocked numpy matmul over the
    pre-normalized vectors. Mirrors `knn_cosine_topk_vectorized`'s
    documented exception to "UDFs are the slow path" — dense numeric
    kernels belong in BLAS, not in per-pair JVM expression trees
    (the 64-term dot as a join condition exceeds HotSpot's
    huge-method JIT budget and runs ~10 µs/pair interpreted; the
    matmul does the whole cluster in milliseconds). Blocked by 1024
    rows so peak memory is block × cluster, not cluster²."""
    import numpy as np
    import pandas as pd

    if not len(pdf):
        return pd.DataFrame({"keeper": [], "removed": [], "c": []})
    order = pdf["vec_id"].to_numpy().argsort()
    ids = pdf["vec_id"].to_numpy()[order]
    V = np.stack(pdf["nv"].to_numpy())[order].astype(np.float64)
    out_k, out_r, out_c = [], [], []
    for lo in range(0, len(ids), 1024):
        hi = min(lo + 1024, len(ids))
        S = V[lo:hi] @ V.T                     # block × cluster
        bi, bj = np.nonzero(S >= _SD_TAU)
        keep = (lo + bi) < bj                  # keeper index < removed
        bi, bj = bi[keep], bj[keep]
        out_k.append(ids[lo + bi])
        out_r.append(ids[bj])
        out_c.append(S[bi, bj])
    return pd.DataFrame({
        "keeper": np.concatenate(out_k) if out_k else [],
        "removed": np.concatenate(out_r) if out_r else [],
        "c": np.concatenate(out_c) if out_c else [],
    })


@workload(
    "semdedup_embedding_prune",
    headline=True,
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
cents AS (SELECT vec_id AS cid, v AS cvec FROM vecs WHERE vec_id < {_SD_K}),
assigned AS ({_O_SD_ASSIGN}),
normed AS (SELECT vec_id, cid, {_O_NORMED} AS nv FROM assigned),
pairs AS (
  SELECT a.vec_id AS keeper, b.vec_id AS removed,
         {_O_DOT.format(a='a.nv', b='b.nv', n=_DIM)} AS c
  FROM normed a JOIN normed b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_O_DOT.format(a='a.nv', b='b.nv', n=_DIM)} >= {_SD_TAU}
)
SELECT removed, keeper, round(c, 6) AS cos_sim FROM (
  SELECT removed, keeper, c,
         row_number() OVER (PARTITION BY removed
                            ORDER BY c DESC, keeper) AS rn
  FROM pairs
) WHERE rn = 1
ORDER BY removed
""",
)
def semdedup_embedding_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: one k-means assignment pass (k=8, seeded with the
    first k vectors), then within-cluster pairwise cosine; any vector
    with a smaller-id neighbor at cos >= 0.30 is removed, reported
    with its most-similar keeper. Cluster-bounded pair generation —
    the SemDeDup trick that makes semantic dedup feasible at corpus
    scale."""
    vecs = _vectors(spark, sf_dir)
    cents = {
        int(r.vec_id): list(r.v)
        # bound: vec_id < _SD_K
        for r in vecs.filter(F.col("vec_id") < _SD_K).collect()
    }
    assigned = _sd_assign(vecs, cents)
    normed = assigned.select(
        "vec_id", "cid", F.expr(_S_NORMED).alias("nv")
    )
    pairs = normed.groupBy("cid").applyInPandas(
        _prune_cluster, "keeper bigint, removed bigint, c double"
    )
    w = Window.partitionBy("removed").orderBy(F.col("c").desc(), "keeper")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("removed", "keeper", F.round("c", 6).alias("cos_sim"))
        .orderBy("removed")
    )
