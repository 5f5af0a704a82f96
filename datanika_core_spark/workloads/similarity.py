"""Similarity search over the `embeddings` table (array<float>
column) — approximate-nearest-neighbor surface for training-data
pipelines (beyond-reference, SURVEY.md §7 Phase 4).

All vector math is built-in higher-order functions
(``zip_with``/``aggregate``/``transform``) in double precision — one
JVM-side projection per row, no Python UDFs, no shuffle for the
per-vector stages. The DuckDB oracles use the identical left-fold
formulas so dot products are bit-identical; exported similarities are
rounded to 6 dp anyway.

At 100 TB / billions of vectors:
- brute-force top-k is one broadcast (queries) × scan (corpus) +
  a per-query top-k aggregation — the right baseline, and exactly
  what Spark executes here;
- IVF: the coarse quantizer is a broadcast of k centroids; cluster
  assignment is a per-row argmax (map-only); posting lists are the
  table bucketed by `cluster`; a query probes nprobe clusters →
  partition-pruned scan instead of full scan;
- SRP-LSH near-dup: 16 hyperplane sign bits from seeded md5
  pseudo-randoms → bucket equi-join, verify candidates exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload

# -- shared vector-math fragments -------------------------------------------
# Left-fold dot product — identical op order in Spark and DuckDB.

_S_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
          "cast(0 as double), (acc, v) -> acc + v)")
_O_DOT = ("list_sum(list_transform(range(1, {n} + 1), "
          "i -> {a}[i] * {b}[i]))")

_DIM = 64


def _s_cos(a: str, b: str) -> str:
    return (f"{_S_DOT.format(a=a, b=b)} / "
            f"(sqrt({_S_DOT.format(a=a, b=a)}) * "
            f"sqrt({_S_DOT.format(a=b, b=b)}))")


def _o_cos(a: str, b: str) -> str:
    return (f"{_O_DOT.format(a=a, b=b, n=_DIM)} / "
            f"(sqrt({_O_DOT.format(a=a, b=a, n=_DIM)}) * "
            f"sqrt({_O_DOT.format(a=b, b=b, n=_DIM)}))")


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with the float vector upcast to double BEFORE any
    arithmetic (float32 math differs between engines; double is
    exact for these magnitudes)."""
    return t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )


_O_VECTORS = ("SELECT vec_id, label, embedding::DOUBLE[] AS v "
              "FROM embeddings")


# --------------------------------------------------------------------------
# Brute-force cosine top-k (the exact baseline).
# --------------------------------------------------------------------------

_KNN_K = 5
_KNN_NQ = 10  # vec_id < 10 are the queries


@workload(
    "knn_cosine_topk",
    headline=True,
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < {_KNN_NQ}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_o_cos('q.qv', 'c.v')} AS sim
  FROM q JOIN vecs c ON c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
FROM ranked WHERE rank <= {_KNN_K}
ORDER BY query_id, rank
""",
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors: broadcast the query set against
    the corpus scan, per-row fold dot product, per-query top-k window.
    On a cluster the corpus scan is the only big input — queries are
    broadcast, so no shuffle of the corpus; the window shuffles just
    |Q|×|corpus| scored rows, which row_number + filter caps."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)  # bound: _KNN_NQ query rows
        .join(vecs.alias("c"), F.col("c.vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("c.vec_id").alias("neighbor_id"),
            F.expr(_s_cos("qv", "v")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "rank",
                F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# Brute-force top-k, vectorized: Arrow + numpy matmul scoring.
# --------------------------------------------------------------------------


@workload(
    "knn_cosine_topk_vectorized",
    headline=True,
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < {_KNN_NQ}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_o_cos('q.qv', 'c.v')} AS sim
  FROM q JOIN vecs c ON c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
FROM ranked WHERE rank <= {_KNN_K}
ORDER BY query_id, rank
""",
)
def knn_cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-k as ``knn_cosine_topk`` (same oracle — results
    must agree to 6 dp), but scored with a numpy matmul inside
    Arrow-batched ``mapInPandas`` instead of per-row JVM lambdas.

    This is the documented EXCEPTION to "UDFs are the slow path":
    dense numeric kernels. Per Arrow batch the corpus block becomes
    one (n × dim) matrix and all queries score in a single BLAS
    ``C @ Q.T`` — orders of magnitude fewer interpreter ops than a
    per-row fold, at the cost of Arrow transfer. The query matrix
    (tiny) rides along as a closure broadcast; the corpus never
    shuffles, mirroring the broadcast-join shape of the JVM variant.
    """
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    qrows = sorted(
        # bound: vec_id < _KNN_NQ
        vecs.filter(F.col("vec_id") < _KNN_NQ).select("vec_id", "v").collect(),
        key=lambda r: r.vec_id,
    )  # driver-side materialization of the BROADCAST side only (10 rows)

    def score(batches):
        import numpy as np
        import pandas as pd

        Q = np.array([r.v for r in qrows], dtype=np.float64)
        qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            cid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cn = np.sqrt((C * C).sum(axis=1))
            S = (C @ Q.T) / (cn[:, None] * qn[None, :])
            n, m = S.shape
            out = pd.DataFrame({
                "query_id": np.repeat(qids[None, :], n, axis=0).ravel(),
                "neighbor_id": np.repeat(cid[:, None], m, axis=1).ravel(),
                "sim": S.ravel(),
            })
            yield out[out.query_id != out.neighbor_id]

    scored = vecs.mapInPandas(
        score, "query_id bigint, neighbor_id bigint, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "rank",
                F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer + posting lists + nprobe=1.
# --------------------------------------------------------------------------

_IVF_NCENT = 8
_IVF_K = 3
_IVF_QLO, _IVF_QHI = 480, 490  # query ids (disjoint from centroid ids)


@workload(
    "ann_ivf_cosine",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
cent AS (SELECT vec_id AS cid, v AS cv FROM vecs
         WHERE vec_id < {_IVF_NCENT}),
assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, cent.cid,
           row_number() OVER (PARTITION BY x.vec_id
               ORDER BY {_o_cos('x.v', 'cent.cv')} DESC, cent.cid) AS rn
    FROM vecs x CROSS JOIN cent
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv, cid AS qcid FROM assigned
      WHERE vec_id >= {_IVF_QLO} AND vec_id < {_IVF_QHI}),
hits AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_o_cos('q.qv', 'c.v')} AS sim
  FROM q JOIN assigned c ON c.cid = q.qcid
                        AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM hits
) WHERE rank <= {_IVF_K}
ORDER BY query_id, rank
""",
)
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN skeleton: a deterministic coarse quantizer (the first
    {ncent} vectors as centroids — swap in k-means offline at scale),
    per-vector argmax cluster assignment (map-only vs broadcast
    centroids), then queries probe ONLY their own cluster's posting
    list (nprobe=1). At scale the corpus is written bucketed/
    partitioned by `cid`, so each probe is a partition-pruned scan —
    that is the entire point of IVF."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    cent = vecs.filter(F.col("vec_id") < _IVF_NCENT).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    rn = Window.partitionBy("vec_id").orderBy(
        F.expr(_s_cos("v", "cv")).desc(), F.col("cid")
    )
    assigned = (
        # bound: _IVF_NCENT seed rows; cartesian without it at scale
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cid")
    )
    q = assigned.filter(
        (F.col("vec_id") >= _IVF_QLO) & (F.col("vec_id") < _IVF_QHI)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("cid").alias("qcid"),
    )
    hits = (
        F.broadcast(q)  # bound: _KNN_NQ query rows
        .join(assigned.alias("c"),
              (F.col("c.cid") == F.col("qcid"))
              & (F.col("c.vec_id") != F.col("query_id")))
        .select("query_id", F.col("c.vec_id").alias("neighbor_id"),
                F.expr(_s_cos("qv", "v")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id", "rank",
                F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# Embedding near-dup via SRP-LSH (random-hyperplane sign sketches).
# --------------------------------------------------------------------------

_SRP_BITS = 16
_SRP_THRESH = 0.999

# pseudo-random hyperplane component in [-1, 1]: seeded md5 of (p, d)
_S_COMP = ("(cast(conv(substring(md5(concat('hp', cast(p as string), '_',"
           " cast(d as string))),1,15),16,10) as bigint) % 2001 - 1000)"
           " / 1000.0")
_O_COMP = ("((('0x'||substring(md5('hp' || p::VARCHAR || '_' ||"
           " d::VARCHAR),1,15))::BIGINT % 2001 - 1000) / 1000.0)")


@workload(
    "embedding_near_dup_srp",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
corpus AS (
  SELECT vec_id, v FROM vecs
  UNION ALL
  SELECT vec_id + 10000 AS vec_id,
         list_transform(range(1, {_DIM} + 1),
             i -> CASE WHEN i = 1 THEN v[i] * 1.001 + 0.0005
                       ELSE v[i] END) AS v
  FROM vecs WHERE vec_id % 50 = 0
),
sk AS (
  SELECT vec_id, v,
         list_transform(range(0, {_SRP_BITS}), p ->
           CASE WHEN list_sum(list_transform(range(1, {_DIM} + 1),
               d -> v[d] * {_O_COMP})) >= 0 THEN 1 ELSE 0 END) AS bits
  FROM corpus
),
buckets AS (
  SELECT vec_id, v,
         array_to_string(list_transform(bits, b -> b::VARCHAR), '')
           AS bucket
  FROM sk
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_o_cos('a.v', 'b.v')}, 6) AS cosine
FROM buckets a JOIN buckets b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_o_cos('a.v', 'b.v')} >= {_SRP_THRESH}
ORDER BY vec_a, vec_b
""",
)
def embedding_near_dup_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate detection: signed-random-projection
    LSH (16 hyperplanes with md5-seeded pseudo-random components →
    a 16-bit sign sketch), bucket equi-join on the sketch, exact
    cosine verification of bucket-mates. Near-identical vectors land
    in the same bucket with prob ~ (1 - θ/π)^16 ≈ 1 for θ→0, while
    the bucket join discards the quadratic bulk. The corpus injects
    perturbed copies of every 50th vector (the synthetic embeddings
    have no natural near-dups, max pairwise cosine ≈ 0.51)."""
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    perturbed = vecs.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {_DIM}), i -> "
            "CASE WHEN i = 1 THEN v[i-1] * 1.001 + 0.0005 "
            "ELSE v[i-1] END)"
        ).alias("v"),
    )
    corpus = vecs.unionByName(perturbed)
    sketch = corpus.withColumn(
        "bucket",
        F.expr(
            f"concat_ws('', transform(sequence(0, {_SRP_BITS - 1}), p -> "
            f"CASE WHEN aggregate(transform(sequence(1, {_DIM}), d -> "
            f"v[d-1] * ({_S_COMP})), cast(0 as double), (a, x) -> a + x) >= 0 "
            "THEN '1' ELSE '0' END))"
        ),
    )
    a, b = sketch.alias("a"), sketch.alias("b")
    cos = F.expr(_s_cos("a.v", "b.v"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= _SRP_THRESH)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .orderBy("vec_a", "vec_b")
    )


# --------------------------------------------------------------------------
# Int8 symmetric quantization of the embedding store.
# --------------------------------------------------------------------------

_Q_LEVELS = 127  # symmetric int8 range


@workload(
    "embedding_quantize_int8",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
scaled AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
           / {_Q_LEVELS} AS scale
  FROM vecs
),
dq AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> round(x / scale) * scale) AS r
  FROM scaled
)
SELECT vec_id,
       round(scale, 6) AS scale,
       round(sqrt(list_sum(list_transform(range(1, {_DIM} + 1),
             i -> (v[i] - r[i]) * (v[i] - r[i]))) / {_DIM}), 6) AS rmse,
       round({_o_cos('v', 'r')}, 6) AS cos_sim
FROM dq
ORDER BY vec_id
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding store
    (scale = max|x| / 127) with reconstruction quality metrics: RMSE
    and cosine between the original and dequantized vector — the 4x
    storage-reduction step before an embedding index ships to
    production, with the quality regression measured in the same
    query.

    Per-row higher-order lambdas only (map-only, no shuffle, no UDF);
    at 100 TB this runs as a projection over the embedding table and
    writes the int8 store alongside the fp32 one."""
    # sort FIRST (r11): the quantize/RMSE/cosine folds below a final
    # orderBy would run twice via range-partitioner sampling — same
    # fix as quality_classifier_hashed
    vecs = _vectors(spark, sf_dir).orderBy("vec_id")
    scale = F.expr(
        f"greatest(array_max(transform(v, x -> abs(x))), 1e-12d)"
        f" / {_Q_LEVELS}"
    )
    scaled = vecs.withColumn("scale", scale).withColumn(
        "r", F.expr("transform(v, x -> round(x / scale) * scale)")
    )
    rmse = F.expr(
        f"sqrt(aggregate(zip_with(v, r, (x, y) -> (x - y) * (x - y)),"
        f" cast(0 as double), (a, e) -> a + e) / {_DIM})"
    )
    return scaled.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(rmse, 6).alias("rmse"),
        F.round(F.expr(_s_cos("v", "r")), 6).alias("cos_sim"),
    )


# --------------------------------------------------------------------------
# IVF with multi-probe (nprobe=3): the recall/latency knob.
# --------------------------------------------------------------------------

_IVF_NPROBE = 3


@workload(
    "ann_ivf_cosine_nprobe",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
cent AS (SELECT vec_id AS cid, v AS cv FROM vecs
         WHERE vec_id < {_IVF_NCENT}),
assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, cent.cid,
           row_number() OVER (PARTITION BY x.vec_id
               ORDER BY {_o_cos('x.v', 'cent.cv')} DESC, cent.cid) AS rn
    FROM vecs x CROSS JOIN cent
  ) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, v AS qv, cid AS pcid FROM (
    SELECT x.vec_id, x.v, cent.cid,
           row_number() OVER (PARTITION BY x.vec_id
               ORDER BY {_o_cos('x.v', 'cent.cv')} DESC, cent.cid) AS rn
    FROM vecs x CROSS JOIN cent
    WHERE x.vec_id >= {_IVF_QLO} AND x.vec_id < {_IVF_QHI}
  ) WHERE rn <= {_IVF_NPROBE}
),
hits AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
         {_o_cos('q.qv', 'c.v')} AS sim
  FROM qprobe q JOIN assigned c ON c.cid = q.pcid
                              AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM hits
) WHERE rank <= {_IVF_K}
ORDER BY query_id, rank
""",
)
def ann_ivf_cosine_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-probe: each query searches its nprobe=3
    closest posting lists instead of one. Same partition-pruned scan
    shape as nprobe=1 — cost scales with nprobe/ncentroids of the
    corpus, and recall@3 rises accordingly (the recall/latency knob
    every IVF deployment tunes; tests/test_similarity.py measures
    both variants against the exact baseline)."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    cent = vecs.filter(F.col("vec_id") < _IVF_NCENT).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    rn = Window.partitionBy("vec_id").orderBy(
        F.expr(_s_cos("v", "cv")).desc(), F.col("cid")
    )
    ranked = (
        # bound: _IVF_NCENT seed rows; cartesian without it at scale
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(rn))
    )
    assigned = ranked.filter(F.col("rn") == 1).select("vec_id", "v", "cid")
    qprobe = (
        ranked.filter(
            (F.col("vec_id") >= _IVF_QLO) & (F.col("vec_id") < _IVF_QHI)
            & (F.col("rn") <= _IVF_NPROBE)
        )
        .select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
            F.col("cid").alias("pcid"),
        )
    )
    hits = (
        F.broadcast(qprobe)  # bound: _KNN_NQ x nprobe rows
        .join(assigned.alias("c"),
              (F.col("c.cid") == F.col("pcid"))
              & (F.col("c.vec_id") != F.col("query_id")))
        .select("query_id", F.col("c.vec_id").alias("neighbor_id"),
                F.expr(_s_cos("qv", "v")).alias("sim"))
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id", "rank",
                F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# K-means (Lloyd) training on the embedding corpus — how the IVF
# coarse quantizer's centroids get LEARNED (the workloads above take
# centroids as given). Two unrolled Lloyd iterations, deterministic
# seed (the first k vectors), centroids rounded to 6 dp after every
# recompute so cross-engine summation-order drift cannot leak into
# the next assignment's argmin.
# --------------------------------------------------------------------------

_KM_K = 8
_KM_ROUND = 6

_S_SQD = ("aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
          "cast(0 as double), (acc, v) -> acc + v)")
_O_SQD = ("list_sum(list_transform(range(1, {n} + 1), "
          "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")


def _km_assign(vecs: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Map-only assignment: centroids enter the plan as literal
    arrays (the broadcast-variable pattern, but expression-level), a
    per-row fold computes each distance, argmin breaks ties by
    centroid id. Returns (vec_id, v, cid, dist)."""
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
    best = F.array_min(dist_cols)
    return vecs.select(
        "vec_id", "v",
        best["cid"].alias("cid"), best["dist"].alias("dist"),
    )


def _km_recompute(assigned: DataFrame) -> dict[int, list[float]]:
    """New centroids = per-cluster per-dimension mean, rounded. The
    collect is k×dim scalars — driver-side by design, exactly like
    MLlib's KMeans (centroids are broadcast state, the data never
    leaves the executors)."""
    rows = (
        assigned.select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("x"), _KM_ROUND).alias("m"))
        .collect()  # bound: _KM_K x dim rows
    )
    cents: dict[int, dict[int, float]] = {}
    for r in rows:
        cents.setdefault(r.cid, {})[r.pos] = r.m
    return {
        cid: [by_pos[i] for i in range(len(by_pos))]
        for cid, by_pos in cents.items()
    }


def _o_km_assign(vec_src: str, cent_src: str) -> str:
    """One Lloyd assignment as a DuckDB CTE body (argmin via
    min_by over (dist, cid) — same tiebreak as the Spark side)."""
    d = _O_SQD.format(a="e.v", b="c.cvec", n=_DIM)
    return f"""
  SELECT vec_id, v, cid, dist FROM (
    SELECT e.vec_id, e.v, c.cid, {d} AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d}, c.cid) AS rn
    FROM {vec_src} e CROSS JOIN {cent_src} c
  ) WHERE rn = 1
"""


_O_KM_RECOMPUTE = """
  SELECT cid, list(m ORDER BY pos) AS cvec FROM (
    SELECT cid, pos, round(avg(x), {rnd}) AS m
    FROM (SELECT cid, unnest(v) AS x,
                 generate_subscripts(v, 1) AS pos FROM {src})
    GROUP BY cid, pos
  ) GROUP BY cid
"""


@workload(
    "kmeans_lloyd_embeddings",
    headline=True,
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
c0 AS (SELECT vec_id AS cid, v AS cvec FROM vecs WHERE vec_id < {_KM_K}),
a1 AS ({_o_km_assign('vecs', 'c0')}),
c1 AS ({_O_KM_RECOMPUTE.format(src='a1', rnd=_KM_ROUND)}),
a2 AS ({_o_km_assign('vecs', 'c1')}),
c2 AS ({_O_KM_RECOMPUTE.format(src='a2', rnd=_KM_ROUND)}),
a3 AS ({_o_km_assign('vecs', 'c2')})
SELECT cid AS cluster_id, count(*) AS n_vecs,
       round(avg(dist), 4) AS mean_sq_dist
FROM a3 GROUP BY cid ORDER BY cluster_id
""",
)
def kmeans_lloyd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, 2 iterations, k=8, seeded with the first k
    vectors. Each iteration is: map-only assignment against broadcast
    (literal) centroids + one k×dim-sized aggregate — the canonical
    Spark iterative-ML shape where per-iteration driver state is tiny
    and the corpus is only ever scanned, never shuffled. Reports
    cluster sizes and mean within-cluster squared distance under the
    final centroids."""
    vecs = _vectors(spark, sf_dir)
    cents = {
        int(r.vec_id): list(r.v)
        # bound: vec_id < _KM_K
        for r in vecs.filter(F.col("vec_id") < _KM_K).collect()
    }
    for _ in range(2):
        assigned = _km_assign(vecs, cents)
        cents = _km_recompute(assigned)
    final = _km_assign(vecs, cents)
    return (
        final.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("dist"), 4).alias("mean_sq_dist"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# IVF quality evaluation: recall@k vs the exact scan, per query.
# --------------------------------------------------------------------------


@workload(
    "ann_ivf_recall_eval",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
cent AS (SELECT vec_id AS cid, v AS cv FROM vecs
         WHERE vec_id < {_IVF_NCENT}),
assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, cent.cid,
           row_number() OVER (PARTITION BY x.vec_id
               ORDER BY {_o_cos('x.v', 'cent.cv')} DESC, cent.cid) AS rn
    FROM vecs x CROSS JOIN cent
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv, cid AS qcid FROM assigned
      WHERE vec_id >= {_IVF_QLO} AND vec_id < {_IVF_QHI}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos('q.qv', 'c.v')} DESC, c.vec_id) AS rank
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
  ) WHERE rank <= {_IVF_K}
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos('q.qv', 'c.v')} DESC, c.vec_id) AS rank
    FROM q JOIN assigned c ON c.cid = q.qcid AND c.vec_id <> q.query_id
  ) WHERE rank <= {_IVF_K}
)
SELECT e.query_id,
       CAST(count(i.neighbor_id) AS BIGINT) AS n_hit,
       round(count(i.neighbor_id) * 1.0 / {_IVF_K}, 6) AS recall_at_k
FROM exact e LEFT JOIN ivf i
  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""",
)
def ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the nprobe=1 IVF probe against the
    exact scan — the ANN twin of dedup_lsh_recall_eval: the engine
    quantifies its own approximation, driver-verified. At corpus
    scale this runs on a query SAMPLE and its number gates the
    nprobe/k tradeoff (the multi-probe variant exists precisely
    because this metric says when nprobe=1 is not enough)."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    cent = vecs.filter(F.col("vec_id") < _IVF_NCENT).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    rn = Window.partitionBy("vec_id").orderBy(
        F.expr(_s_cos("v", "cv")).desc(), F.col("cid")
    )
    assigned = (
        # bound: _IVF_NCENT seed rows; cartesian without it at scale
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cid")
    )
    q = assigned.filter(
        (F.col("vec_id") >= _IVF_QLO) & (F.col("vec_id") < _IVF_QHI)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cid").alias("qcid"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )

    def topk(cands: DataFrame) -> DataFrame:
        return (
            cands.select(
                "query_id", F.col("vec_id").alias("neighbor_id"),
                F.expr(_s_cos("qv", "v")).alias("sim"),
            )
            .withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= _IVF_K)
            .select("query_id", "neighbor_id")
        )

    exact = topk(
        # bound: _KNN_NQ query rows
        F.broadcast(q).join(vecs, vecs.vec_id != q.query_id)
    )
    ivf = topk(
        F.broadcast(q).join(  # bound: _KNN_NQ query rows
            assigned,
            (assigned.cid == q.qcid) & (assigned.vec_id != q.query_id),
        )
    )
    i = ivf.select(
        F.col("query_id").alias("iq"), F.col("neighbor_id").alias("inb")
    )
    return (
        exact.join(
            i, (exact.query_id == i.iq) & (exact.neighbor_id == i.inb),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("inb").cast("bigint").alias("n_hit"),
            F.round(F.count("inb") * 1.0 / _IVF_K, 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (64 -> 16 dims).
# --------------------------------------------------------------------------

_RP_OUT = 16


def _rp_signs() -> list[list[int]]:
    """Deterministic Rademacher (+-1) projection matrix derived from
    md5 — the same construction both engines embed as a literal, so
    the projection is reproducible across reruns and incremental
    extensions of the store (no rand(), no seed state to ship)."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"rp-{j}-{k}".encode()).hexdigest()[:8], 16
            )
            % 2
            == 0
            else -1
            for j in range(_DIM)
        ]
        for k in range(_RP_OUT)
    ]


def _rp_literal(open_b: str, close_b: str) -> str:
    rows = [
        open_b + ", ".join(str(s) for s in row) + close_b
        for row in _rp_signs()
    ]
    return open_b + ", ".join(rows) + close_b


@workload(
    "embedding_random_projection",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
proj AS (
  SELECT vec_id, v,
         list_transform({_rp_literal('[', ']')},
           row -> list_sum(list_transform(range(1, {_DIM} + 1),
                    j -> v[j] * row[j])) / sqrt({_RP_OUT})) AS p
  FROM vecs
)
SELECT vec_id,
       ROUND(p[1], 4) AS p0,
       ROUND(p[2], 4) AS p1,
       ROUND(p[3], 4) AS p2,
       ROUND(sqrt(list_sum(list_transform(p, x -> x * x))), 4)
         AS norm_proj,
       ROUND(sqrt(list_sum(list_transform(v, x -> x * x))), 4)
         AS norm_orig,
       ROUND(sqrt(list_sum(list_transform(p, x -> x * x)))
             / sqrt(list_sum(list_transform(v, x -> x * x))), 4)
         AS norm_ratio
FROM proj
ORDER BY vec_id
""",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each
    64-d embedding to 16-d with a +-1/sqrt(16) Rademacher matrix
    (Achlioptas 2003 — database-friendly random projections), and
    report the norm ratio per vector, the JL distortion the reduced
    index actually pays. The matrix is an md5-derived literal, so
    engine and oracle multiply the SAME matrix and a rerun or an
    incremental batch projects identically.

    Scale: map-only — a per-row double fold over a 16x64 broadcast
    literal; no shuffle, no UDF, codegen throughout. This is the
    cheap front-end that shrinks the ANN index 4x; recall impact is
    measured the same way as ann_ivf_recall_eval."""
    # sort FIRST (r11): the 16×64 projection fold below a final
    # orderBy would run twice via range-partitioner sampling — same
    # fix as quality_classifier_hashed
    vecs = _vectors(spark, sf_dir).orderBy("vec_id")
    proj = vecs.withColumn(
        "p",
        F.expr(
            f"transform({_rp_literal('array(', ')')},"
            f" row -> aggregate(zip_with(v, row, (x, s) -> x * s),"
            f" 0d, (acc, x) -> acc + x) / sqrt({_RP_OUT}d))"
        ),
    )
    norm = "sqrt(aggregate(transform({c}, x -> x * x), 0d, (a, x) -> a + x))"
    return proj.select(
        "vec_id",
        F.round(F.expr("p[0]"), 4).alias("p0"),
        F.round(F.expr("p[1]"), 4).alias("p1"),
        F.round(F.expr("p[2]"), 4).alias("p2"),
        F.round(F.expr(norm.format(c="p")), 4).alias("norm_proj"),
        F.round(F.expr(norm.format(c="v")), 4).alias("norm_orig"),
        F.round(
            F.expr(norm.format(c="p")) / F.expr(norm.format(c="v")), 4
        ).alias("norm_ratio"),
    )


# --------------------------------------------------------------------------
# Product quantization (recursive-CTE oracle + NumPy-reference tests).
# --------------------------------------------------------------------------

_PQR_M, _PQR_K, _PQR_ITERS = 8, 16, 3
_PQR_SUBD = _DIM // _PQR_M

#: element-wise centroid mean as an explicit list of sub_d aggregate
#: expressions (sum/count matches the Spark xsum/n update exactly)
_O_PQ_MEAN = (
    "["
    + ", ".join(
        f"sum(sv[{i}]) / count(*)" for i in range(1, _PQR_SUBD + 1)
    )
    + "]"
)


def _o_pq_dist(sv: str, cw: str) -> str:
    """Squared L2 between two sub_d lists (DuckDB text)."""
    return (
        f"list_sum(list_transform(range(1, {_PQR_SUBD + 1}),"
        f" i -> ({sv}[i] - {cw}[i]) * ({sv}[i] - {cw}[i])))"
    )


@workload(
    "pq_reconstruction_error",
    # Recursive-CTE oracle replaying the exact Lloyd recurrence:
    # DuckDB's recursive CTEs permit self-joins and aggregates in the
    # recursive term, so each iteration assigns every subvector to
    # its nearest codeword (argmin with the same lower-cid tiebreak
    # as operators/pq.py::_assign_expr, via row_number ORDER BY dist,
    # cid) and recomputes centroids as sum/count — empty clusters
    # keep the previous codeword through the LEFT JOIN coalesce,
    # matching train_pq. Init is the same deterministic rule: the
    # codewords are the subvectors of the K lowest vec_ids. Also
    # NumPy-verified to 1e-9 in tests/test_pq.py.
    oracle=f"""
WITH RECURSIVE
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
subs AS (
  SELECT vec_id, ss.s AS sub,
         v[ss.s*{_PQR_SUBD}+1 : ss.s*{_PQR_SUBD}+{_PQR_SUBD}] AS sv
  FROM vecs, (SELECT unnest(range(0, {_PQR_M})) AS s) ss
),
seed AS (
  SELECT sub,
         CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1
              AS INT) AS cid,
         sv AS cw
  FROM subs
  WHERE vec_id IN (SELECT vec_id FROM
                   (SELECT vec_id FROM vecs ORDER BY vec_id LIMIT {_PQR_K}))
),
cb AS (
  SELECT 0 AS it, sub, cid, cw FROM seed
  UNION ALL
  SELECT c.it + 1, c.sub, c.cid,
         CASE WHEN a.n IS NOT NULL THEN a.newcw ELSE c.cw END
  FROM cb c
  LEFT JOIN (
    SELECT sub, cid, count(*) AS n, {_O_PQ_MEAN} AS newcw
    FROM (
      SELECT s.vec_id, s.sub, s.sv, c2.cid,
             row_number() OVER (PARTITION BY s.vec_id, s.sub
                ORDER BY {_o_pq_dist('s.sv', 'c2.cw')}, c2.cid) AS rn
      FROM subs s JOIN cb c2 ON c2.sub = s.sub
    ) WHERE rn = 1
    GROUP BY sub, cid
  ) a ON a.sub = c.sub AND a.cid = c.cid
  WHERE c.it < {_PQR_ITERS}
),
final AS (SELECT sub, cid, cw FROM cb WHERE it = {_PQR_ITERS}),
fasgn AS (
  SELECT vec_id, se FROM (
    SELECT s.vec_id, {_o_pq_dist('s.sv', 'c.cw')} AS se,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
              ORDER BY {_o_pq_dist('s.sv', 'c.cw')}, c.cid) AS rn
    FROM subs s JOIN final c ON c.sub = s.sub
  ) WHERE rn = 1
)
SELECT vec_id, ROUND(sqrt(sum(se) / {_DIM}), 6) AS rmse
FROM fasgn GROUP BY vec_id ORDER BY vec_id
""",
)
def pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train an 8×16 product quantizer (Jégou 2011) on the embedding
    store (3 Lloyd iterations, deterministic init/tiebreaks) and
    report each vector's reconstruction RMSE — the distortion side
    of PQ's 64× compression, comparable row-for-row with
    embedding_quantize_int8's 4×-ratio scalar quantization."""
    from datanika_core_spark.operators.pq import (
        reconstruction_rmse,
        train_pq,
    )

    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    cb = train_pq(vecs, _DIM, m=8, k=16, iters=3)
    return reconstruction_rmse(vecs, cb, _DIM).orderBy("vec_id")


# --------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + PQ codes + asymmetric distance (ADC).
# --------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_ITERS = 8, 16, 2
_PQ_RERANK = 20  # ADC shortlist size fed to the exact re-rank


def _pq_cb_literal(cb: list[list[list[float]]]) -> str:
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{x!r}D" for x in cw) + ")"
                for cw in sub
            )
            + ")"
            for sub in cb
        )
        + ")"
    )


@workload(
    "ann_ivfpq_adc_topk",
    # Recursive-CTE oracle: the 2-iteration PQ train replays with the
    # same Lloyd recurrence as pq_reconstruction_error's oracle (on
    # L2-NORMALIZED vectors, matching the Spark path), then the whole
    # IVFADC+R read path — coarse cosine assignment, per-subspace
    # code argmin, ADC lookup-sum, top-20 shortlist, exact re-rank —
    # is plain windowed SQL. Tiebreaks mirror the Spark side exactly
    # (coarse: cos desc then cid; codes: dist then cid; shortlist:
    # adc then neighbor_id; final: sim desc then neighbor_id). Also
    # recall-tested against the uncompressed in-cluster scan in
    # tests/test_pq.py::test_ivfpq_adc_recall.
    oracle=f"""
WITH RECURSIVE
raw AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
vecs AS (
  SELECT vec_id, list_transform(v0, x -> x / nrm) AS v
  FROM (SELECT vec_id, v0,
               sqrt(list_sum(list_transform(v0, y -> y * y))) AS nrm
        FROM raw)
),
subs AS (
  SELECT vec_id, ss.s AS sub,
         v[ss.s*{_DIM // _PQ_M}+1 : ss.s*{_DIM // _PQ_M}+{_DIM // _PQ_M}] AS sv
  FROM vecs, (SELECT unnest(range(0, {_PQ_M})) AS s) ss
),
seed AS (
  SELECT sub,
         CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1
              AS INT) AS cid,
         sv AS cw
  FROM subs
  WHERE vec_id IN (SELECT vec_id FROM
                   (SELECT vec_id FROM vecs ORDER BY vec_id LIMIT {_PQ_K}))
),
cb AS (
  SELECT 0 AS it, sub, cid, cw FROM seed
  UNION ALL
  SELECT c.it + 1, c.sub, c.cid,
         CASE WHEN a.n IS NOT NULL THEN a.newcw ELSE c.cw END
  FROM cb c
  LEFT JOIN (
    SELECT sub, cid, count(*) AS n, {_O_PQ_MEAN} AS newcw
    FROM (
      SELECT s.vec_id, s.sub, s.sv, c2.cid,
             row_number() OVER (PARTITION BY s.vec_id, s.sub
                ORDER BY {_o_pq_dist('s.sv', 'c2.cw')}, c2.cid) AS rn
      FROM subs s JOIN cb c2 ON c2.sub = s.sub
    ) WHERE rn = 1
    GROUP BY sub, cid
  ) a ON a.sub = c.sub AND a.cid = c.cid
  WHERE c.it < {_PQ_ITERS}
),
final AS (SELECT sub, cid, cw FROM cb WHERE it = {_PQ_ITERS}),
cent AS (SELECT vec_id AS ccid, v AS cv FROM vecs WHERE vec_id < {_IVF_NCENT}),
assigned AS (
  SELECT vec_id, v, ccid AS cid FROM (
    SELECT p.vec_id, p.v, c.ccid,
           row_number() OVER (PARTITION BY p.vec_id
              ORDER BY {_O_DOT.format(a='p.v', b='c.cv', n=_DIM)} /
                       (sqrt({_O_DOT.format(a='p.v', b='p.v', n=_DIM)}) *
                        sqrt({_O_DOT.format(a='c.cv', b='c.cv', n=_DIM)}))
                       DESC, c.ccid) AS rn
    FROM vecs p CROSS JOIN cent c
  ) WHERE rn = 1
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT s.vec_id, s.sub, c.cid AS code,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
              ORDER BY {_o_pq_dist('s.sv', 'c.cw')}, c.cid) AS rn
    FROM subs s JOIN final c ON c.sub = s.sub
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, cid AS qcid FROM assigned
  WHERE vec_id >= {_IVF_QLO} AND vec_id < {_IVF_QHI}
),
adc AS (
  SELECT qq.query_id, p.vec_id AS neighbor_id,
         sum({_o_pq_dist('qs.sv', 'c.cw')}) AS adc_dist
  FROM q qq
  JOIN assigned p ON p.cid = qq.qcid AND p.vec_id <> qq.query_id
  JOIN subs qs ON qs.vec_id = qq.query_id
  JOIN codes co ON co.vec_id = p.vec_id AND co.sub = qs.sub
  JOIN final c ON c.sub = qs.sub AND c.cid = co.code
  GROUP BY 1, 2
),
shortlist AS (
  SELECT query_id, neighbor_id, adc_dist FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, neighbor_id) AS srank
    FROM adc
  ) WHERE srank <= {_PQ_RERANK}
),
exact AS (
  SELECT s.query_id, s.neighbor_id, s.adc_dist,
         {_O_DOT.format(a='qv.v', b='nv.v', n=_DIM)} AS sim
  FROM shortlist s
  JOIN vecs qv ON qv.vec_id = s.query_id
  JOIN vecs nv ON nv.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       ROUND(sim, 6) AS sim, ROUND(adc_dist, 6) AS adc_dist
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, neighbor_id) AS rank
      FROM exact)
WHERE rank <= {_IVF_K}
ORDER BY query_id, rank
""",
)
def ann_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ read path with re-ranking (IVFADC+R,
    Jégou 2011): queries probe their coarse cluster's posting list,
    shortlist the top-20 by ASYMMETRIC distance — exact query
    subvectors against the candidates' PQ codewords, an 8-byte scan
    instead of 256 — then re-rank ONLY the shortlist with exact
    vectors. Measured on this corpus: strict ADC top-3 recall 0.23
    (PQ distortion ≈ inter-neighbor gaps on near-uniform synthetic
    embeddings), +re-rank 0.87 (tests/test_pq.py).

    Scale: the posting lists store (vec_id, codes) — the 64×
    compression is what lets a 100 TB corpus's index fit a memory
    tier; ADC is a map-side lookup-sum against the broadcast (tiny)
    codebook, the probe is the same partition-pruned cid scan as
    ann_ivf_cosine, and the refine step fetches R=20 full vectors
    per query, not the cluster."""
    from pyspark.sql import Window

    from datanika_core_spark.operators.pq import train_pq

    # L2-normalize first: with unit vectors, squared L2 = 2 - 2cos,
    # so the ADC ordering approximates the cosine ordering the rest
    # of the ANN family ranks by (raw-L2 ADC against a cosine ground
    # truth measured 0.23 recall@3; normalized it is 0.8+)
    norm = f"sqrt({_S_DOT.format(a='v', b='v')})"
    vecs = (
        _vectors(spark, sf_dir)
        .select("vec_id", F.expr(f"transform(v, x -> x / {norm})").alias("v"))
    )
    cb = train_pq(vecs, _DIM, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    sub_d = _DIM // _PQ_M
    cb_lit = _pq_cb_literal(cb)

    # coarse assignment (same deterministic centroids as ann_ivf_cosine)
    cent = vecs.filter(F.col("vec_id") < _IVF_NCENT).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    rn = Window.partitionBy("vec_id").orderBy(
        F.expr(_s_cos("v", "cv")).desc(), F.col("cid")
    )
    assigned = (
        # bound: _IVF_NCENT seed rows; cartesian without it at scale
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "cid")
    )

    # PQ-encode the posting lists: per-subspace nearest codeword
    qsubs = (
        f"transform(sequence(0, {_PQ_M - 1}),"
        f" s -> slice(v, s * {sub_d} + 1, {sub_d}))"
    )
    # NB: SQL bracket indexing is 0-based (element_at is the 1-based
    # variant) — subspace loops run over sequence(0, m-1) throughout
    codes = (
        f"transform(sequence(0, {_PQ_M - 1}), s -> cast(array_position("
        f" transform({cb_lit}[s], cw -> aggregate("
        f"   zip_with({qsubs}[s], cw, (x, c) -> (x - c) * (x - c)),"
        f"   0d, (a, x) -> a + x)),"
        f" array_min(transform({cb_lit}[s], cw -> aggregate("
        f"   zip_with({qsubs}[s], cw, (x, c) -> (x - c) * (x - c)),"
        f"   0d, (a, x) -> a + x)))) - 1 as int))"
    )
    posting = assigned.select(
        "vec_id", "cid", F.expr(codes).alias("codes")
    )

    q = assigned.filter(
        (F.col("vec_id") >= _IVF_QLO) & (F.col("vec_id") < _IVF_QHI)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.expr(qsubs).alias("qsubs"),
        F.col("cid").alias("qcid"),
    )
    # ADC: sum over subspaces of ||q_sub − codeword(code_s)||²
    adc = (
        f"aggregate(transform(sequence(0, {_PQ_M - 1}),"
        f" s -> aggregate(zip_with(qsubs[s], {cb_lit}[s][codes[s]],"
        f" (x, c) -> (x - c) * (x - c)), 0d, (a, x) -> a + x)),"
        f" 0d, (a, x) -> a + x)"
    )
    hits = (
        F.broadcast(q)  # bound: _KNN_NQ query rows
        .join(
            posting.alias("c"),
            (F.col("c.cid") == F.col("qcid"))
            & (F.col("c.vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "qsubs",
            F.col("c.vec_id").alias("neighbor_id"),
            F.expr(adc).alias("adc_dist"),
        )
    )
    # IVFADC+R: the compressed scan produces a SHORTLIST, not the
    # answer — PQ distortion on near-uniform embeddings is comparable
    # to the inter-neighbor gaps (strict ADC top-3 recall ~0.23), so
    # the read path re-ranks the top-R shortlist with exact vectors
    # (only R full vectors are ever read per query; the corpus scan
    # stays 8-byte codes)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    shortlist = (
        hits.withColumn("srank", F.row_number().over(w_adc))
        .filter(F.col("srank") <= _PQ_RERANK)
        .select("query_id", "neighbor_id", "adc_dist")
    )
    # the shortlist is |queries|×R rows — broadcast it into both
    # refine joins (left to its own devices Catalyst picked
    # SortMergeJoin here: the shortlist's size estimate is opaque
    # after the window)
    exact = (
        F.broadcast(  # bound: _KNN_NQ x shortlist rows
            shortlist.join(
                q.select("query_id", F.col("qsubs").alias("qs")),
                "query_id",
            )
        )
        .join(
            assigned.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("nv"),
            ),
            "neighbor_id",
        )
        .withColumn(
            "sim",
            F.expr(
                f"aggregate(transform(sequence(0, {_PQ_M - 1}),"
                f" s -> {_S_DOT.format(a='qs[s]', b=f'slice(nv, s * {sub_d} + 1, {sub_d})')}),"
                f" 0d, (a, x) -> a + x)"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _IVF_K)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("sim", 6).alias("sim"),
            F.round("adc_dist", 6).alias("adc_dist"),
        )
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# Embedding-space outlier detection (centroid-distance tail).
# --------------------------------------------------------------------------

_OUT_PCT = 0.95  # tail threshold on the centroid-distance distribution


@workload(
    "embedding_outlier_centroid_dist",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
cent AS (SELECT vec_id AS cid, v AS cv FROM vecs
         WHERE vec_id < {_IVF_NCENT}),
assigned AS (
  SELECT vec_id, label, dist, cid FROM (
    SELECT x.vec_id, x.label, cent.cid,
           sqrt(list_sum(list_transform(range(1, {_DIM} + 1),
                i -> (x.v[i] - cent.cv[i]) * (x.v[i] - cent.cv[i]))))
             AS dist,
           row_number() OVER (PARTITION BY x.vec_id
               ORDER BY list_sum(list_transform(range(1, {_DIM} + 1),
                   i -> (x.v[i] - cent.cv[i]) * (x.v[i] - cent.cv[i]))),
               cent.cid) AS rn
    FROM vecs x CROSS JOIN cent
  ) WHERE rn = 1
),
thresh AS (
  SELECT quantile_cont(dist, {_OUT_PCT}) AS t FROM assigned
)
SELECT a.cid,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN a.dist > th.t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       ROUND(max(a.dist), 6) AS max_dist,
       ROUND(max(th.t), 6) AS threshold
FROM assigned a CROSS JOIN thresh th
GROUP BY a.cid
ORDER BY a.cid
""",
)
def embedding_outlier_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection for curation: assign every
    vector to its nearest (deterministic) centroid by L2, then flag
    the global {_OUT_PCT:.0%}-tail of centroid distances — far-from-
    every-cluster vectors are the mislabeled/garbage embeddings a
    SemDeDup-style pipeline quarantines before indexing.

    Scale: map-only assignment against broadcast centroids (same
    skeleton as ann_ivf_cosine), one exact-percentile agg (swap to
    percentile_approx at 100 TB — error measured in
    tests/test_approx_sketches.py), one final per-cluster rollup."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    cent = vecs.filter(F.col("vec_id") < _IVF_NCENT).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    sqd = (
        "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)),"
        " 0d, (a, x) -> a + x)"
    )
    rn = Window.partitionBy("vec_id").orderBy(F.expr(sqd).asc(), F.col("cid"))
    assigned = (
        # bound: _IVF_NCENT seed rows; cartesian without it at scale
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", F.sqrt(F.expr(sqd)).alias("dist"))
    )
    thresh = assigned.agg(
        F.expr(f"percentile(dist, {_OUT_PCT})").alias("t")
    )
    return (
        assigned.crossJoin(thresh)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("dist") > F.col("t")).cast("int"))
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.max("dist"), 6).alias("max_dist"),
            F.round(F.max("t"), 6).alias("threshold"),
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# Matryoshka-style truncated-dimension recall (prefix-dim ANN quality).
# --------------------------------------------------------------------------

_TR_DIM = 16  # prefix dimensions kept by the truncated variant


def _s_cos_pfx(a: str, b: str, n: int) -> str:
    sa, sb = f"slice({a}, 1, {n})", f"slice({b}, 1, {n})"
    return (f"{_S_DOT.format(a=sa, b=sb)} / "
            f"(sqrt({_S_DOT.format(a=sa, b=sa)}) * "
            f"sqrt({_S_DOT.format(a=sb, b=sb)}))")


def _o_cos_pfx(a: str, b: str, n: int) -> str:
    return (f"{_O_DOT.format(a=a, b=b, n=n)} / "
            f"(sqrt({_O_DOT.format(a=a, b=a, n=n)}) * "
            f"sqrt({_O_DOT.format(a=b, b=b, n=n)}))")


@workload(
    "ann_truncated_dim_recall",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
      WHERE vec_id < {_KNN_NQ}),
full_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos('q.qv', 'c.v')} DESC, c.vec_id) AS rnk
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
  ) WHERE rnk <= {_KNN_K}
),
trunc_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos_pfx('q.qv', 'c.v', _TR_DIM)} DESC,
                        c.vec_id) AS rnk
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
  ) WHERE rnk <= {_KNN_K}
)
SELECT f.query_id,
       CAST(count(t.neighbor_id) AS BIGINT) AS n_match,
       ROUND(count(t.neighbor_id) * 1.0 / {_KNN_K}, 4) AS recall
FROM full_rank f
LEFT JOIN trunc_rank t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
ORDER BY f.query_id
""",
)
def ann_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PREFIX-TRUNCATED cosine search ({tr} of {d} dims)
    against the full-dimension exact top-k — the quality gate for
    Matryoshka-style dimension reduction, where cheap first-pass
    retrieval runs on a vector prefix and the saved dims pay for a
    bigger candidate pool. Complements the random-projection (JL)
    and int8-quantization audits: truncation is the third standard
    compression axis, and like the others it ships with its measured
    quality.

    Scale: both branches are the exact-KNN shape (broadcast queries
    × corpus scan, per-query TakeOrdered); the truncated branch
    reads the same column and slices in-expression — on a columnar
    store with sub-vector layout it would scan {tr}/{d} of the
    bytes.""".replace("{tr}", str(_TR_DIM)).replace("{d}", str(_DIM))
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = F.broadcast(q).join(  # bound: _KNN_NQ query rows
        vecs.select(F.col("vec_id").alias("neighbor_id"), "v"),
        F.col("neighbor_id") != F.col("query_id"),
    )

    def topk(score_expr: str) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.expr(score_expr).desc(), F.col("neighbor_id")
        )
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _KNN_K)
            .select("query_id", "neighbor_id")
        )

    full_rank = topk(_s_cos("qv", "v"))
    # fresh aliases: both rank frames share the `pairs` lineage, so a
    # direct column-object join would be ambiguous self-join territory
    trunc_rank = topk(_s_cos_pfx("qv", "v", _TR_DIM)).select(
        F.col("query_id").alias("t_qid"),
        F.col("neighbor_id").alias("t_neighbor"),
    )
    return (
        full_rank.join(
            trunc_rank,
            (F.col("query_id") == F.col("t_qid"))
            & (F.col("neighbor_id") == F.col("t_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("t_neighbor").cast("bigint").alias("n_match"),
            F.round(F.count("t_neighbor") * F.lit(1.0) / _KNN_K, 4)
            .alias("recall"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# NDCG@k of the truncated-dimension ranking (graded-relevance view).
# --------------------------------------------------------------------------

# IDCG@k for relevances (k, k-1, ..., 1) — a literal constant both
# engines receive pre-computed (python floats are IEEE doubles).
_NDCG_IDCG = sum(
    (_KNN_K - i + 1) / __import__("math").log2(i + 1)
    for i in range(1, _KNN_K + 1)
)


@workload(
    "eval_ndcg_truncated_ranking",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
      WHERE vec_id < {_KNN_NQ}),
full_rank AS (
  SELECT query_id, neighbor_id, rnk FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos('q.qv', 'c.v')} DESC, c.vec_id) AS rnk
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
  ) WHERE rnk <= {_KNN_K}
),
trunc_rank AS (
  SELECT query_id, neighbor_id, rnk AS pos FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos_pfx('q.qv', 'c.v', _TR_DIM)} DESC,
                        c.vec_id) AS rnk
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
  ) WHERE rnk <= {_KNN_K}
),
gains AS (
  SELECT t.query_id,
         coalesce({_KNN_K} - f.rnk + 1, 0) / log2(t.pos + 1) AS g
  FROM trunc_rank t
  LEFT JOIN full_rank f
    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
)
SELECT query_id,
       ROUND(sum(CAST(round(g * 100000000) AS BIGINT)) / 100000000.0
             / {_NDCG_IDCG!r}, 6) AS ndcg
FROM gains
GROUP BY query_id
ORDER BY query_id
""",
)
def eval_ndcg_truncated_ranking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NDCG@k of the truncated-dimension ranking against the
    full-dimension order as graded relevance (full rank 1 → gain k,
    rank k → gain 1, outside → 0) — the position-sensitive companion
    to ann_truncated_dim_recall: recall says WHETHER the right
    neighbors survive truncation, NDCG says whether they stay in
    ORDER. IDCG is a literal constant; per-query gains sum in
    integer 1e-8 units.

    Scale: identical twin-scan shape to the recall audit; the gain
    join runs on two ≤(queries×k)-row lists."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = F.broadcast(q).join(  # bound: _KNN_NQ query rows
        vecs.select(F.col("vec_id").alias("neighbor_id"), "v"),
        F.col("neighbor_id") != F.col("query_id"),
    )
    from pyspark.sql import Window as _W

    def ranked(score_expr: str) -> DataFrame:
        w = _W.partitionBy("query_id").orderBy(
            F.expr(score_expr).desc(), F.col("neighbor_id")
        )
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _KNN_K)
            .select("query_id", "neighbor_id", "rnk")
        )

    full_rank = ranked(_s_cos("qv", "v")).select(
        F.col("query_id").alias("f_qid"),
        F.col("neighbor_id").alias("f_nid"),
        F.col("rnk").alias("f_rnk"),
    )
    trunc = ranked(_s_cos_pfx("qv", "v", _TR_DIM)).select(
        "query_id", "neighbor_id", F.col("rnk").alias("pos")
    )
    gains = trunc.join(
        full_rank,
        (F.col("query_id") == F.col("f_qid"))
        & (F.col("neighbor_id") == F.col("f_nid")),
        "left",
    ).select(
        "query_id",
        (
            F.coalesce(_KNN_K - F.col("f_rnk") + 1, F.lit(0))
            / F.log2(F.col("pos") + 1)
        ).alias("g"),
    )
    return (
        gains.groupBy("query_id")
        .agg(
            F.round(
                F.sum(F.round(F.col("g") * 100000000).cast("bigint"))
                / 100000000.0
                / F.lit(_NDCG_IDCG),
                6,
            ).alias("ndcg")
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# MRR + MAP@k of the truncated ranking (binary-relevance view).
# --------------------------------------------------------------------------

#: LCM(1..k) for k=5 — precision@p = cum_rel/p times 60 is an exact
#: integer for every p ≤ 5, so AP sums integers and divides ONCE:
#: zero float-rounding surface between the engines.
_MRR_LCM = 60


@workload(
    "eval_mrr_map_ranking",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
      WHERE vec_id < {_KNN_NQ}),
full_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos('q.qv', 'c.v')} DESC, c.vec_id) AS rnk
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
  ) WHERE rnk <= {_KNN_K}
),
trunc_rank AS (
  SELECT query_id, neighbor_id, rnk AS pos FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos_pfx('q.qv', 'c.v', _TR_DIM)} DESC,
                        c.vec_id) AS rnk
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
  ) WHERE rnk <= {_KNN_K}
),
flags AS (
  SELECT t.query_id, t.pos,
         CASE WHEN f.neighbor_id IS NULL THEN 0 ELSE 1 END AS rel
  FROM trunc_rank t
  LEFT JOIN full_rank f
    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
),
cum AS (
  SELECT query_id, pos, rel,
         CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY pos)
              AS BIGINT) AS cum_rel
  FROM flags
)
SELECT query_id,
       ROUND(coalesce(
           CAST(1 AS DOUBLE)
           / min(CASE WHEN rel = 1 THEN pos END), 0), 6) AS mrr,
       ROUND(CAST(sum(CASE WHEN rel = 1
                 THEN CAST(cum_rel * {_MRR_LCM} / pos AS BIGINT)
                 ELSE 0 END) AS BIGINT)
             / ({_MRR_LCM}.0 * {_KNN_K}), 6) AS ap_at_k
FROM cum GROUP BY query_id ORDER BY query_id
""",
)
def eval_mrr_map_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR and MAP@k of the truncated-dimension ranking with
    full-dimension top-k membership as binary relevance — the
    rank-eval pair NDCG doesn't cover: MRR prices ONLY the first hit
    (the navigational metric), AP averages precision at every hit
    (the recall-oriented one). Together with recall
    (ann_truncated_dim_recall) and NDCG these four are the standard
    retrieval-eval battery. Arithmetic is integer-exact: every
    precision@p term times LCM(1..k)=60 is an integer, so AP is one
    BIGINT sum and a single division.

    Scale: identical twin-scan shape to the recall/NDCG audits
    (broadcast queries, one candidate scan each); the relevance join,
    cumulative window, and aggregate all run on ≤(queries×k) rows."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = F.broadcast(q).join(  # bound: _KNN_NQ query rows
        vecs.select(F.col("vec_id").alias("neighbor_id"), "v"),
        F.col("neighbor_id") != F.col("query_id"),
    )
    from pyspark.sql import Window as _W

    def ranked(score_expr: str) -> DataFrame:
        w = _W.partitionBy("query_id").orderBy(
            F.expr(score_expr).desc(), F.col("neighbor_id")
        )
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _KNN_K)
            .select("query_id", "neighbor_id", "rnk")
        )

    full_rank = ranked(_s_cos("qv", "v")).select(
        F.col("query_id").alias("f_qid"),
        F.col("neighbor_id").alias("f_nid"),
    )
    trunc = ranked(_s_cos_pfx("qv", "v", _TR_DIM)).select(
        "query_id", "neighbor_id", F.col("rnk").alias("pos")
    )
    flags = trunc.join(
        full_rank,
        (F.col("query_id") == F.col("f_qid"))
        & (F.col("neighbor_id") == F.col("f_nid")),
        "left",
    ).select(
        "query_id",
        "pos",
        F.when(F.col("f_nid").isNull(), 0).otherwise(1).alias("rel"),
    )
    cum_w = (
        _W.partitionBy("query_id")
        .orderBy("pos")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    cum = flags.withColumn(
        "cum_rel", F.sum("rel").over(cum_w).cast("bigint")
    )
    return (
        cum.groupBy("query_id")
        .agg(
            F.round(
                F.coalesce(
                    F.lit(1.0)
                    / F.min(F.when(F.col("rel") == 1, F.col("pos"))),
                    F.lit(0.0),
                ),
                6,
            ).alias("mrr"),
            F.round(
                F.sum(
                    F.when(
                        F.col("rel") == 1,
                        (F.col("cum_rel") * _MRR_LCM / F.col("pos"))
                        .cast("bigint"),
                    ).otherwise(F.lit(0))
                ).cast("bigint")
                / F.lit(float(_MRR_LCM * _KNN_K)),
                6,
            ).alias("ap_at_k"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# IVF cell label purity (cluster-quality eval on the ANN layout).
# --------------------------------------------------------------------------


@workload(
    "ann_ivf_cell_purity",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
cent AS (SELECT vec_id AS cid, v AS cv FROM vecs
         WHERE vec_id < {_IVF_NCENT}),
assigned AS (
  SELECT vec_id, label, cid FROM (
    SELECT x.vec_id, x.label, cent.cid,
           row_number() OVER (PARTITION BY x.vec_id
               ORDER BY {_o_cos('x.v', 'cent.cv')} DESC, cent.cid) AS rn
    FROM vecs x CROSS JOIN cent
  ) WHERE rn = 1
),
cells AS (
  SELECT cid, label, count(*) AS n FROM assigned GROUP BY cid, label
),
tops AS (
  SELECT cid, label AS majority_label, n AS n_majority FROM (
    SELECT cid, label, n,
           row_number() OVER (PARTITION BY cid
                              ORDER BY n DESC, label) AS rn
    FROM cells
  ) WHERE rn = 1
),
sizes AS (SELECT cid, sum(n) AS n_vecs FROM cells GROUP BY cid)
SELECT s.cid,
       CAST(s.n_vecs AS BIGINT) AS n_vecs,
       CAST(t.majority_label AS BIGINT) AS majority_label,
       CAST(t.n_majority AS BIGINT) AS n_majority,
       ROUND(t.n_majority * 1.0 / s.n_vecs, 6) AS purity
FROM sizes s JOIN tops t ON t.cid = s.cid
ORDER BY s.cid
""",
)
def ann_ivf_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the IVF coarse cells: per cell, the majority
    label's share of members — the cluster-quality probe that tells
    you whether the ANN layout respects the semantic structure (pure
    cells mean nprobe=1 finds same-label neighbors; muddy cells mean
    raise nprobe or retrain the quantizer). The nearest-centroid
    eval scores the LABELS given perfect prototypes; this scores the
    INDEX's own partitioning.

    Scale: the same map-only assignment as every IVF workload
    (broadcast centroids), then two ≤|cells|·|labels|-row aggregates
    and a per-cell argmax — nothing scales with the corpus except
    the one assignment scan."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    cent = vecs.filter(F.col("vec_id") < _IVF_NCENT).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    rn = Window.partitionBy("vec_id").orderBy(
        F.expr(_s_cos("v", "cv")).desc(), F.col("cid")
    )
    assigned = (
        # bound: _IVF_NCENT seed rows; cartesian without it at scale
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "cid")
    )
    cells = assigned.groupBy("cid", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    tops = (
        cells.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cid").orderBy(
                    F.col("n").desc(), F.col("label")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cid",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    sizes = cells.groupBy(F.col("cid").alias("s_cid")).agg(
        F.sum("n").alias("n_vecs")
    )
    return (
        sizes.join(tops, F.col("s_cid") == F.col("cid"))
        .select(
            "cid",
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.col("majority_label").cast("bigint").alias("majority_label"),
            F.col("n_majority").cast("bigint").alias("n_majority"),
            F.round(F.col("n_majority") * 1.0 / F.col("n_vecs"), 6)
            .alias("purity"),
        )
        .orderBy("cid")
    )


@workload(
    "ann_ivf_retrain_advisor",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
cent AS (SELECT vec_id AS cid, v AS cv FROM vecs
         WHERE vec_id < {_IVF_NCENT}),
split AS (SELECT max(vec_id) AS max_id FROM vecs),
assigned AS (
  SELECT vec_id, label, cid,
         CASE WHEN vec_id * 2 <= (SELECT max_id FROM split)
              THEN 0 ELSE 1 END AS cohort
  FROM (
    SELECT x.vec_id, x.label, cent.cid,
           row_number() OVER (PARTITION BY x.vec_id
               ORDER BY {_o_cos('x.v', 'cent.cv')} DESC, cent.cid) AS rn
    FROM vecs x CROSS JOIN cent
  ) WHERE rn = 1
),
cells AS (
  SELECT cohort, cid, label, count(*) AS n
  FROM assigned GROUP BY cohort, cid, label
),
purity AS (
  SELECT cohort, cid,
         sum(n) AS n_vecs,
         max(n) AS n_majority
  FROM cells GROUP BY cohort, cid
)
SELECT r.cid,
       CAST(r.n_vecs AS BIGINT) AS n_ref,
       CAST(c.n_vecs AS BIGINT) AS n_cur,
       ROUND(r.n_majority * 1.0 / r.n_vecs, 6) AS purity_ref,
       ROUND(c.n_majority * 1.0 / c.n_vecs, 6) AS purity_cur,
       ROUND(c.n_majority * 1.0 / c.n_vecs
             - r.n_majority * 1.0 / r.n_vecs, 6) AS drift,
       (r.n_majority * 1.0 / r.n_vecs
        - c.n_majority * 1.0 / c.n_vecs) > 0.10 AS retrain
FROM purity r JOIN purity c
  ON r.cid = c.cid AND r.cohort = 0 AND c.cohort = 1
ORDER BY r.cid
""",
)
def ann_ivf_retrain_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quantizer retrain trigger keyed on cell-purity drift: the
    corpus is split into a reference cohort (first half by vec_id —
    the vectors the quantizer was 'trained' on) and a current cohort
    (the later ingest), each cohort's cells score their majority-label
    share, and a cell whose purity dropped more than 10 points flags
    `retrain` — the monitoring loop that tells an ANN index its
    coarse centroids have gone stale as the embedding distribution
    shifts. Majority share per (cohort, cell) is max(n)/sum(n) over
    the label histogram — no argmax window needed since only the
    share (not which label) drives the trigger.

    Scale: one broadcast-centroid assignment scan over the corpus
    (the standard IVF map-only shape); everything downstream runs on
    |cohorts|x|cells|x|labels| rows. In production the reference
    cohort's purity table is persisted at train time, so the nightly
    check scans only the new ingest."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    cent = vecs.filter(F.col("vec_id") < _IVF_NCENT).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    rn = Window.partitionBy("vec_id").orderBy(
        F.expr(_s_cos("v", "cv")).desc(), F.col("cid")
    )
    max_id = vecs.agg(F.max("vec_id").alias("max_id"))
    assigned = (
        # bound: _IVF_NCENT seed rows; cartesian without it at scale
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .crossJoin(max_id)
        .select(
            "vec_id", "label", "cid",
            F.when(
                F.col("vec_id") * 2 <= F.col("max_id"), 0
            ).otherwise(1).alias("cohort"),
        )
    )
    cells = assigned.groupBy("cohort", "cid", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    purity = cells.groupBy("cohort", "cid").agg(
        F.sum("n").alias("n_vecs"), F.max("n").alias("n_majority")
    )
    ref = purity.filter(F.col("cohort") == 0).select(
        F.col("cid").alias("r_cid"),
        F.col("n_vecs").alias("rn_vecs"),
        F.col("n_majority").alias("rn_majority"),
    )
    cur = purity.filter(F.col("cohort") == 1).select(
        F.col("cid").alias("c_cid"),
        F.col("n_vecs").alias("cn_vecs"),
        F.col("n_majority").alias("cn_majority"),
    )
    p_ref = F.col("rn_majority") * 1.0 / F.col("rn_vecs")
    p_cur = F.col("cn_majority") * 1.0 / F.col("cn_vecs")
    return (
        ref.join(cur, F.col("r_cid") == F.col("c_cid"))
        .select(
            F.col("r_cid").alias("cid"),
            F.col("rn_vecs").cast("bigint").alias("n_ref"),
            F.col("cn_vecs").cast("bigint").alias("n_cur"),
            F.round(p_ref, 6).alias("purity_ref"),
            F.round(p_cur, 6).alias("purity_cur"),
            F.round(p_cur - p_ref, 6).alias("drift"),
            ((p_ref - p_cur) > 0.10).alias("retrain"),
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# MMR diversified top-k (greedy re-ranking for retrieval diversity).
# --------------------------------------------------------------------------

_MMR_NQ = 5     # queries: vec_id < 5
_MMR_POOL = 12  # candidate pool per query (relevance top-12)
_MMR_K = 5      # diversified picks per query
_MMR_LAMBDA = 0.7

#: integer argmax key: snapped score (1e-8 units, half-away-from-zero
#: — both engines' round() convention for doubles) shifted past a
#: reversed candidate id, so max(key) is "max score, then min cand"
#: as ONE BIGINT max — no window needed inside the recursive term.
_MMR_KEY_O = (
    "(CAST(floor(abs({score}) * 100000000 + 0.5) AS BIGINT)"
    " * (CASE WHEN ({score}) < 0 THEN -1 ELSE 1 END) + 100000000)"
    " * 1000000 + (999999 - {cand})"
)


@workload(
    "mmr_diversified_topk",
    oracle=f"""
WITH RECURSIVE vecs AS ({_O_VECTORS}),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
      WHERE vec_id < {_MMR_NQ}),
pool AS MATERIALIZED (
  SELECT query_id, cand, simq, cv FROM (
    SELECT q.query_id, c.vec_id AS cand,
           {_o_cos('q.qv', 'c.v')} AS simq, c.v AS cv,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos('q.qv', 'c.v')} DESC, c.vec_id) AS rnk
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
  ) WHERE rnk <= {_MMR_POOL}
),
psim AS MATERIALIZED (
  SELECT p1.query_id, p1.cand AS i, p2.cand AS j,
         {_o_cos('p1.cv', 'p2.cv')} AS s
  FROM pool p1 JOIN pool p2
    ON p1.query_id = p2.query_id AND p1.cand <> p2.cand
),
mmr AS (
  -- NOTE: no LATERAL anywhere in the recursive CTE — DuckDB 1.0's
  -- relation API (con.sql, the harness path) silently stops the
  -- recursion after the base term when the recursive arm contains
  -- a LATERAL join; plain nested-subquery aggregation is fine.
  SELECT query_id, 1 AS step,
         [CAST(999999 - bk % 1000000 AS BIGINT)] AS picked,
         CAST(999999 - bk % 1000000 AS BIGINT) AS pick,
         CAST(bk // 1000000 - 100000000 AS BIGINT) AS score_units
  FROM (
    SELECT query_id, max({_MMR_KEY_O.format(
        score="simq", cand="cand")}) AS bk
    FROM pool GROUP BY query_id
  )
  UNION ALL
  SELECT query_id, step + 1,
         list_append(picked, CAST(999999 - bk % 1000000 AS BIGINT)),
         CAST(999999 - bk % 1000000 AS BIGINT),
         CAST(bk // 1000000 - 100000000 AS BIGINT)
  FROM (
    SELECT query_id, step, picked,
           max({_MMR_KEY_O.format(
        score=f"CAST({_MMR_LAMBDA} AS DOUBLE) * simq"
              f" - CAST({round(1 - _MMR_LAMBDA, 12)} AS DOUBLE) * pen",
        cand="cand")}) AS bk
    FROM (
      SELECT r.query_id, r.step, r.picked, c.cand, c.simq,
             max(p.s) AS pen
      FROM mmr r
      JOIN pool c ON c.query_id = r.query_id
                 AND NOT list_contains(r.picked, c.cand)
      JOIN psim p ON p.query_id = c.query_id AND p.i = c.cand
                 AND list_contains(r.picked, p.j)
      WHERE r.step < {_MMR_K}
      GROUP BY r.query_id, r.step, r.picked, c.cand, c.simq
    )
    GROUP BY query_id, step, picked
  )
)
SELECT query_id, CAST(step AS BIGINT) AS step,
       pick AS pick_id,
       ROUND(score_units / 100000000.0, 6) AS mmr_score
FROM mmr
ORDER BY query_id, step
""",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's relevance top-12, greedily pick k=5
    results maximizing λ·sim(q,c) − (1−λ)·max sim(c, already
    picked) — the diversity pass a RAG retriever runs so five
    near-duplicate passages don't fill the context window. The
    greedy argmax is encoded as ONE integer key per candidate
    (score snapped to 1e-8 units, half-away-from-zero, shifted past
    the reversed candidate id) so the per-step winner is a plain
    MAX — the same engine-exact argmax in the Spark fold and in the
    DuckDB recursive CTE, which replays all k steps in SQL (the
    BPE-oracle technique).

    Scale: the only corpus-sized work is the relevance scan that
    builds the pool (broadcast queries, one candidate pass — the
    kNN shape); the k-step greedy runs per query on a 12-candidate
    matrix inside an Arrow-batched applyInPandas fold, queries
    folding independently across executors."""
    import numpy as np
    import pandas as pd

    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    from pyspark.sql import Window as _W

    scored = F.broadcast(q).join(  # bound: _KNN_NQ query rows
        vecs.select(F.col("vec_id").alias("cand"), F.col("v").alias("cv")),
        F.col("cand") != F.col("query_id"),
    ).select(
        "query_id", "cand", "cv",
        F.expr(_s_cos("qv", "cv")).alias("simq"),
    )
    rnk = _W.partitionBy("query_id").orderBy(
        F.col("simq").desc(), F.col("cand")
    )
    pool = (
        scored.withColumn("rnk", F.row_number().over(rnk))
        .filter(F.col("rnk") <= _MMR_POOL)
        .select("query_id", "cand", "simq", "cv")
    )
    p2 = pool.select(
        F.col("query_id").alias("q2"),
        F.col("cand").alias("j"),
        F.col("cv").alias("cv2"),
    )
    pairs = pool.join(
        p2,
        (F.col("query_id") == F.col("q2")) & (F.col("cand") != F.col("j")),
    ).select(
        "query_id", "cand", "simq", "j",
        F.expr(_s_cos("cv", "cv2")).alias("s"),
    )

    lam = _MMR_LAMBDA
    mu = round(1 - _MMR_LAMBDA, 12)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        simq = {
            int(c): float(v)
            for c, v in zip(pdf["cand"], pdf["simq"])
        }
        sim = {
            (int(i), int(j)): float(s)
            for i, j, s in zip(pdf["cand"], pdf["j"], pdf["s"])
        }

        def key(score: float, cand: int) -> int:
            # half-away-from-zero snap (DuckDB round convention)
            units = int(np.floor(abs(score) * 100000000 + 0.5))
            if score < 0:
                units = -units
            return (units + 100000000) * 1000000 + (999999 - cand)

        picked: list[int] = []
        out = []
        for step in range(1, _MMR_K + 1):
            best = None
            for c in simq:
                if c in picked:
                    continue
                if picked:
                    pen = max(sim[(c, j)] for j in picked)
                    score = lam * simq[c] - mu * pen
                else:
                    score = simq[c]
                k = key(score, c)
                if best is None or k > best:
                    best = k
            pick = 999999 - best % 1000000
            units = best // 1000000 - 100000000
            picked.append(pick)
            out.append((qid, step, pick, units / 100000000.0))
        return pd.DataFrame(
            out, columns=["query_id", "step", "pick_id", "mmr_score"]
        )

    raw = pairs.groupBy("query_id").applyInPandas(
        greedy,
        "query_id long, step long, pick_id long, mmr_score double",
    )
    return raw.select(
        "query_id", "step", "pick_id",
        F.round("mmr_score", 6).alias("mmr_score"),
    ).orderBy("query_id", "step")


# --------------------------------------------------------------------------
# Per-dimension information gain: which embedding dims carry the label.
# --------------------------------------------------------------------------

_IG_TOPK = 10


@workload(
    "feature_infogain_label",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
cells AS (
  SELECT d, CASE WHEN v[d + 1] >= 0 THEN 1 ELSE 0 END AS b, label,
         CAST(count(*) AS BIGINT) AS n
  FROM vecs, (SELECT unnest(range(0, {_DIM})) AS d)
  GROUP BY 1, 2, 3
),
bm AS (SELECT d, b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY d, b),
lm AS (SELECT d, label, CAST(sum(n) AS BIGINT) AS nl
       FROM cells GROUP BY d, label),
tot AS (SELECT d, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY d),
mi AS (
  SELECT c.d,
         CAST(sum(CAST(round(
             (c.n * 1.0 / t.nt)
             * ln(c.n * CAST(t.nt AS DOUBLE) / (bm.nb * lm.nl))
             * 100000000) AS BIGINT)) AS BIGINT) AS mi_units
  FROM cells c
  JOIN bm ON bm.d = c.d AND bm.b = c.b
  JOIN lm ON lm.d = c.d AND lm.label = c.label
  JOIN tot t ON t.d = c.d
  GROUP BY c.d
)
SELECT CAST(d AS BIGINT) AS dim,
       ROUND(mi_units / 100000000.0, 6) AS infogain_nats,
       CAST(rk AS BIGINT) AS rank
FROM (
  SELECT d, mi_units,
         row_number() OVER (ORDER BY mi_units DESC, d) AS rk
  FROM mi
) WHERE rk <= {_IG_TOPK}
ORDER BY rank
""",
)
def feature_infogain_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension information gain of the embedding features
    against the label: binarize each of the 64 dims at 0 (the sign
    bit — exactly what SRP hashing keeps) and rank dimensions by
    I(sign(v_d); label) — the filter-method feature selection that
    says WHICH coordinates carry the class signal (the number that
    justifies Matryoshka-style truncation: if the top-16 dims by
    info gain match the prefix, truncation is safe; if not, you
    want a learned projection first). Same integer-unit MI
    convention as mi_lang_source: per-cell contributions snap to
    1e-8 BIGINT units so the 64 per-dim sums are order-free.

    Scale: one explode ×64 over the vectors (map-side, no data
    movement) into a groupBy(dim, bit, label) that the combiner
    collapses to ≤64×2×|labels| rows per partition; everything
    downstream runs on that contingency grid. Feature count scales
    the explode factor, never the shuffle row count."""
    vecs = _vectors(spark, sf_dir)
    cells = (
        vecs.select(
            "label",
            F.posexplode(F.col("v")).alias("d", "x"),
        )
        .select(
            "d",
            F.when(F.col("x") >= 0, 1).otherwise(0).alias("b"),
            "label",
        )
        .groupBy("d", "b", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    bm = cells.groupBy("d", "b").agg(F.sum("n").cast("bigint").alias("nb"))
    lm = cells.groupBy("d", "label").agg(
        F.sum("n").cast("bigint").alias("nl")
    )
    tot = cells.groupBy("d").agg(F.sum("n").cast("bigint").alias("nt"))
    mi = (
        cells.join(F.broadcast(bm), ["d", "b"])  # bound: <= _DIM x 2 rows
        .join(F.broadcast(lm), ["d", "label"])  # bound: <= _DIM x |label| rows
        .join(F.broadcast(tot), ["d"])  # bound: <= _DIM rows
        .select(
            "d",
            F.round(
                (F.col("n") * 1.0 / F.col("nt"))
                * F.log(
                    F.col("n") * F.col("nt").cast("double")
                    / (F.col("nb") * F.col("nl"))
                )
                * 100000000
            ).cast("bigint").alias("u"),
        )
        .groupBy("d")
        .agg(F.sum("u").cast("bigint").alias("mi_units"))
    )
    from pyspark.sql import Window as _W

    rk = _W.orderBy(F.col("mi_units").desc(), F.col("d"))
    return (
        mi.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= _IG_TOPK)
        .select(
            F.col("d").cast("bigint").alias("dim"),
            F.round(F.col("mi_units") / 100000000.0, 6)
            .alias("infogain_nats"),
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# PCA top principal component via power iteration — the remaining
# linear-algebra family next to PQ / JL / SRP / int8 quantization.
# --------------------------------------------------------------------------

_PCA_ITERS = 12
_PCA_SCALE = 1000  # embeddings quantized to 1e-3 units (exact BIGINT gram)


def _pca_gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of the PCA workload: the 64x64 integer
    gram matrix as 64 rows x 64 sum columns from ONE scan of the
    embeddings table (explode by row-dimension i, combiner-collapsed
    per partition before the single 64-group shuffle). Kept as its
    own frame so tests/test_plan_quality.py can pin the one-scan
    plan shape."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr(
            f"transform(embedding, x -> cast(round(cast(x as double)"
            f" * {_PCA_SCALE}) as bigint))"
        ).alias("q")
    )
    scaled = q.select(
        F.expr(
            f"explode(transform(sequence(0, {_DIM - 1}), i ->"
            " struct(i, transform(q, x -> x * element_at(q, i + 1))"
            " as sarr)))"
        ).alias("e")
    ).select(F.col("e.i").alias("i"), F.col("e.sarr").alias("sarr"))
    return scaled.groupBy("i").agg(
        *[F.sum(F.col("sarr")[j]).alias(f"g{j}") for j in range(_DIM)]
    )


@workload(
    "pca_top_component",
    # Recursive-CTE oracle replaying the identical power-iteration
    # recurrence on the identical INTEGER gram matrix: embeddings are
    # quantized to 1e-3 BIGINT units first (round = half-away-from-
    # zero in both engines), so the 64x64 gram is bit-exact across
    # engines; the 12 normalize-multiply rounds then run on doubles
    # whose only cross-engine divergence is summation order (~1e-15
    # relative — far inside the 6dp rounding).
    oracle=f"""
WITH RECURSIVE
e AS (
  SELECT list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {_PCA_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
dims AS (SELECT unnest(range(0, {_DIM})) AS i),
gram AS (
  SELECT d1.i AS i, d2.i AS j, sum(e.q[d1.i + 1] * e.q[d2.i + 1]) AS g
  FROM e, dims d1, dims d2
  GROUP BY 1, 2
),
pit AS (
  SELECT 0 AS it, i, CAST(0.125 AS DOUBLE) AS w FROM dims
  UNION ALL
  SELECT it + 1, i, x / sqrt(sum(x * x) OVER ()) AS w
  FROM (
    SELECT s.it AS it, g.i AS i, sum(CAST(g.g AS DOUBLE) * s.w) AS x
    FROM pit s JOIN gram g ON g.j = s.i
    WHERE s.it < {_PCA_ITERS}
    GROUP BY s.it, g.i
  )
),
wfin AS (SELECT i, w FROM pit WHERE it = {_PCA_ITERS}),
gv AS (
  SELECT g.i AS i, sum(CAST(g.g AS DOUBLE) * f.w) AS x
  FROM gram g JOIN wfin f ON f.i = g.j
  GROUP BY g.i
),
lam AS (
  SELECT sum(f.w * gv.x) AS lam
  FROM gv JOIN wfin f ON f.i = gv.i
),
tr AS (SELECT sum(CAST(g AS DOUBLE)) AS tr FROM gram WHERE i = j),
sgn AS (
  SELECT CASE WHEN w < 0 THEN -1.0 ELSE 1.0 END AS s
  FROM wfin ORDER BY abs(w) DESC, i LIMIT 1
)
-- "+ 0.0" canonicalizes a rounded -0.0 to +0.0 (IEEE) so a
-- noise-floor loading can't hash-format as "-0.0" on one engine.
SELECT CAST(f.i AS INT) AS dim,
       ROUND(sgn.s * f.w, 6) + 0.0 AS loading,
       ROUND(lam.lam / {_PCA_SCALE * _PCA_SCALE}, 6) + 0.0 AS eigenvalue,
       ROUND(lam.lam / tr.tr, 6) + 0.0 AS evr
FROM wfin f, sgn, lam, tr
ORDER BY dim
""",
)
def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component (uncentered) of the embedding store
    via power iteration: gram matrix G = sum of v v^T as ONE
    map-side-combinable aggregation over the table, then
    {_PCA_ITERS} multiply-normalize rounds on the 64x64 DRIVER
    matrix — the same driver-scalars-after-one-scan shape as
    pq_reconstruction_error's Lloyd rounds. Returns the 64 loadings
    (sign-fixed: the largest-|loading| dimension is positive), the
    Rayleigh-quotient eigenvalue in original embedding units, and
    the explained-variance ratio lambda / trace(G).

    Determinism: embeddings are quantized to 1e-3 BIGINT units so G
    is integer-EXACT and bit-identical to the oracle's; the start
    vector 1/8 = 2^-3 is an exact double. The iteration itself runs
    in doubles (normalization has no integer form) — cross-engine
    divergence is summation order only, ~1e-15 relative.

    Scale: the only distributed work is one scan producing 64x64
    partial sums per partition (explode by row-dim i, 64 sum
    aggregates — combiner collapses each partition to 64x64 before
    the single 64-group shuffle). The driver never sees vectors,
    only the 4096-entry gram; iterations are free. At 100 TB this is
    the textbook one-pass covariance sketch."""
    import math

    # bound: _DIM gram rows
    gram_rows = _pca_gram_frame(spark, sf_dir).collect()
    G = {int(r["i"]): [int(r[f"g{j}"]) for j in range(_DIM)]
         for r in gram_rows}
    w = [0.125] * _DIM
    for _ in range(_PCA_ITERS):
        x = [sum(G[i][j] * w[j] for j in range(_DIM)) for i in range(_DIM)]
        nrm = math.sqrt(sum(v * v for v in x))
        w = [v / nrm for v in x]
    gv = [sum(G[i][j] * w[j] for j in range(_DIM)) for i in range(_DIM)]
    lam = sum(w[i] * gv[i] for i in range(_DIM))
    tr = float(sum(G[i][i] for i in range(_DIM)))
    top = min(range(_DIM), key=lambda k: (-abs(w[k]), k))
    s = -1.0 if w[top] < 0 else 1.0
    out = spark.createDataFrame(
        [(i, s * w[i], lam / (_PCA_SCALE * _PCA_SCALE), lam / tr)
         for i in range(_DIM)],
        "dim int, loading double, eigenvalue double, evr double",
    )
    # "+ 0.0" canonicalizes a rounded -0.0 to +0.0 (IEEE), matching
    # the oracle's identical normalization.
    return out.select(
        "dim",
        (F.round("loading", 6) + F.lit(0.0)).alias("loading"),
        (F.round("eigenvalue", 6) + F.lit(0.0)).alias("eigenvalue"),
        (F.round("evr", 6) + F.lit(0.0)).alias("evr"),
    ).orderBy("dim")


@workload(
    "pca_top2_deflation",
    # Chains a SECOND recursive power-iteration block on the deflated
    # gram G2 = G - lam1 * v1 v1^T. Both engines share the bit-exact
    # integer gram (1e-3 quantized embeddings), run the identical 12
    # rounds for v1, deflate with the identical multiply order
    # (lam * v1_i * v1_j), then run 12 more rounds WITH per-iteration
    # re-orthogonalization against v1 (y - (y.v1) v1, then normalize)
    # so float drift can never re-admit the top component.
    oracle=f"""
WITH RECURSIVE
e AS (
  SELECT list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {_PCA_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
dims AS (SELECT unnest(range(0, {_DIM})) AS i),
gram AS (
  SELECT d1.i AS i, d2.i AS j, sum(e.q[d1.i + 1] * e.q[d2.i + 1]) AS g
  FROM e, dims d1, dims d2
  GROUP BY 1, 2
),
pit AS (
  SELECT 0 AS it, i, CAST(0.125 AS DOUBLE) AS w FROM dims
  UNION ALL
  SELECT it + 1, i, x / sqrt(sum(x * x) OVER ()) AS w
  FROM (
    SELECT s.it AS it, g.i AS i, sum(CAST(g.g AS DOUBLE) * s.w) AS x
    FROM pit s JOIN gram g ON g.j = s.i
    WHERE s.it < {_PCA_ITERS}
    GROUP BY s.it, g.i
  )
),
wfin AS (SELECT i, w FROM pit WHERE it = {_PCA_ITERS}),
gv AS (
  SELECT g.i AS i, sum(CAST(g.g AS DOUBLE) * f.w) AS x
  FROM gram g JOIN wfin f ON f.i = g.j
  GROUP BY g.i
),
lam AS (
  SELECT sum(f.w * gv.x) AS lam
  FROM gv JOIN wfin f ON f.i = gv.i
),
g2 AS (
  SELECT g.i AS i, g.j AS j,
         CAST(g.g AS DOUBLE) - lam.lam * f1.w * f2.w AS g
  FROM gram g
  JOIN wfin f1 ON f1.i = g.i
  JOIN wfin f2 ON f2.i = g.j
  CROSS JOIN lam
),
pit2 AS (
  SELECT 0 AS it, i, CAST(0.125 AS DOUBLE) AS w FROM dims
  UNION ALL
  SELECT it + 1, i, yo / sqrt(sum(yo * yo) OVER ()) AS w
  FROM (
    SELECT it, i, y - (sum(y * v1) OVER ()) * v1 AS yo
    FROM (
      SELECT s.it AS it, g.i AS i,
             sum(g.g * s.w) AS y, max(f.w) AS v1
      FROM pit2 s
      JOIN g2 g ON g.j = s.i
      JOIN wfin f ON f.i = g.i
      WHERE s.it < {_PCA_ITERS}
      GROUP BY s.it, g.i
    )
  )
),
w2fin AS (SELECT i, w FROM pit2 WHERE it = {_PCA_ITERS}),
gv2 AS (
  SELECT g.i AS i, sum(CAST(g.g AS DOUBLE) * f.w) AS x
  FROM gram g JOIN w2fin f ON f.i = g.j
  GROUP BY g.i
),
lam2 AS (
  SELECT sum(f.w * gv2.x) AS lam2
  FROM gv2 JOIN w2fin f ON f.i = gv2.i
),
tr AS (SELECT sum(CAST(g AS DOUBLE)) AS tr FROM gram WHERE i = j),
sgn1 AS (
  SELECT CASE WHEN w < 0 THEN -1.0 ELSE 1.0 END AS s
  FROM wfin ORDER BY abs(w) DESC, i LIMIT 1
),
sgn2 AS (
  SELECT CASE WHEN w < 0 THEN -1.0 ELSE 1.0 END AS s
  FROM w2fin ORDER BY abs(w) DESC, i LIMIT 1
),
ortho AS (
  SELECT sum(f1.w * f2.w) AS dot12
  FROM wfin f1 JOIN w2fin f2 ON f2.i = f1.i
)
-- every rounded float gets "+ 0.0" so a noise-floor negative that
-- rounds to -0.0 normalizes to +0.0 (IEEE: -0.0 + 0.0 = +0.0) —
-- the driver hashes formatted values, and "-0.0" != "0.0" even
-- though they compare equal numerically. eig2/evr2/dot12 sit at
-- the deflation-residual noise floor, so they round at 4 dp.
SELECT CAST(f1.i AS INT) AS dim,
       ROUND(sgn1.s * f1.w, 6) + 0.0 AS pc1_loading,
       ROUND(sgn2.s * f2.w, 6) + 0.0 AS pc2_loading,
       ROUND(lam.lam / {_PCA_SCALE * _PCA_SCALE}, 6) + 0.0 AS eig1,
       ROUND(lam2.lam2 / {_PCA_SCALE * _PCA_SCALE}, 4) + 0.0 AS eig2,
       ROUND((lam.lam + lam2.lam2) / tr.tr, 4) + 0.0 AS evr2,
       ROUND(ortho.dot12, 4) + 0.0 AS dot12
FROM wfin f1
JOIN w2fin f2 ON f2.i = f1.i
CROSS JOIN sgn1 CROSS JOIN sgn2
CROSS JOIN lam CROSS JOIN lam2 CROSS JOIN tr CROSS JOIN ortho
ORDER BY dim
""",
)
def pca_top2_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TWO principal components via power iteration + Hotelling
    deflation: same one-scan integer gram as ``pca_top_component``,
    12 rounds for v1, deflate G2 = G - lam1 v1 v1^T on the 64x64
    driver matrix, then 12 rounds for v2 with per-iteration
    re-orthogonalization against v1 (the Gram-Schmidt step that
    stops float drift from re-admitting the dominant component even
    when the deflation residual is at the noise floor). Reports both
    sign-fixed loading vectors, both Rayleigh eigenvalues in
    original units (eig2 measured against the ORIGINAL gram — with
    v2 perpendicular to v1 it equals the deflated quotient up to the
    orthogonality defect), the cumulative explained-variance ratio,
    and the v1.v2 dot product as a built-in orthogonality audit
    (rounds to 0.0).

    Scale: identical to pca_top_component — the cluster does ONE
    combiner-collapsed scan to a 64x64 gram; every iteration, the
    deflation, and the second eigenpair are driver scalars. k
    components = k deflations of the same 4096-entry matrix, still
    zero extra scans — the textbook one-pass sketch for PCA whitening
    of an embedding store at 100 TB."""
    import math

    # bound: _DIM gram rows
    gram_rows = _pca_gram_frame(spark, sf_dir).collect()
    G = {int(r["i"]): [int(r[f"g{j}"]) for j in range(_DIM)]
         for r in gram_rows}
    w = [0.125] * _DIM
    for _ in range(_PCA_ITERS):
        x = [sum(G[i][j] * w[j] for j in range(_DIM)) for i in range(_DIM)]
        nrm = math.sqrt(sum(v * v for v in x))
        w = [v / nrm for v in x]
    gv = [sum(G[i][j] * w[j] for j in range(_DIM)) for i in range(_DIM)]
    lam = sum(w[i] * gv[i] for i in range(_DIM))
    G2 = [[float(G[i][j]) - lam * w[i] * w[j] for j in range(_DIM)]
          for i in range(_DIM)]
    w2 = [0.125] * _DIM
    for _ in range(_PCA_ITERS):
        y = [sum(G2[i][j] * w2[j] for j in range(_DIM))
             for i in range(_DIM)]
        proj = sum(y[i] * w[i] for i in range(_DIM))
        yo = [y[i] - proj * w[i] for i in range(_DIM)]
        nrm = math.sqrt(sum(v * v for v in yo))
        w2 = [v / nrm for v in yo]
    gv2 = [sum(G[i][j] * w2[j] for j in range(_DIM)) for i in range(_DIM)]
    lam2 = sum(w2[i] * gv2[i] for i in range(_DIM))
    tr = float(sum(G[i][i] for i in range(_DIM)))
    dot12 = sum(w[i] * w2[i] for i in range(_DIM))
    t1 = min(range(_DIM), key=lambda k: (-abs(w[k]), k))
    t2 = min(range(_DIM), key=lambda k: (-abs(w2[k]), k))
    s1 = -1.0 if w[t1] < 0 else 1.0
    s2 = -1.0 if w2[t2] < 0 else 1.0
    sc2 = _PCA_SCALE * _PCA_SCALE
    out = spark.createDataFrame(
        [(i, s1 * w[i], s2 * w2[i], lam / sc2, lam2 / sc2,
          (lam + lam2) / tr, dot12) for i in range(_DIM)],
        "dim int, pc1_loading double, pc2_loading double,"
        " eig1 double, eig2 double, evr2 double, dot12 double",
    )
    # "+ 0.0" canonicalizes -0.0 (a noise-floor negative rounds to
    # -0.0, which hash-formats as "-0.0" but compares equal to 0.0);
    # eig2/evr2/dot12 are deflation-residual noise-floor, so 4 dp.
    return out.select(
        "dim",
        (F.round("pc1_loading", 6) + F.lit(0.0)).alias("pc1_loading"),
        (F.round("pc2_loading", 6) + F.lit(0.0)).alias("pc2_loading"),
        (F.round("eig1", 6) + F.lit(0.0)).alias("eig1"),
        (F.round("eig2", 4) + F.lit(0.0)).alias("eig2"),
        (F.round("evr2", 4) + F.lit(0.0)).alias("evr2"),
        (F.round("dot12", 4) + F.lit(0.0)).alias("dot12"),
    ).orderBy("dim")


# --------------------------------------------------------------------------
# Gonzalez k-center greedy coreset over the embedding store.
# --------------------------------------------------------------------------

_KC_K = 8  # centers selected
_KC_SCALE = 1000  # same 1e-3 integer quantization as the PCA gram


def _kc_dist_sql(qcol: str, ccol: str) -> str:
    """Exact integer squared L2 between two quantized DuckDB lists."""
    return (
        f"list_sum(list_transform(range({_DIM}),"
        f" i -> ({qcol}[i+1] - {ccol}[i+1])"
        f" * ({qcol}[i+1] - {ccol}[i+1])))"
    )


def _kc_oracle() -> str:
    rounds = []
    for i in range(1, _KC_K):
        prev_m = f"m{i - 1}"
        rounds.append(f"""
p{i} AS (
  SELECT vec_id, q, d FROM {prev_m}
  ORDER BY d DESC, vec_id LIMIT 1
),
m{i} AS (
  SELECT m.vec_id, m.q,
         least(m.d, {_kc_dist_sql('m.q', 'p.q')}) AS d
  FROM {prev_m} m CROSS JOIN p{i} p
)""")
    sel_rows = ["SELECT 0 AS sel_rank, vec_id, CAST(0 AS BIGINT) AS d2"
                " FROM p0"]
    for i in range(1, _KC_K):
        sel_rows.append(
            f"SELECT {i}, vec_id, CAST(d AS BIGINT) FROM p{i}"
        )
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(round(x * {_KC_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
p0 AS (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 1),
m0 AS (
  SELECT e.vec_id, e.q,
         {_kc_dist_sql('e.q', 'p.q')} AS d
  FROM e CROSS JOIN p0 p
),{",".join(rounds)},
sel AS ({" UNION ALL ".join(sel_rows)}),
rad AS (SELECT CAST(max(d) AS BIGINT) AS radius FROM m{_KC_K - 1})
SELECT CAST(sel.sel_rank AS BIGINT) AS sel_rank,
       sel.vec_id AS vec_id,
       sel.d2 AS d2_at_selection,
       rad.radius AS radius_after_k
FROM sel CROSS JOIN rad
ORDER BY sel_rank
"""


@workload("coreset_kcenter_greedy", oracle=_kc_oracle())
def coreset_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez k-center greedy coreset (Gonzalez 1985) over the
    embedding store: start from the lowest vec_id, then {_KC_K - 1}
    times add the point FARTHEST from the chosen set — the
    2-approximation to the k-center objective, and the standard
    diverse-subset selector for data curation (the opposite pull of
    SemDeDup: that removes near-duplicates, this finds the maximally
    spread exemplars to label/inspect first). Reports each center
    with its distance-to-set at selection (non-increasing — the
    greedy invariant) and the final covering radius max-min-d².

    Determinism: TOTAL — embeddings quantize to 1e-3 BIGINT units,
    every squared L2 is exact integer arithmetic, every argmax
    breaks ties on vec_id. The only floats anywhere are in the
    display-free quantization round. The oracle replays the
    identical {_KC_K}-round greedy as an unrolled CTE chain.

    Scale: the state is ONE (vec_id, q, min-d²) frame updated by a
    map-only least() against the newly chosen center (64 literal
    ints in the plan = broadcast state), re-checkpointed per round
    (O(1) storage in rounds); each round costs one scan + one
    TakeOrdered(1). k centers = k linear passes — the textbook
    trade against k-means++'s k shuffles, and the chosen-center
    literals never touch a join."""
    emb = t(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(round(cast(x as double)"
            f" * {_KC_SCALE}) as bigint))"
        ).alias("q"),
    )
    from datanika_core_spark.blocks import RollingCheckpoint

    roll = RollingCheckpoint(spark)
    first = vecs.orderBy("vec_id").limit(1).collect()[0]  # bound: limit(1)
    centers = [(0, int(first["vec_id"]), 0)]
    c_arr = [int(x) for x in first["q"]]

    def dist_expr(center: list[int]) -> str:
        lits = ",".join(f"{v}L" for v in center)
        return (
            f"aggregate(zip_with(q, array({lits}),"
            " (a, b) -> (a - b) * (a - b)),"
            " cast(0 as bigint), (acc, x) -> acc + x)"
        )

    mind = vecs.select(
        "vec_id", "q", F.expr(dist_expr(c_arr)).alias("d")
    )
    mind = roll(mind)
    for rank in range(1, _KC_K):
        nxt = (
            # bound: limit(1)
            mind.orderBy(F.col("d").desc(), "vec_id").limit(1).collect()
        )[0]
        centers.append((rank, int(nxt["vec_id"]), int(nxt["d"])))
        c_arr = [int(x) for x in nxt["q"]]
        mind = mind.select(
            "vec_id", "q",
            F.least(F.col("d"), F.expr(dist_expr(c_arr))).alias("d"),
        )
        mind = roll(mind)
    # bound: one aggregate row
    radius = int(mind.agg(F.max("d")).collect()[0][0])
    roll.release()
    out = spark.createDataFrame(
        [(r, v, d, radius) for r, v, d in centers],
        "sel_rank bigint, vec_id bigint, d2_at_selection bigint,"
        " radius_after_k bigint",
    )
    return out.orderBy("sel_rank")


# --------------------------------------------------------------------------
# Semi-supervised label propagation on the exact kNN graph.
# --------------------------------------------------------------------------

_LP_K = 5        # neighbors per node
_LP_ROUNDS = 3   # propagation rounds
_LP_SCALE = 1000  # 1e-3 integer quantization (exact L2)


def _lp_round_sql(prev: str, idx: int) -> str:
    """One propagation round as DuckDB CTE text: seeds stay clamped;
    unlabeled nodes take the majority label of their kNN neighbors
    (tie → smallest label), or stay NULL with no labeled neighbor."""
    return f"""
votes{idx} AS (
  SELECT e.src AS v, p.lab AS lab, count(*) AS n
  FROM knn e JOIN {prev} p ON p.v = e.dst
  WHERE p.lab IS NOT NULL
  GROUP BY 1, 2
),
win{idx} AS (
  SELECT v, lab,
         row_number() OVER (PARTITION BY v ORDER BY n DESC, lab) AS rk
  FROM votes{idx}
),
lp{idx} AS (
  SELECT s.v AS v,
         CASE WHEN s.seed IS NOT NULL THEN s.seed ELSE w.lab END AS lab,
         s.seed AS seed
  FROM seeds s LEFT JOIN win{idx} w ON w.v = s.v AND w.rk = 1
)"""


def _lp_oracle() -> str:
    chain = ",".join(
        _lp_round_sql(f"lp{i - 1}" if i > 1 else "lp0", i)
        for i in range(1, _LP_ROUNDS + 1)
    )
    return f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
           x -> CAST(round(x * {_LP_SCALE}) AS BIGINT)) AS q
  FROM embeddings
  WHERE vec_id % 2 = 0
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, b.label AS dlab,
         list_sum(list_transform(range({_DIM}),
           i -> (a.q[i+1] - b.q[i+1]) * (a.q[i+1] - b.q[i+1]))) AS d2
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
knn AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY d2, dst) AS rk
    FROM pairs
  ) WHERE rk <= {_LP_K}
),
seeds AS (
  SELECT vec_id AS v, label AS true_lab,
         CASE WHEN vec_id % 5 = 0 THEN label END AS seed
  FROM e
),
lp0 AS (SELECT v, seed AS lab, seed FROM seeds),
{chain},
masked AS (
  SELECT s.true_lab AS label, f.lab AS pred
  FROM seeds s JOIN lp{_LP_ROUNDS} f ON f.v = s.v
  WHERE s.seed IS NULL
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_predicted,
       CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       ROUND(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) * 1.0
             / nullif(sum(CASE WHEN pred IS NOT NULL
                               THEN 1 ELSE 0 END), 0), 6) AS accuracy
FROM masked
GROUP BY label
ORDER BY label
"""


@workload("ssl_label_propagation", oracle=_lp_oracle())
def ssl_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002,
    hard-clamped majority variant) on the exact {_LP_K}-NN graph of
    the embedding store: 20% of vectors keep their label as seeds
    (vec_id % 5 = 0), the rest vote {_LP_ROUNDS} rounds over their
    nearest neighbors' current labels (seeds clamped; ties take the
    smallest label). Reports per-class accuracy + coverage on the
    MASKED nodes — the measured answer to 'can we auto-label the
    other 80% of the corpus from this seed set?', the
    labeling-budget question every curation pipeline asks before
    paying annotators. Runs on the deterministic 50% pilot sample
    (vec_id % 2 = 0) — the pilot-study framing, and what keeps the
    exact-kNN parity oracle's all-pairs spill bounded at 10× data.

    Determinism: TOTAL — distances are exact integer squared L2 on
    1e-3-quantized BIGINTs with (d², vec_id) tiebreaks; votes are
    integer counts with (count desc, label) tiebreaks; no float
    appears before the display accuracy.

    Scale: the all-pairs kNN here is the exact baseline (the parity
    point); at corpus scale the IVF index (ann_ivf_cosine's posting
    lists) supplies the same (src, dst) edge table and everything
    downstream is unchanged — each round is one equi-join of the
    label vector onto the fixed edge list + a counted groupBy
    (the PageRank shape; label vector broadcastable, edges
    |V|·k rows). Rounds re-checkpoint the label frame: O(1) storage
    in rounds."""
    from datanika_core_spark.blocks import RollingCheckpoint

    emb = t(spark, sf_dir, "embeddings")
    e = emb.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id", "label",
        F.expr(
            f"transform(embedding, x -> cast(round(cast(x as double)"
            f" * {_LP_SCALE}) as bigint))"
        ).alias("q"),
    ).localCheckpoint(eager=True)  # knn + seed consumers, one scan
    a = e.select(F.col("vec_id").alias("src"), F.col("q").alias("qa"))
    b = e.select(F.col("vec_id").alias("dst"), F.col("q").alias("qb"))
    pairs = (
        a.join(b, F.col("src") != F.col("dst"))
        .select(
            "src", "dst",
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
                " cast(0 as bigint), (acc, v) -> acc + v)"
            ).alias("d2"),
        )
    )
    from pyspark.sql import Window as _W

    knn = (
        pairs.select(
            "src", "dst",
            F.row_number()
            .over(_W.partitionBy("src").orderBy("d2", "dst"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= _LP_K)
        .select("src", "dst")
        .localCheckpoint(eager=True)  # fixed edge list for all rounds
    )
    seeds = e.select(
        F.col("vec_id").alias("v"),
        F.col("label").alias("true_lab"),
        F.when(F.col("vec_id") % 5 == 0, F.col("label")).alias("seed"),
    ).localCheckpoint(eager=True)
    lab = seeds.select("v", F.col("seed").alias("lab"))
    roll = RollingCheckpoint(spark)
    for _ in range(_LP_ROUNDS):
        votes = (
            knn.join(
                # bound: seed labels (1/5 of the vectors); sort-merge
                # join without it
                F.broadcast(lab.filter(F.col("lab").isNotNull())),
                knn.dst == F.col("v"),
            )
            .groupBy(F.col("src"), F.col("lab"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        win = votes.select(
            "src", "lab",
            F.row_number()
            .over(
                _W.partitionBy("src").orderBy(F.col("n").desc(), "lab")
            )
            .alias("rk"),
        ).filter(F.col("rk") == 1)
        lab = (
            seeds.join(
                win.select(F.col("src").alias("v"),
                           F.col("lab").alias("wlab")),
                "v", "left",
            )
            .select(
                "v",
                F.when(F.col("seed").isNotNull(), F.col("seed"))
                .otherwise(F.col("wlab")).alias("lab"),
            )
        )
        lab = roll(lab)
    masked = (
        seeds.filter(F.col("seed").isNull())
        .join(lab, "v")
        .select(F.col("true_lab").alias("label"), F.col("lab").alias("pred"))
    )
    out = masked.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_masked"),
        F.sum(F.when(F.col("pred").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_predicted"),
        F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0))
        .cast("bigint").alias("n_correct"),
    ).select(
        F.col("label").cast("bigint").alias("label"),
        "n_masked", "n_predicted", "n_correct",
        F.round(
            F.col("n_correct") * 1.0
            / F.nullif(F.col("n_predicted"), F.lit(0)),
            6,
        ).alias("accuracy"),
    ).orderBy("label")
    return out


# --------------------------------------------------------------------------
# Binary (sign) quantization + Hamming shortlist + exact rerank.
# --------------------------------------------------------------------------

_BQ_POOL = 24  # Hamming candidate pool per query, then exact rerank


def _s_pack(v: str, lo: int) -> str:
    """32 sign bits of {v}[lo..lo+31] packed into one BIGINT —
    Spark-side integer fold (exact: each power occurs at most once,
    sum < 2^32)."""
    return (
        f"aggregate(sequence({lo}, {lo + 31}), 0L, (acc, i) -> acc"
        f" + (case when element_at({v}, i) >= 0"
        f" then shiftleft(1L, i - {lo}) else 0L end))"
    )


def _o_pack(v: str, lo: int) -> str:
    """Same 32-bit sign pack in DuckDB (2.0**k is exact in double for
    k <= 31, so the list_sum is exact before the BIGINT cast)."""
    return (
        f"CAST(list_sum(list_transform(range({lo}, {lo + 32}),"
        f" i -> CASE WHEN {v}[i] >= 0 THEN 2.0 ** (i - {lo})"
        f" ELSE 0 END)) AS BIGINT)"
    )


@workload(
    "embedding_binary_sign_hamming",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
packed AS (
  SELECT vec_id, v,
         {_o_pack('v', 1)} AS b_lo,
         {_o_pack('v', 33)} AS b_hi
  FROM vecs
),
q AS (SELECT vec_id AS query_id, v AS qv, b_lo AS q_lo, b_hi AS q_hi
      FROM packed WHERE vec_id < {_KNN_NQ}),
ham AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, c.v,
         CAST(bit_count(xor(q.q_lo, c.b_lo))
              + bit_count(xor(q.q_hi, c.b_hi)) AS BIGINT) AS hd
  FROM q JOIN packed c ON c.vec_id <> q.query_id
),
pool AS (
  SELECT query_id, neighbor_id, qv, v FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY hd, neighbor_id) AS rn
    FROM ham
  ) WHERE rn <= {_BQ_POOL}
),
rerank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
               ORDER BY {_o_cos('qv', 'v')} DESC, neighbor_id) AS rk
    FROM pool
  ) WHERE rk <= {_KNN_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_o_cos('q.qv', 'c.v')} DESC, c.vec_id) AS rk
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
  ) WHERE rk <= {_KNN_K}
)
SELECT e.query_id,
       CAST(count(r.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(count(r.neighbor_id) * 1.0 / {_KNN_K}, 6) AS recall_at_k
FROM exact e
LEFT JOIN rerank r ON r.query_id = e.query_id
                  AND r.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""",
)
def embedding_binary_sign_hamming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary sign quantization for ANN shortlist: each 64-dim float
    vector compresses to 64 SIGN BITS packed into two BIGINTs (8
    bytes — 32× smaller than float32), queries shortlist the corpus
    by Hamming distance (two XOR + popcount instructions a
    candidate), and only the {pool}-candidate pool pays the exact
    cosine rerank. Reports measured recall@{k} against the exact
    top-{k} per query — the self-measuring-approximation convention
    (cf. eval_auc_histogram, dedup_lsh_recall_eval).

    Scale: this is THE memory-bound regime trade for 100 TB ANN —
    the packed index is 8 bytes/vector so a billion vectors fit in
    8 GB of executor memory; Hamming scan is whole-stage-codegen
    integer ops (no floats touched until the pool), and the rerank
    cost is |Q|·pool, independent of corpus size. Determinism: the
    bit pack is an exact integer fold on both engines (each power of
    two occurs once), Hamming is integer, and both rank windows
    carry neighbor_id tiebreaks."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    packed = vecs.select(
        "vec_id", "v",
        F.expr(_s_pack("v", 1)).alias("b_lo"),
        F.expr(_s_pack("v", 33)).alias("b_hi"),
    )
    q = packed.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("b_lo").alias("q_lo"), F.col("b_hi").alias("q_hi"),
    )
    ham = (
        F.broadcast(q)  # bound: _KNN_NQ query rows
        .join(packed.alias("c"), F.col("c.vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("c.vec_id").alias("neighbor_id"),
            "qv", "v",
            F.expr(
                "cast(bit_count(q_lo ^ b_lo)"
                " + bit_count(q_hi ^ b_hi) as bigint)"
            ).alias("hd"),
        )
    )
    wh = Window.partitionBy("query_id").orderBy("hd", "neighbor_id")
    pool = (
        ham.withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") <= _BQ_POOL)
        .drop("rn", "hd")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.expr(_s_cos("qv", "v")).desc(), F.col("neighbor_id")
    )
    rerank = (
        pool.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= _KNN_K)
        .select("query_id", "neighbor_id")
    )
    exact_scored = (
        F.broadcast(q.select("query_id", "qv"))  # bound: _KNN_NQ query rows
        .join(vecs.alias("c"), F.col("c.vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("c.vec_id").alias("neighbor_id"),
            F.expr(_s_cos("qv", "v")).alias("sim"),
        )
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    exact = (
        exact_scored.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= _KNN_K)
        .select("query_id", "neighbor_id")
    )
    r = rerank.select(
        F.col("query_id").alias("r_qid"),
        F.col("neighbor_id").alias("r_nid"),
    )
    return (
        exact.join(
            r,
            (F.col("query_id") == F.col("r_qid"))
            & (F.col("neighbor_id") == F.col("r_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("r_nid").cast("bigint").alias("n_hit"),
            F.round(F.count("r_nid") * 1.0 / _KNN_K, 6)
            .alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# Semi-hard triplet mining (FaceNet band) for metric-learning batches.
# --------------------------------------------------------------------------

_TRIP_MARGIN = "cast(0.1 as double)"
_TRIP_NQ = 10  # vec_id < 10 anchor


@workload(
    "triplet_mining_semihard",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
a AS (SELECT vec_id AS anchor_id, label AS a_label, v AS av
      FROM vecs WHERE vec_id < {_TRIP_NQ}),
sims AS (
  SELECT a.anchor_id, a.a_label, c.vec_id, c.label,
         {_o_cos('a.av', 'c.v')} AS sim
  FROM a JOIN vecs c ON c.vec_id <> a.anchor_id
),
pos AS (
  SELECT anchor_id, vec_id AS pos_id, sim AS pos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY sim DESC, vec_id) AS rn
    FROM sims WHERE label = a_label
  ) WHERE rn = 1
),
semihard AS (
  SELECT s.anchor_id, s.vec_id, s.sim, p.pos_id, p.pos_sim
  FROM sims s JOIN pos p ON p.anchor_id = s.anchor_id
  WHERE s.label <> s.a_label
    AND s.sim < p.pos_sim
    AND s.sim > p.pos_sim - {_TRIP_MARGIN}
),
hardest AS (
  SELECT anchor_id, vec_id AS hard_neg_id, sim AS hard_neg_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY sim DESC, vec_id) AS rn
    FROM semihard
  ) WHERE rn = 1
),
counts AS (
  SELECT anchor_id, CAST(count(*) AS BIGINT) AS n_semihard
  FROM semihard GROUP BY anchor_id
)
SELECT p.anchor_id, p.pos_id,
       ROUND(p.pos_sim, 6) AS pos_sim,
       coalesce(c.n_semihard, 0) AS n_semihard,
       h.hard_neg_id,
       ROUND(h.hard_neg_sim, 6) AS hard_neg_sim
FROM pos p
LEFT JOIN counts c ON c.anchor_id = p.anchor_id
LEFT JOIN hardest h ON h.anchor_id = p.anchor_id
ORDER BY p.anchor_id
""",
)
def triplet_mining_semihard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard triplet mining (the FaceNet recipe) over the labeled
    embedding space: for each anchor, the positive is its nearest
    same-label neighbor, and candidate negatives are different-label
    vectors INSIDE the semi-hard band — less similar than the
    positive but by no more than the margin (0.1) — the negatives
    that produce informative, non-collapsing gradients. Reports each
    anchor's positive, its semi-hard count (band emptiness tells you
    the margin is exhausted), and the hardest in-band negative —
    the triple a metric-learning trainer would consume.

    Determinism: cosines evaluate the shared expression text over
    double-cast vectors; both argmax windows and the band
    comparisons use those identical doubles with vec_id tiebreaks.
    Scale: anchors broadcast against the corpus scan (the kNN
    convention — corpus never shuffles); the band filter reduces
    |A|·|corpus| scored rows to the mined triplets before any wide
    operation; per-anchor argmaxes are window top-1s on the
    anchor-partitioned stream. At 100 TB mining runs per
    training-batch shard, which this plan is exactly."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    a = vecs.filter(F.col("vec_id") < _TRIP_NQ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("v").alias("av"),
    )
    sims = (
        F.broadcast(a)  # bound: _TRIP_NQ anchor rows
        .join(vecs.alias("c"), F.col("c.vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id", "a_label",
            F.col("c.vec_id").alias("vec_id"),
            F.col("c.label").alias("label"),
            F.expr(_s_cos("av", "v")).alias("sim"),
        )
    )
    wtop = Window.partitionBy("anchor_id").orderBy(
        F.col("sim").desc(), "vec_id"
    )
    pos = (
        sims.filter(F.col("label") == F.col("a_label"))
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("vec_id").alias("pos_id"),
            F.col("sim").alias("pos_sim"),
        )
    )
    semihard = (
        sims.filter(F.col("label") != F.col("a_label"))
        # bound: one row per anchor (_TRIP_NQ)
        .join(F.broadcast(pos), "anchor_id")
        .filter(
            (F.col("sim") < F.col("pos_sim"))
            & (F.col("sim") > F.col("pos_sim") - F.expr(_TRIP_MARGIN))
        )
    )
    hardest = (
        semihard.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("vec_id").alias("hard_neg_id"),
            F.col("sim").alias("hard_neg_sim"),
        )
    )
    counts = semihard.groupBy("anchor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_semihard")
    )
    return (
        pos.join(counts, "anchor_id", "left")
        .join(hardest, "anchor_id", "left")
        .select(
            "anchor_id", "pos_id",
            F.round("pos_sim", 6).alias("pos_sim"),
            F.coalesce("n_semihard", F.lit(0)).cast("bigint")
            .alias("n_semihard"),
            "hard_neg_id",
            F.round("hard_neg_sim", 6).alias("hard_neg_sim"),
        )
        .orderBy("anchor_id")
    )


# --------------------------------------------------------------------------
# Trajectory similarity top-k (cell-set Jaccard, inverted-index pruned).
# --------------------------------------------------------------------------

_TRAJ_NQ = 5   # user_id < 5 are the query trajectories
_TRAJ_K = 5


@workload(
    "trajectory_similarity_topk",
    oracle=f"""
WITH cells AS (
  SELECT DISTINCT user_id,
         event_type || ':' ||
         CAST((epoch_us(ts) // 3600000000) % 168 AS VARCHAR) AS cell
  FROM events
),
sizes AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS sz
  FROM cells GROUP BY user_id
),
q AS (SELECT user_id AS qid, cell FROM cells WHERE user_id < {_TRAJ_NQ}),
inter AS (
  SELECT q.qid, c.user_id AS cand,
         CAST(count(*) AS BIGINT) AS isect
  FROM q JOIN cells c ON c.cell = q.cell AND c.user_id <> q.qid
  GROUP BY q.qid, c.user_id
),
scored AS (
  SELECT i.qid, i.cand, i.isect,
         sq.sz AS q_sz, sc.sz AS c_sz,
         i.isect * 1000000 // (sq.sz + sc.sz - i.isect) AS jac_ppm
  FROM inter i
  JOIN sizes sq ON sq.user_id = i.qid
  JOIN sizes sc ON sc.user_id = i.cand
)
SELECT qid, cand, isect, q_sz, c_sz,
       ROUND(jac_ppm / 1000000.0, 6) AS jaccard,
       CAST(rk AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY jac_ppm DESC, cand) AS rk
  FROM scored
) WHERE rk <= {_TRAJ_K}
ORDER BY qid, rank
""",
)
def trajectory_similarity_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed top-k trajectory similarity in the REPOSE shape
    (ICDE'21 — PAPERS.md): each user's behavioral trajectory is its
    set of (event_type, hour-of-week) grid cells, candidates for a
    query trajectory are generated ONLY through the inverted cell
    index (an equi-join on shared cells — the reference-point
    pruning idea: trajectories sharing zero cells are never paired),
    and the Jaccard over cell sets ranks the top-{k} most similar
    users per query. The same shape handles geo trajectories with
    spatial cells.

    Determinism: cell sets and intersections are exact integers;
    the ranking key is the integer-div Jaccard in ppm (no float
    sort); ties break on candidate id. Scale: the cell inventory is
    one distinct per user (the sessionization shuffle); candidate
    generation joins the query cells against the inverted index —
    cost bounded by cell co-occupancy, never |users|² — and the
    per-query top-k is a window over the candidates only."""
    from pyspark.sql import Window

    cells = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.concat(
                F.col("event_type"), F.lit(":"),
                (
                    F.expr("unix_micros(cast(ts as timestamp))"
                           " div 3600000000") % 168
                ).cast("string"),
            ).alias("cell"),
        )
        .distinct()
    )
    sizes = cells.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    q = cells.filter(F.col("user_id") < _TRAJ_NQ).select(
        F.col("user_id").alias("qid"), "cell"
    )
    inter = (
        q.join(
            cells.select(F.col("user_id").alias("cand"), "cell"),
            "cell",
        )
        .filter(F.col("cand") != F.col("qid"))
        .groupBy("qid", "cand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("isect"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("user_id").alias("qid"),
                         F.col("sz").alias("q_sz")),
            "qid",
        )
        .join(
            sizes.select(F.col("user_id").alias("cand"),
                         F.col("sz").alias("c_sz")),
            "cand",
        )
        .withColumn(
            "jac_ppm",
            F.expr("isect * 1000000 div (q_sz + c_sz - isect)"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("jac_ppm").desc(), "cand")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TRAJ_K)
        .select(
            "qid", "cand", "isect", "q_sz", "c_sz",
            F.round(F.col("jac_ppm") / 1000000.0, 6).alias("jaccard"),
            F.col("rk").cast("bigint").alias("rank"),
        )
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# Davies-Bouldin cluster-validity index over the deterministic Lloyd fit.
# --------------------------------------------------------------------------

_DB_UNIT = 100000000

#: Scatter-ratio term for cluster pair (i, j): (s_i + s_j) / d_ij,
#: with s = mean member-to-centroid distance reconstructed from the
#: exact integer unit sums — ONE shared text, identical IEEE tree.
_DB_TERM = (
    f"(su_i * cast(1.0 as double) / n_i / {_DB_UNIT}"
    f" + su_j * cast(1.0 as double) / n_j / {_DB_UNIT}) / sqrt(dsq)"
)


@workload(
    "cluster_davies_bouldin",
    oracle=f"""
WITH vecs AS ({_O_VECTORS}),
c0 AS (SELECT vec_id AS cid, v AS cvec FROM vecs WHERE vec_id < {_KM_K}),
a1 AS ({_o_km_assign('vecs', 'c0')}),
c1 AS ({_O_KM_RECOMPUTE.format(src='a1', rnd=_KM_ROUND)}),
a2 AS ({_o_km_assign('vecs', 'c1')}),
c2 AS ({_O_KM_RECOMPUTE.format(src='a2', rnd=_KM_ROUND)}),
a3 AS ({_o_km_assign('vecs', 'c2')}),
sstats AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(sqrt(dist) * {_DB_UNIT}) AS BIGINT))
              AS BIGINT) AS su
  FROM a3 GROUP BY cid
),
cpair AS (
  SELECT a.cid AS i, b.cid AS j,
         {_O_SQD.format(a='a.cvec', b='b.cvec', n=_DIM)} AS dsq
  FROM c2 a JOIN c2 b ON a.cid <> b.cid
),
terms AS (
  SELECT p.i,
         max({_DB_TERM}) AS r_i
  FROM cpair p
  JOIN (SELECT cid, n AS n_i, su AS su_i FROM sstats) si ON si.cid = p.i
  JOIN (SELECT cid, n AS n_j, su AS su_j FROM sstats) sj ON sj.cid = p.j
  GROUP BY p.i
),
dbx AS (
  SELECT CAST(sum(CAST(round(r_i * {_DB_UNIT}) AS BIGINT)) AS BIGINT)
           AS db_u,
         CAST(count(*) AS BIGINT) AS k
  FROM terms
)
SELECT s.cid AS cluster_id, s.n AS n_vecs,
       ROUND(s.su * 1.0 / s.n / {_DB_UNIT}, 6) AS mean_dist,
       ROUND(t.r_i, 6) AS db_term,
       ROUND(d.db_u * 1.0 / d.k / {_DB_UNIT}, 6) AS db_index
FROM sstats s
JOIN terms t ON t.i = s.cid
CROSS JOIN dbx d
ORDER BY s.cid
""",
)
def cluster_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin cluster-validity index over the SAME
    deterministic 2-iteration Lloyd fit as kmeans_lloyd_embeddings:
    per cluster the scatter s_i (mean member→centroid distance) and
    its worst similarity ratio R_i = max_j (s_i+s_j)/d_ij against
    every other centroid; DB = mean R_i (lower = tighter, better
    separated — the k-selection gate you'd run after each candidate
    k). The per-cluster db_term also names each cluster's most
    confusable neighbor ratio — the merge candidate.

    Determinism: assignments replay the oracle-verified Lloyd chain;
    member distances snap to 1e-8 BIGINT units before the per-cluster
    sums; centroid pair distances evaluate the shared squared-L2 fold
    on the 6dp-rounded centroid literals; each R_i re-snaps before
    the final mean. Scale: the only corpus-sized work is the
    assignment scan the k-means fit already pays; everything after
    runs on k rows (scatters) and k² pairs."""
    vecs = _vectors(spark, sf_dir)
    cents = {
        int(r.vec_id): list(r.v)
        # bound: vec_id < _KM_K
        for r in vecs.filter(F.col("vec_id") < _KM_K).collect()
    }
    for _ in range(2):
        assigned = _km_assign(vecs, cents)
        cents = _km_recompute(assigned)
    final = _km_assign(vecs, cents)
    sstats = final.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.round(F.sqrt("dist") * _DB_UNIT).cast("bigint")
        ).cast("bigint").alias("su"),
    )
    cents_df = spark.createDataFrame(
        [(cid, vec) for cid, vec in sorted(cents.items())],
        "cid bigint, cvec array<double>",
    )
    a = cents_df.select(F.col("cid").alias("i"), F.col("cvec").alias("va"))
    b = cents_df.select(F.col("cid").alias("j"), F.col("cvec").alias("vb"))
    cpair = (
        F.broadcast(a)  # bound: k centroid rows, driver-built
        # bound: k centroid rows, driver-built
        .join(F.broadcast(b), F.col("i") != F.col("j"))
        .select(
            "i", "j",
            F.expr(_S_SQD.format(a="va", b="vb")).alias("dsq"),
        )
    )
    si = sstats.select(
        F.col("cid").alias("i"),
        F.col("n").alias("n_i"), F.col("su").alias("su_i"),
    )
    sj = sstats.select(
        F.col("cid").alias("j"),
        F.col("n").alias("n_j"), F.col("su").alias("su_j"),
    )
    terms = (
        cpair.join(F.broadcast(si), "i")  # bound: k cluster rows
        .join(F.broadcast(sj), "j")  # bound: k cluster rows
        .groupBy("i")
        .agg(F.max(F.expr(_DB_TERM)).alias("r_i"))
    )
    dbx = terms.agg(
        F.sum(F.round(F.col("r_i") * _DB_UNIT).cast("bigint"))
        .cast("bigint").alias("db_u"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return (
        sstats.join(terms, sstats.cid == terms.i)
        .crossJoin(F.broadcast(dbx))  # bound: one row
        .select(
            F.col("cid").alias("cluster_id"),
            F.col("n").alias("n_vecs"),
            F.round(F.col("su") * 1.0 / F.col("n") / _DB_UNIT, 6)
            .alias("mean_dist"),
            F.round("r_i", 6).alias("db_term"),
            F.round(F.col("db_u") * 1.0 / F.col("k") / _DB_UNIT, 6)
            .alias("db_index"),
        )
        .orderBy("cluster_id")
    )
