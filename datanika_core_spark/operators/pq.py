"""Product quantization (Jégou et al. 2011, "Product Quantization
for Nearest Neighbor Search"): compress a d-dim embedding store to
m sub-codes of log2(k) bits each by running k-means per subspace,
and encode every vector as its per-subspace nearest-codeword ids.

Beyond-reference ANN infrastructure: complements IVFIndexStore
(coarse quantizer / posting lists — operators/ann_store.py) exactly
as in the IVF-PQ index family; embedding_quantize_int8
(workloads/similarity.py) is the scalar-quantization alternative
with a 4× ratio, PQ reaches 32×+ at higher distortion.

Scale design:
- ALL m subspaces train in ONE distributed job per Lloyd iteration:
  vectors explode to (vec_id, sub, subvec) rows once, assignment is
  an argmin against the broadcast (m × k) codebook (tiny — 128 rows
  at the defaults), and the centroid update is a combiner-friendly
  groupBy(sub, cid) mean. No per-subspace driver loop.
- The iteration collects only the codebook (m × k × d/m doubles) to
  the driver — the classic tiny-model / huge-data k-means split, same
  as kmeans_lloyd_embeddings (workloads/similarity.py).
- Deterministic throughout: codewords initialize from the subvectors
  of the k lowest vec_ids and argmin ties break on the lower cid, so
  retrains and the NumPy reference (tests/test_pq.py) reproduce the
  exact codebook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: defaults: 64-d → 8 subspaces × 16 codewords = 8 × 4 bits
M_SUBSPACES = 8
K_CODEWORDS = 16


def _subvectors(vecs: DataFrame, dim: int, m: int) -> DataFrame:
    """(vec_id, v) → (vec_id, sub, subvec) with subvec of dim/m."""
    sub_d = dim // m
    return vecs.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" s -> slice(v, s * {sub_d} + 1, {sub_d}))"
            )
        ).alias("sub", "subvec"),
    )


def _assign_expr(codebook: list[list[list[float]]]) -> str:
    """SQL expr: nearest codeword id for (sub, subvec) against the
    literal codebook — argmin of squared L2, ties to the lower cid.

    The codebook is embedded as a literal nested array (m × k ×
    sub_d); array_position of the min distance implements the
    deterministic lower-cid tiebreak."""
    lit = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{x!r}D" for x in cw) + ")"
                for cw in sub_cbs
            )
            + ")"
            for sub_cbs in codebook
        )
        + ")"
    )
    dists = (
        f"transform({lit}[sub], cw -> aggregate("
        f" zip_with(subvec, cw, (x, c) -> (x - c) * (x - c)),"
        f" 0d, (a, x) -> a + x))"
    )
    return (
        f"cast(array_position({dists}, array_min({dists})) - 1 as int)"
    )


def init_codebook(
    vecs: DataFrame, dim: int, m: int = M_SUBSPACES, k: int = K_CODEWORDS
) -> list[list[list[float]]]:
    """Deterministic init: codeword c of every subspace is the
    subvector of the vector with the c-th lowest vec_id."""
    seed_rows = (
        _subvectors(
            vecs.orderBy("vec_id").limit(k), dim, m
        )
        .collect()  # bound: k seed vectors x m subspaces
    )
    ids = sorted({r["vec_id"] for r in seed_rows})
    rank = {vid: i for i, vid in enumerate(ids)}
    codebook = [[None] * k for _ in range(m)]
    for r in seed_rows:
        codebook[r["sub"]][rank[r["vec_id"]]] = list(r["subvec"])
    return codebook


def train_pq(
    vecs: DataFrame,
    dim: int,
    m: int = M_SUBSPACES,
    k: int = K_CODEWORDS,
    iters: int = 4,
) -> list[list[list[float]]]:
    """Lloyd iterations over all subspaces at once; returns the
    trained codebook [m][k][dim/m]. Empty clusters keep their
    previous codeword (standard practice; deterministic)."""
    from datanika_core_spark.blocks import persistent_rdd_ids, unpersist_rdd_ids

    spark = vecs.sparkSession
    _before = persistent_rdd_ids(spark)
    subs = _subvectors(vecs, dim, m).localCheckpoint(eager=True)
    _subs_ids = persistent_rdd_ids(spark) - _before
    codebook = init_codebook(vecs, dim, m, k)
    for _ in range(iters):
        assigned = subs.withColumn("cid", F.expr(_assign_expr(codebook)))
        # centroid update as a flat per-dimension sum — NOT a
        # collect_list-then-fold per cluster (whose per-group list is
        # O(cluster size) and dies at scale); this shape is pure
        # combiner-friendly aggregation, result is m*k*sub_d rows
        sums = (
            assigned.select(
                "sub", "cid", F.posexplode("subvec").alias("pos", "x")
            )
            .groupBy("sub", "cid", "pos")
            .agg(F.sum("x").alias("xsum"), F.count(F.lit(1)).alias("n"))
            .collect()  # bound: m x k x sub_d sums
        )
        new_cb = [
            [list(codebook[s][c]) for c in range(k)] for s in range(m)
        ]
        for r in sums:
            new_cb[r["sub"]][r["cid"]][r["pos"]] = r["xsum"] / r["n"]
        codebook = new_cb
    # codebook is driver-side state; the subvector checkpoint's
    # blocks are no longer inputs to anything
    unpersist_rdd_ids(spark, _subs_ids)
    return codebook


def encode(
    vecs: DataFrame, codebook: list[list[list[float]]], dim: int
) -> DataFrame:
    """(vec_id, v) → (vec_id, codes array<int>): each vector's m
    per-subspace nearest-codeword ids — the compressed store. Map-
    only against the broadcast literal codebook."""
    m = len(codebook)
    assigned = _subvectors(vecs, dim, m).withColumn(
        "cid", F.expr(_assign_expr(codebook))
    )
    return (
        assigned.groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(sub, cid))),"
                " s -> s.cid)"
            ).alias("codes")
        )
    )


def reconstruction_rmse(
    vecs: DataFrame, codebook: list[list[list[float]]], dim: int
) -> DataFrame:
    """Per-vector RMSE between the original and its PQ
    reconstruction (codeword concatenation) — the distortion the
    compression pays, reported the same way as
    embedding_quantize_int8's quality metrics."""
    m = len(codebook)
    sub_d = dim // m
    assigned = _subvectors(vecs, dim, m).withColumn(
        "cid", F.expr(_assign_expr(codebook))
    )
    lit = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{x!r}D" for x in cw) + ")"
                for cw in sub_cbs
            )
            + ")"
            for sub_cbs in codebook
        )
        + ")"
    )
    sq_err = (
        f"aggregate(zip_with(subvec, {lit}[sub][cid],"
        f" (x, c) -> (x - c) * (x - c)), 0d, (a, x) -> a + x)"
    )
    return (
        assigned.withColumn("se", F.expr(sq_err))
        .groupBy("vec_id")
        .agg(
            F.round(F.sqrt(F.sum("se") / dim), 6).alias("rmse")
        )
    )


class IVFPQIndexStore:
    """Warehouse-persisted IVF-PQ index: IVFIndexStore's coarse
    quantizer + cid-partitioned posting lists, with the postings
    storing PQ CODES instead of raw vectors (the 100 TB operating
    mode: the raw embedding table stays cold; the hot index is
    ~m bytes/vector).

    Composition, not reimplementation: coarse training/persistence
    delegates to IVFIndexStore (operators/ann_store.py); this class
    adds the PQ codebook artifact (``<table>__pq_codebook``: one row
    per (sub, cid) codeword), code-only posting lists, and the
    ADC-shortlist probe. Exact re-ranking needs the raw vectors, so
    ``probe(refine_with=...)`` takes the cold vector table and joins
    only the shortlist against it (R rows per query) — the IVFADC+R
    read path of workloads/similarity.py::ann_ivfpq_adc_topk in
    persisted form."""

    def __init__(
        self,
        spark,
        table: str,
        dim: int,
        n_cent: int = 8,
        m: int = M_SUBSPACES,
        k: int = K_CODEWORDS,
        iters: int = 2,
    ):
        from datanika_core_spark.operators.ann_store import IVFIndexStore

        self.spark = spark
        self.table = table
        self.dim = dim
        self.m, self.k, self.iters = m, k, iters
        self.coarse = IVFIndexStore(
            spark, f"{table}__coarse", k=n_cent, iters=iters
        )

    @property
    def codebook_table(self) -> str:
        return f"{self.table}__pq_codebook"

    # -- training ----------------------------------------------------------

    def train(self, vecs) -> None:
        """Train the coarse quantizer AND the PQ codebook, persisting
        both artifacts. One pass each over the training vectors."""
        self.coarse.train(vecs)
        cb = train_pq(vecs, self.dim, self.m, self.k, self.iters)
        rows = [
            (s, c, cb[s][c])
            for s in range(self.m)
            for c in range(self.k)
        ]
        self.spark.createDataFrame(
            rows, "sub int, cid int, codeword array<double>"
        ).write.format("parquet").mode("overwrite").saveAsTable(
            self.codebook_table
        )
        self.spark.catalog.refreshTable(self.codebook_table)

    def codebook(self) -> list[list[list[float]]]:
        if not self.spark.catalog.tableExists(self.codebook_table):
            raise ValueError(
                f"IVF-PQ index {self.table!r} has no codebook — call"
                " train() first"
            )
        # bound: m x k codewords
        rows = self.spark.table(self.codebook_table).collect()
        cb = [[None] * self.k for _ in range(self.m)]
        for r in rows:
            cb[r.sub][r.cid] = list(r.codeword)
        return cb

    # -- incremental ingest ------------------------------------------------

    def update(self, vecs) -> int:
        """PQ-encode and append ONLY new vectors, coarse-assigned and
        partitioned by cid. Raw vectors are NOT stored here."""
        from datanika_core_spark.operators.ann_store import _assign_expr
        from datanika_core_spark.operators.writers import TableWriter

        new_vecs = vecs.select("vec_id", "v")
        exists = self.spark.catalog.tableExists(self.table)
        if exists:
            seen = self.spark.table(self.table).select("vec_id")
            new_vecs = new_vecs.join(seen, "vec_id", "left_anti")
        cb = self.codebook()
        coded = (
            encode(new_vecs, cb, self.dim)
            .join(new_vecs, "vec_id")
            .select(
                "vec_id", "codes",
                _assign_expr(self.coarse.centroids()).alias("cid"),
            )
        )
        coded, obs = TableWriter._observed(coded)
        (
            coded.write.format("parquet")
            .partitionBy("cid")
            .mode("append" if exists else "overwrite")
            .saveAsTable(self.table)
        )
        return obs.get["rows"]

    # -- query -------------------------------------------------------------

    def probe(
        self,
        queries: list[tuple[int, list[float]]],
        topk: int = 3,
        nprobe: int = 1,
        shortlist: int = 20,
        refine_with=None,
    ) -> "DataFrame":
        """ADC top-``shortlist`` per query over the nprobe nearest
        posting lists; with ``refine_with`` (the raw vector table,
        columns vec_id/v) the shortlist is exactly re-ranked and
        trimmed to ``topk`` by true cosine. Partition-pruned on cid,
        codes-only scan, R-row exact fetch."""
        from pyspark.sql import Window

        cents = self.coarse.centroids()
        cb = self.codebook()
        sub_d = self.dim // self.m

        def _sqd(a, b):
            return sum((x - y) * (x - y) for x, y in zip(a, b))

        rows = []
        for qid, qv in queries:
            ranked = sorted(
                cents, key=lambda cid: (_sqd(qv, cents[cid]), cid)
            )
            qsubs = [
                qv[s * sub_d : (s + 1) * sub_d] for s in range(self.m)
            ]
            for cid in ranked[:nprobe]:
                rows.append((qid, qv, qsubs, cid))
        qdf = self.spark.createDataFrame(
            rows,
            "query_id bigint, qv array<double>,"
            " qsubs array<array<double>>, cid bigint",
        )
        probe_cids = sorted({r[3] for r in rows})
        lists = self.spark.table(self.table).filter(
            F.col("cid").isin(probe_cids)
        )
        cb_lit = (
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
        adc = (
            f"aggregate(transform(sequence(0, {self.m - 1}),"
            f" s -> aggregate(zip_with(qsubs[s], {cb_lit}[s][codes[s]],"
            f" (x, c) -> (x - c) * (x - c)), 0d, (a, x) -> a + x)),"
            f" 0d, (a, x) -> a + x)"
        )
        # bound: |queries| x nprobe rows, driver-built
        hits = lists.join(F.broadcast(qdf), "cid").select(
            "query_id", "qv", "vec_id", F.expr(adc).alias("adc_dist")
        )
        w_adc = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), "vec_id"
        )
        short = hits.withColumn(
            "srank", F.row_number().over(w_adc)
        ).filter(F.col("srank") <= shortlist)
        if refine_with is None:
            return (
                short.filter(F.col("srank") <= topk)
                .select(
                    "query_id", "vec_id",
                    F.col("srank").cast("bigint").alias("rank"),
                    F.round("adc_dist", 6).alias("adc_dist"),
                )
                .orderBy("query_id", "rank")
            )
        cos = (
            "aggregate(zip_with(qv, nv, (x, y) -> x * y), 0d,"
            " (a, x) -> a + x)"
            " / (sqrt(aggregate(transform(qv, x -> x * x), 0d,"
            " (a, x) -> a + x))"
            " * sqrt(aggregate(transform(nv, x -> x * x), 0d,"
            " (a, x) -> a + x)))"
        )
        refined = short.join(
            refine_with.select(
                F.col("vec_id"), F.col("v").alias("nv")
            ),
            "vec_id",
        ).withColumn("sim", F.expr(cos))
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), "vec_id"
        )
        return (
            refined.withColumn(
                "rank", F.row_number().over(w).cast("bigint")
            )
            .filter(F.col("rank") <= topk)
            .select(
                "query_id", "vec_id", "rank",
                F.round("sim", 6).alias("sim"),
            )
            .orderBy("query_id", "rank")
        )
