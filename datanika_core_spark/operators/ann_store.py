"""Persisted IVF (inverted-file) embedding index — the 100 TB
operating mode of the ANN workloads, mirroring MinHashSignatureStore:
you don't re-cluster billions of vectors per query batch; the coarse
quantizer and the posting lists ARE the index, persisted in the
warehouse and updated incrementally.

Layout:
- ``<table>__centroids``: (cid bigint, cvec array<double>) — k rows,
  the coarse quantizer. Tiny; read to the driver and broadcast into
  assignment/probe plans as literal arrays (the MLlib centroid
  pattern, workloads/similarity.py::kmeans_lloyd_embeddings).
- ``<table>``: (vec_id bigint, v array<double>, cid bigint),
  **partitioned by cid** — the posting lists. A probe with
  ``cid IN (<nprobe ids>)`` is a partition-pruned scan: only the
  probed lists are read, the rest of the corpus is never touched.

Scale properties:
- ``train()`` is Lloyd's over a sample; per-iteration driver state is
  k×dim scalars, the data is only scanned.
- ``update()`` assigns ONLY vectors absent from the store (left-anti
  on vec_id) — cost proportional to the new batch, map-only against
  the broadcast centroids, then an append partitioned on cid.
- ``probe()`` reads nprobe partitions, scores with the shared
  fold expressions, and takes per-query top-k via TakeOrdered-style
  window ranking. No shuffle touches the unprobed corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.workloads.similarity import _s_cos, _S_SQD


def _lit_vec(vec: list[float]) -> str:
    return f"array({', '.join(repr(float(x)) + 'd' for x in vec)})"


def _assign_expr(cents: dict[int, list[float]]) -> F.Column:
    """argmin squared distance against literal centroids; ties break
    on centroid id."""
    dist_cols = F.array(*[
        F.struct(
            F.expr(_S_SQD.format(a="v", b=_lit_vec(cvec))).alias("dist"),
            F.lit(cid).cast("bigint").alias("cid"),
        )
        for cid, cvec in sorted(cents.items())
    ])
    return F.array_min(dist_cols)["cid"]


@dataclass
class IVFIndexStore:
    """Warehouse-persisted IVF index over (vec_id, v) vectors."""

    spark: SparkSession
    table: str
    k: int = 8
    iters: int = 2

    @property
    def centroids_table(self) -> str:
        return f"{self.table}__centroids"

    # -- training ----------------------------------------------------------

    def train(self, vecs: DataFrame) -> dict[int, list[float]]:
        """Lloyd's k-means (seeded with the k smallest vec_ids for
        determinism), persisting the coarse quantizer. Vectors never
        shuffle; per-iteration state is k×dim driver scalars."""
        seeds = (
            vecs.orderBy("vec_id").limit(self.k)
            .select(F.row_number().over(Window.orderBy("vec_id")) - 1, "v")
            .collect()  # bound: k seed vectors
        )
        cents = {int(r[0]): list(r[1]) for r in seeds}
        for _ in range(self.iters):
            assigned = vecs.select(
                "v", _assign_expr(cents).alias("cid")
            )
            rows = (
                assigned.select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(F.round(F.avg("x"), 6).alias("m"))
                .collect()  # bound: k x dim centroid coordinates
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cid.setdefault(r.cid, {})[r.pos] = r.m
            cents = {
                cid: [d[i] for i in range(len(d))]
                for cid, d in by_cid.items()
            }
        cdf = self.spark.createDataFrame(
            [(cid, cvec) for cid, cvec in sorted(cents.items())],
            "cid bigint, cvec array<double>",
        )
        cdf.write.format("parquet").mode("overwrite").saveAsTable(
            self.centroids_table
        )
        # retrain in a live session: drop the cached file listing so
        # centroids() never reads the replaced files
        self.spark.catalog.refreshTable(self.centroids_table)
        return cents

    def centroids(self) -> dict[int, list[float]]:
        if not self.spark.catalog.tableExists(self.centroids_table):
            raise ValueError(
                f"IVF index {self.table!r} has no trained quantizer "
                f"({self.centroids_table} missing) — call train() first"
            )
        return {
            int(r.cid): list(r.cvec)
            # bound: k centroid rows
            for r in self.spark.table(self.centroids_table).collect()
        }

    # -- incremental ingest ------------------------------------------------

    def update(self, vecs: DataFrame) -> int:
        """Assign and append ONLY vectors not yet indexed. Returns
        the number of newly indexed vectors (observed during the
        write — no extra scan)."""
        from datanika_core_spark.operators.writers import TableWriter

        new_vecs = vecs.select("vec_id", "v")
        exists = self.spark.catalog.tableExists(self.table)
        if exists:
            seen = self.spark.table(self.table).select("vec_id")
            new_vecs = new_vecs.join(seen, "vec_id", "left_anti")
        assigned = new_vecs.select(
            "vec_id", "v", _assign_expr(self.centroids()).alias("cid")
        )
        assigned, obs = TableWriter._observed(assigned)
        (
            assigned.write.format("parquet")
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
    ) -> DataFrame:
        """Top-k cosine neighbors per query among the nprobe nearest
        posting lists. The ``cid IN (...)`` predicate partition-
        prunes the index scan — unprobed lists are never read."""
        cents = self.centroids()

        def _sqd(a: list[float], b: list[float]) -> float:
            return sum((x - y) * (x - y) for x, y in zip(a, b))

        rows = []
        for qid, qv in queries:
            ranked = sorted(
                cents, key=lambda cid: (_sqd(qv, cents[cid]), cid)
            )
            for cid in ranked[:nprobe]:
                rows.append((qid, qv, cid))
        qdf = self.spark.createDataFrame(
            rows, "query_id bigint, qv array<double>, cid bigint"
        )
        # static IN-list on the partition column → partition-pruned
        # scan (no reliance on runtime DPP)
        probe_cids = sorted({cid for _, _, cid in rows})
        lists = self.spark.table(self.table).filter(
            F.col("cid").isin(probe_cids)
        )
        # bound: |queries| x nprobe rows, driver-built
        probed = lists.join(F.broadcast(qdf), "cid")
        sim = F.expr(_s_cos("qv", "v"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), "vec_id"
        )
        return (
            probed.select(
                "query_id", "vec_id", sim.alias("sim")
            )
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= topk)
            .select("query_id", "vec_id", "rank", F.round("sim", 6).alias("sim"))
            .orderBy("query_id", "rank")
        )
