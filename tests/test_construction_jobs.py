"""Building a headline query runs no Spark job once its tables'
footer schemas are cached (session.read_table): the returned frame
is a plan, and every job it needs runs when the caller executes it.
The entries below are the exceptions, each with its warm job count at
sf0.001 and the reason its construction is eager."""

from __future__ import annotations

from datanika_core_spark.blocks import release_blocks
from datanika_core_spark.workloads import load_all

from conftest import SF_SMOKE

#: headline entry -> (warm construction jobs at sf0.001, why)
EAGER_CONSTRUCTION = {
    "hybrid_search_rrf": (1, "query vector 0 fetched with first()"),
    "knn_cosine_topk_vectorized": (
        1, "query vectors collected for the Arrow scorer"),
    "semdedup_embedding_prune": (1, "centroid seed collect"),
    "kmeans_lloyd_embeddings": (
        5, "centroid seed collect + 2 driver-side Lloyd rounds"),
    "pagerank_event_transitions": (
        5, "bounded node-list and edge-grid collects"),
    "model_scd2_snapshot_orders": (
        10, "write workload: two snapshot runs"),
    "graph_triangle_doulion": (
        11, "eager localCheckpoints of the sampled edges and wedges"),
}


def test_headline_construction_runs_no_jobs_when_warm(spark):
    sc = spark.sparkContext
    reg = load_all()
    heads = sorted(n for n, w in reg.items() if w.headline)
    for name in heads:  # cold build: fills the schema cache
        reg[name].fn(spark, SF_SMOKE)
        release_blocks(spark)
    counts = {}
    for name in heads:
        group = f"construct:{name}"
        sc.setJobGroup(group, "construction-jobs probe")
        try:
            reg[name].fn(spark, SF_SMOKE)
            ids = sc.statusTracker().getJobIdsForGroup(group)
            counts[name] = len(list(ids))
        finally:
            sc.setJobGroup(None, None)
            release_blocks(spark)
    assert {n: c for n, c in counts.items() if c} == {
        n: c for n, (c, _) in EAGER_CONSTRUCTION.items()
    }
