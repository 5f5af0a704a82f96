"""Product quantization vs a NumPy reference: same deterministic
init (k lowest vec_ids), same Lloyd updates, same lower-cid argmin
tiebreak — codebooks must agree to float tolerance and encodings
must agree exactly."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from datanika_core_spark.operators.pq import (
    encode,
    init_codebook,
    reconstruction_rmse,
    train_pq,
)
from datanika_core_spark.session import read_table

SF = "/root/testdata/sf0.001"
DIM = 64
M, K, ITERS = 8, 16, 3


@pytest.fixture(scope="module")
def vecs(spark):
    return (
        read_table(spark, f"{SF}/embeddings.parquet")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        .cache()
    )


@pytest.fixture(scope="module")
def np_data(vecs):
    rows = sorted(
        ((r.vec_id, np.array(r.v)) for r in vecs.collect()),
        key=lambda t: t[0],
    )
    ids = np.array([t[0] for t in rows])
    X = np.stack([t[1] for t in rows])
    return ids, X


def _np_pq(X, m, k, iters):
    sub_d = X.shape[1] // m
    codebook = np.stack(
        [X[:k, s * sub_d : (s + 1) * sub_d] for s in range(m)]
    ).astype(float)  # [m][k][sub_d]
    for _ in range(iters):
        new_cb = codebook.copy()
        for s in range(m):
            sub = X[:, s * sub_d : (s + 1) * sub_d]
            d2 = ((sub[:, None, :] - codebook[s][None, :, :]) ** 2).sum(
                axis=2
            )
            cid = d2.argmin(axis=1)  # argmin takes the lowest index
            for c in range(k):
                members = sub[cid == c]
                if len(members):
                    new_cb[s][c] = members.mean(axis=0)
        codebook = new_cb
    return codebook


def _np_encode(X, codebook):
    m, k, sub_d = codebook.shape
    codes = np.empty((X.shape[0], m), dtype=int)
    for s in range(m):
        sub = X[:, s * sub_d : (s + 1) * sub_d]
        d2 = ((sub[:, None, :] - codebook[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    return codes


def test_init_codebook_is_lowest_vec_ids(vecs, np_data):
    ids, X = np_data
    cb = np.array(init_codebook(vecs, DIM, M, K))
    sub_d = DIM // M
    want = np.stack(
        [X[:K, s * sub_d : (s + 1) * sub_d] for s in range(M)]
    )
    assert np.allclose(cb, want, atol=1e-12)


def test_trained_codebook_matches_numpy(vecs, np_data):
    ids, X = np_data
    got = np.array(train_pq(vecs, DIM, M, K, iters=ITERS))
    want = _np_pq(X, M, K, ITERS)
    # means accumulate in different orders -> float-tolerance compare
    assert np.allclose(got, want, atol=1e-9)


def test_encodings_match_numpy_and_compress(vecs, np_data):
    ids, X = np_data
    cb = train_pq(vecs, DIM, M, K, iters=ITERS)
    got_rows = {
        r.vec_id: list(r.codes) for r in encode(vecs, cb, DIM).collect()
    }
    want = _np_encode(X, np.array(cb))
    for i, vid in enumerate(ids):
        assert got_rows[vid] == list(want[i])
    # every code fits in 4 bits -> 8 x 4 = 32 bits per vector vs
    # 64 x 32-bit floats = 64x compression at this setting
    assert all(0 <= c < K for codes in got_rows.values() for c in codes)


def test_reconstruction_rmse_reasonable(vecs):
    cb = train_pq(vecs, DIM, M, K, iters=ITERS)
    rows = reconstruction_rmse(vecs, cb, DIM).collect()
    assert len(rows) == vecs.count()
    rmses = [r.rmse for r in rows]
    # embeddings have entries ~N(0, 0.1..0.3); PQ at 16 codewords per
    # 8-dim subspace must reconstruct well below the raw signal scale
    assert 0 < sum(rmses) / len(rmses) < 0.2


def test_ivfpq_adc_recall(spark):
    """IVFADC+R read path: shortlist-by-ADC + exact re-rank must
    recover most of the uncompressed in-cluster exact top-3 (the
    strict no-rerank ADC ranking manages only ~0.23 on this
    near-uniform corpus — the re-rank stage is load-bearing)."""
    from datanika_core_spark.workloads import load_all

    wls = load_all()
    sf = "/root/testdata/sf0.01"
    adc = {
        (r.query_id, r.neighbor_id)
        for r in wls["ann_ivfpq_adc_topk"].fn(spark, sf).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in wls["ann_ivf_cosine"].fn(spark, sf).collect()
    }
    recall = len(adc & exact) / len(exact)
    assert recall >= 0.7, f"recall@3 {recall:.2f}"


# -- persisted IVF-PQ store ---------------------------------------------


def test_ivfpq_store_roundtrip_and_incremental(spark, vecs):
    from datanika_core_spark.operators.pq import IVFPQIndexStore
    from datanika_core_spark.operators.writers import drop_table
    from pyspark.sql import functions as F

    table = "t_ivfpq_idx"
    for t_ in (table, f"{table}__pq_codebook", f"{table}__coarse",
               f"{table}__coarse__centroids"):
        drop_table(spark, t_)
    try:
        store = IVFPQIndexStore(spark, table, dim=DIM, iters=2)
        first = vecs.filter(F.col("vec_id") < 150)
        rest = vecs
        store.train(first)
        n1 = store.update(first)
        assert n1 == 150
        # idempotent + incremental: only unseen ids are encoded
        n2 = store.update(rest)
        assert n2 == vecs.count() - 150
        assert store.update(rest) == 0

        # posting lists hold codes, not vectors
        cols = set(spark.table(table).columns)
        assert cols == {"vec_id", "codes", "cid"}

        queries = [
            (int(r.vec_id), list(r.v))
            for r in vecs.filter(F.col("vec_id") >= 195).collect()
        ]
        # ADC-only probe
        adc = store.probe(queries, topk=3, shortlist=10).collect()
        assert {r.query_id for r in adc} == {q for q, _ in queries}
        # refined probe must beat/equal ADC on true cosine ordering
        refined = store.probe(
            queries, topk=3, shortlist=10, refine_with=vecs
        ).collect()
        assert {r.query_id for r in refined} == {q for q, _ in queries}
        for r in refined:
            assert -1.0 <= r.sim <= 1.0
        # self-match excluded? not excluded by design: the query ids
        # exist in the index, so rank-1 should be the vector itself
        # with sim ~1.0 — a sanity signal the pipeline is coherent
        rank1 = {r.query_id: r for r in refined if r.rank == 1}
        assert all(
            r.vec_id == qid and r.sim > 0.99
            for qid, r in rank1.items()
        )
    finally:
        for t_ in (table, f"{table}__pq_codebook", f"{table}__coarse",
                   f"{table}__coarse__centroids"):
            drop_table(spark, t_)


def test_ivfpq_probe_partition_pruned(spark, vecs):
    """The probe's cid IN-list must reach the posting-list scan as a
    partition filter — unprobed lists are never read (the same
    plan assertion IVFIndexStore carries)."""
    from pyspark.sql import functions as F

    from datanika_core_spark.operators.pq import IVFPQIndexStore
    from datanika_core_spark.operators.writers import drop_table
    from tools.plan_audit import plan_text

    table = "t_ivfpq_prune"
    names = [table, f"{table}__pq_codebook", f"{table}__coarse",
             f"{table}__coarse__centroids"]
    for t_ in names:
        drop_table(spark, t_)
    try:
        store = IVFPQIndexStore(spark, table, dim=DIM, iters=1)
        store.train(vecs)
        store.update(vecs)
        q = [
            (int(r.vec_id), list(r.v))
            for r in vecs.filter(F.col("vec_id") >= 198).collect()
        ]
        df = store.probe(q, topk=3, nprobe=1, shortlist=5)
        text = plan_text(df)
        assert "PartitionFilters" in text
        # the partition filter must mention cid (the partition col)
        import re

        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
        assert pf and "cid" in pf.group(1)
    finally:
        for t_ in names:
            drop_table(spark, t_)
