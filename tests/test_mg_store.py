"""MGSketchStore + streaming twin: the Misra-Gries guarantee
(mg_est never overestimates; undercount bounded by the accumulated
truncation mass; every token with true frequency > the bound is
present) must hold across ANY batch split, and a redelivered
batch_id must be a no-op. Exact split-equality is deliberately NOT
asserted — an MG summary is order-dependent; the GUARANTEE is the
invariant, and the batch workload (heavy_hitters_misra_gries)
separately proves it against exact counts under the deterministic
partitioning the oracle replays."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from datanika_core_spark.blocks import persistent_rdd_ids, release_blocks
from datanika_core_spark.operators.mg_store import MGSketchStore
from datanika_core_spark.session import read_table
from datanika_core_spark.streaming.freq import stream_mg_ingest

SF = "/root/testdata/sf0.001"


def _toks(df):
    return df.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")


def _exact(spark):
    docs = read_table(spark, f"{SF}/documents.parquet")
    return {
        r["tok"]: r["c"]
        for r in _toks(docs).groupBy("tok").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()
    }


def _store(spark, name, k=16):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return MGSketchStore(spark, name, k=k)


def test_mg_guarantee_across_splits(spark):
    docs = read_table(spark, f"{SF}/documents.parquet")
    exact = _exact(spark)
    st = _store(spark, "t_mg_split")
    st.update(_toks(docs.filter(F.col("doc_id") % 3 == 0)), batch_id=0)
    st.update(_toks(docs.filter(F.col("doc_id") % 3 == 1)), batch_id=1)
    st.update(_toks(docs.filter(F.col("doc_id") % 3 == 2)), batch_id=2)
    hh = st.heavy_hitters().collect()
    assert 0 < len(hh) <= 16
    bound = hh[0]["max_undercount"]
    for r in hh:
        true = exact[r["tok"]]
        assert r["mg_est"] <= true <= r["mg_est"] + bound, r
    # the top-k guarantee: any token with true count > bound surfaces
    listed = {r["tok"] for r in hh}
    for tok, c in exact.items():
        if c > bound:
            assert tok in listed, (tok, c, bound)


def test_mg_replay_is_skipped(spark):
    docs = read_table(spark, f"{SF}/documents.parquet")
    st = _store(spark, "t_mg_replay")
    st.update(_toks(docs), batch_id=0)
    snap = sorted(tuple(r) for r in st.heavy_hitters().collect())
    st.update(_toks(docs), batch_id=0)  # redelivery — no-op
    assert sorted(tuple(r) for r in st.heavy_hitters().collect()) == snap
    assert st.state.last_batch_id() == 0


def test_stream_mg_ingest(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_mg_stream")
    release_blocks(spark)
    docs = read_table(spark, f"{SF}/documents.parquet")
    exact = _exact(spark)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    src = tmp_path / "mg_src"
    src.mkdir()
    for i, b in enumerate((b1, b2)):
        staged = tmp_path / f"s{i}"
        b.coalesce(1).write.parquet(str(staged))
        shutil.copy(next(staged.glob("part-*.parquet")), src / f"f{i}.parquet")
    st = MGSketchStore(spark, "t_mg_stream", k=16)
    stats = stream_mg_ingest(
        spark, str(src), st, checkpoint_dir=str(tmp_path / "ck")
    )
    assert stats.batches == 2
    assert stats.arrived == docs.count()
    hh = st.heavy_hitters().collect()
    bound = hh[0]["max_undercount"]
    for r in hh:
        assert r["mg_est"] <= exact[r["tok"]] <= r["mg_est"] + bound
    assert persistent_rdd_ids(spark) == set()
