"""CMSSketchStore + streaming twin: split ingest must equal the
one-shot sketch exactly (counter addition is associative across any
batch split), point estimates must match the oracle-checked batch
workload's, and the streamed store must equal the batch sketch over
the concatenated corpus — exact (d, bucket, cnt) equality."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from datanika_core_spark.blocks import persistent_rdd_ids, release_blocks
from datanika_core_spark.operators.cms_store import (
    CMSSketchStore,
    batch_sketch,
)
from datanika_core_spark.session import read_table
from datanika_core_spark.streaming.freq import stream_cms_ingest

SF = "/root/testdata/sf0.001"


def _toks(df):
    return df.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )


def _counters(spark, table):
    # d = -1 is the replay watermark sentinel, not a counter
    return {
        (r["d"], r["bucket"]): r["cnt"]
        for r in spark.table(table).filter("d >= 0").collect()
    }


def _store(spark, name):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return CMSSketchStore(spark, name)


def test_split_update_equals_whole(spark):
    docs = read_table(spark, f"{SF}/documents.parquet")
    whole = _store(spark, "t_cms_whole")
    whole.update(_toks(docs))
    split = _store(spark, "t_cms_split")
    split.update(_toks(docs.filter(F.col("doc_id") % 2 == 0)))
    split.update(_toks(docs.filter(F.col("doc_id") % 2 == 1)))
    assert _counters(spark, "t_cms_whole") == _counters(spark, "t_cms_split")


def test_estimates_match_batch_workload(spark):
    """Store probe == the oracle-checked workload's cms_est for the
    exact top-k tokens (same hash, same sizing, same min-over-d)."""
    from datanika_core_spark.workloads.sketches import cms_heavy_hitters_eval

    docs = read_table(spark, f"{SF}/documents.parquet")
    st = _store(spark, "t_cms_est")
    st.update(_toks(docs))
    want = {
        r["tok"]: r["cms_est"]
        for r in cms_heavy_hitters_eval(spark, SF).collect()
    }
    probe = spark.createDataFrame(
        [(tok,) for tok in want], "tok string"
    )
    got = {r["tok"]: r["cms_est"] for r in st.estimate(probe).collect()}
    assert got == want


def test_stream_ingest_matches_batch_sketch(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_cms_stream")
    release_blocks(spark)
    docs = read_table(spark, f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    src = tmp_path / "cms_src"
    src.mkdir()
    for i, b in enumerate((b1, b2)):
        staged = tmp_path / f"s{i}"
        b.coalesce(1).write.parquet(str(staged))
        shutil.copy(next(staged.glob("part-*.parquet")), src / f"f{i}.parquet")

    st = CMSSketchStore(spark, "t_cms_stream")
    stats = stream_cms_ingest(
        spark, str(src), st, checkpoint_dir=str(tmp_path / "ck")
    )
    assert stats.batches == 2
    assert stats.arrived == docs.count()

    want = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in batch_sketch(_toks(docs)).collect()
    }
    assert _counters(spark, "t_cms_stream") == want
    # unknown token probes a zero counter or a collision bucket —
    # never errors, never returns null
    probe = spark.createDataFrame([("zzz-not-a-token",)], "tok string")
    [row] = st.estimate(probe).collect()
    assert row["cms_est"] >= 0
    # block hygiene: each micro-batch frees its own checkpoints
    assert persistent_rdd_ids(spark) == set()


def test_replayed_batch_id_is_skipped(spark):
    """Counter addition is not idempotent — the batch_id watermark
    makes it replay-safe: redelivering a micro-batch (the crash
    window between the store overwrite and the streaming-checkpoint
    commit) must not double-count."""
    docs = read_table(spark, f"{SF}/documents.parquet")
    b1 = _toks(docs.filter(F.col("doc_id") % 2 == 0))
    b2 = _toks(docs.filter(F.col("doc_id") % 2 == 1))
    st = _store(spark, "t_cms_replay")
    st.update(b1, batch_id=0)
    after_b1 = _counters(spark, "t_cms_replay")
    st.update(b1, batch_id=0)  # redelivery — must be a no-op
    assert _counters(spark, "t_cms_replay") == after_b1
    assert st.state.last_batch_id() == 0
    st.update(b2, batch_id=1)
    st.update(b2, batch_id=1)  # and again at the next batch
    assert st.state.last_batch_id() == 1
    whole = _store(spark, "t_cms_replay_whole")
    whole.update(_toks(docs))
    assert (
        _counters(spark, "t_cms_replay")
        == _counters(spark, "t_cms_replay_whole")
    )
    # estimates are unaffected by the sentinel row
    probe = spark.createDataFrame([("the",)], "tok string")
    [row] = st.estimate(probe).collect()
    assert row["cms_est"] >= 0
