"""FingerprintStore + streaming twin: split ingest must equal the
one-shot fold exactly (xor/count are abelian across any batch
split), the streamed store must equal the oracle-checked batch
workload (table_fingerprint_xor) row-for-row, and a redelivered
batch id must be skipped — xor is self-inverting, so an unguarded
replay CANCELS rows instead of double-counting them."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from datanika_core_spark.blocks import persistent_rdd_ids, release_blocks
from datanika_core_spark.operators.fingerprint_store import (
    FingerprintStore,
    batch_fingerprint,
)
from datanika_core_spark.session import read_table
from datanika_core_spark.streaming.fingerprint import (
    stream_fingerprint_ingest,
)
from datanika_core_spark.workloads.cdc import _S_FP

SF = "/root/testdata/sf0.001"


def _rows(df):
    return df.select(
        F.col("o_orderstatus").cast("string").alias("grp"),
        F.expr(_S_FP).alias("h"),
    )


def _fps(spark, table):
    return {
        r["grp"]: (r["n_rows"], r["fp"])
        for r in spark.table(table).filter("grp <> '__wm__'").collect()
    }


def _store(spark, name):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return FingerprintStore(spark, name)


def test_split_update_equals_whole(spark):
    orders = read_table(spark, f"{SF}/orders.parquet")
    whole = _store(spark, "t_fp_whole")
    whole.update(_rows(orders))
    split = _store(spark, "t_fp_split")
    split.update(_rows(orders.filter(F.col("o_orderkey") % 2 == 0)))
    split.update(_rows(orders.filter(F.col("o_orderkey") % 2 == 1)))
    assert _fps(spark, "t_fp_whole") == _fps(spark, "t_fp_split")


def test_matches_batch_workload(spark):
    """Store rows == the oracle-checked workload's per-status
    (n_rows, fingerprint) — same hash text, same fold."""
    from datanika_core_spark.workloads.cdc import table_fingerprint_xor

    orders = read_table(spark, f"{SF}/orders.parquet")
    st = _store(spark, "t_fp_batch")
    st.update(_rows(orders))
    want = {
        r["o_orderstatus"]: (r["n_rows"], r["fingerprint"])
        for r in table_fingerprint_xor(spark, SF).collect()
    }
    assert _fps(spark, "t_fp_batch") == want


def test_stream_ingest_matches_batch(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_fp_stream")
    release_blocks(spark)
    orders = read_table(spark, f"{SF}/orders.parquet")
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    b2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    src = tmp_path / "fp_src"
    src.mkdir()
    for i, b in enumerate((b1, b2)):
        staged = tmp_path / f"s{i}"
        b.coalesce(1).write.parquet(str(staged))
        shutil.copy(next(staged.glob("part-*.parquet")), src / f"f{i}.parquet")

    st = FingerprintStore(spark, "t_fp_stream")
    stats = stream_fingerprint_ingest(
        spark, str(src), st, checkpoint_dir=str(tmp_path / "ck")
    )
    assert stats.batches == 2
    assert stats.arrived == orders.count()
    want = {
        r["grp"]: (r["n_rows"], r["fp"])
        for r in batch_fingerprint(_rows(orders)).collect()
    }
    assert _fps(spark, "t_fp_stream") == want
    # block hygiene: each micro-batch frees its own blocks
    assert persistent_rdd_ids(spark) == set()


def test_replayed_batch_id_is_skipped(spark):
    """xor self-cancels — an unguarded replay REMOVES the batch's
    rows from the fingerprint; the watermark must prevent it."""
    orders = read_table(spark, f"{SF}/orders.parquet")
    b1 = _rows(orders.filter(F.col("o_orderkey") % 2 == 0))
    b2 = _rows(orders.filter(F.col("o_orderkey") % 2 == 1))
    st = _store(spark, "t_fp_replay")
    st.update(b1, batch_id=0)
    after_b1 = _fps(spark, "t_fp_replay")
    st.update(b1, batch_id=0)  # redelivery — must be a no-op
    assert _fps(spark, "t_fp_replay") == after_b1
    assert st.state.last_batch_id() == 0
    st.update(b2, batch_id=1)
    assert st.state.last_batch_id() == 1
    whole = _store(spark, "t_fp_replay_whole")
    whole.update(_rows(orders))
    assert _fps(spark, "t_fp_replay") == _fps(spark, "t_fp_replay_whole")


def test_incremental_retraction(spark):
    """The group property: xor-ing a row's hash AGAIN retracts it —
    apply a delete delta without rebuilding the fingerprint."""
    orders = read_table(spark, f"{SF}/orders.parquet")
    st = _store(spark, "t_fp_retract")
    st.update(_rows(orders))
    victim = orders.orderBy("o_orderkey").limit(7)
    # fold the victims' hashes back in with n_rows = -1 each
    retract = _rows(victim).withColumn("n", F.lit(-1))
    merged = (
        st.fingerprints()
        .unionByName(
            retract.groupBy("grp").agg(
                F.sum("n").cast("bigint").alias("n_rows"),
                F.expr("bit_xor(h)").cast("bigint").alias("fp"),
            )
        )
        .groupBy("grp")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.expr("bit_xor(fp)").cast("bigint").alias("fp"),
        )
    )
    got = {r["grp"]: (r["n_rows"], r["fp"]) for r in merged.collect()}
    want_src = orders.join(
        victim.select("o_orderkey"), "o_orderkey", "left_anti"
    )
    want = {
        r["grp"]: (r["n_rows"], r["fp"])
        for r in batch_fingerprint(_rows(want_src)).collect()
    }
    # groups that lost all rows keep a (0, 0) tombstone in `got`
    got = {g: v for g, v in got.items() if v[0] > 0}
    assert got == want
    assert "__wm__" not in got
