"""Streaming DQ monitor parity: counters after streaming two files
(the second re-delivering keys and injecting violations) must equal
the batch constraint logic applied to the concatenated frame —
exact BIGINT equality, including the cross-batch pk duplicates an
additive counter alone could not see."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from datanika_core_spark.blocks import persistent_rdd_ids, release_blocks
from datanika_core_spark.session import read_table
from datanika_core_spark.streaming.dq import (
    StreamDQMonitor,
    _batch_counters,
    stream_dq_monitor,
)

SF = "/root/testdata/sf0.001"


def _write_one(df, staged, dst):
    df.coalesce(1).write.parquet(str(staged))
    part = next(staged.glob("part-*.parquet"))
    shutil.copy(part, dst)


def test_stream_dq_matches_batch_logic(spark, tmp_path):
    for t in ("dq_mon_counters", "dq_mon_keys"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    release_blocks(spark)

    orders = read_table(spark, f"{SF}/orders.parquet")
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    # batch 2: the odd keys, PLUS 7 re-deliveries of batch-1 keys
    # (cross-batch pk dups), PLUS 3 injected violations (null
    # custkey / bad status / non-positive price) on fresh keys
    redeliver = b1.orderBy("o_orderkey").limit(7)
    bad = spark.createDataFrame(
        [
            (900000001, None, "O", 10.0),
            (900000002, 1, "X", 10.0),
            (900000003, 1, "O", -5.0),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double",
    ).withColumn("o_orderdate", F.lit(None).cast("timestamp_ntz")
                 ).withColumn("o_orderpriority", F.lit("1-URGENT"))
    b2 = (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .unionByName(redeliver)
        .unionByName(bad.select(*orders.columns))
    )

    src = tmp_path / "dq_src"
    src.mkdir()
    _write_one(b1, tmp_path / "s1", src / "f1.parquet")
    _write_one(b2, tmp_path / "s2", src / "f2.parquet")

    mon = StreamDQMonitor(spark, "dq_mon_counters", "dq_mon_keys")
    stats = stream_dq_monitor(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ck")
    )
    assert stats.batches == 2
    got = {r["check_name"]: r["observed"] for r in mon.report().collect()}

    # reference: the same constraint logic over the concatenated feed
    whole = b1.unionByName(b2)
    ref = {
        r["check_name"]: r["observed"]
        for r in _batch_counters(whole).collect()
    }
    ref["row_count"] = whole.count()
    ref["pk_unique"] = (
        whole.count()
        - whole.select("o_orderkey").distinct().count()
    )
    assert got == ref  # exact equality on every counter
    assert got["pk_unique"] == 7
    assert got["not_null_custkey"] == 1
    assert got["accepted_status"] == 1
    assert got["positive_price"] == 1

    flags = {r["check_name"]: r["passed"] for r in mon.report().collect()}
    assert flags["row_count"] is True
    assert flags["pk_unique"] is False
    # block hygiene: batch-local blocks freed at sink exit
    assert persistent_rdd_ids(spark) == set()


def test_dq_absorb_replay_is_exactly_once(spark):
    """A redelivered micro-batch (same batch_id) must leave both the
    counters and the key store untouched — the crash window between
    the keys append and the counters overwrite is covered by the
    per-row batch stamp + the one-row watermark."""
    for t in ("dq_rp_counters", "dq_rp_keys"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    orders = read_table(spark, f"{SF}/orders.parquet")
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    b2 = orders.filter(F.col("o_orderkey") % 2 == 1)

    mon = StreamDQMonitor(spark, "dq_rp_counters", "dq_rp_keys")
    mon.absorb(b1, batch_id=0)
    snap = {r["check_name"]: r["observed"] for r in mon.report().collect()}
    nkeys = spark.table("dq_rp_keys").count()
    mon.absorb(b1, batch_id=0)  # redelivery — full no-op
    assert {
        r["check_name"]: r["observed"] for r in mon.report().collect()
    } == snap
    assert spark.table("dq_rp_keys").count() == nkeys
    assert mon.state.last_batch_id() == 0

    # partial-crash window: keys of batch 1 landed but the counters
    # overwrite did not (watermark still 0) — the replay must count
    # pk dups as if the partial append never happened
    kd1 = b2.select(F.col("o_orderkey").alias("k")).distinct().withColumn(
        "b", F.lit(1).cast("bigint")
    )
    kd1.write.format("parquet").mode("append").saveAsTable("dq_rp_keys")
    spark.catalog.refreshTable("dq_rp_keys")
    mon.absorb(b2, batch_id=1)  # the "replay" after the crash
    got = {r["check_name"]: r["observed"] for r in mon.report().collect()}
    whole = b1.unionByName(b2)
    assert got["pk_unique"] == (
        whole.count() - whole.select("o_orderkey").distinct().count()
    )
    assert got["row_count"] == whole.count()
    assert mon.state.last_batch_id() == 1
    # report() never leaks the sentinel
    assert "_batch_watermark" not in got
