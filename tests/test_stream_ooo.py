"""StreamOOOMonitor: the lateness histogram folded over
arrival-ordered micro-batches must EQUAL the batch workload's
(events_out_of_order_depth) histogram over the whole stream — the
high-water mark carries across the batch boundary, so this is the
first twin whose parity depends on cross-batch ORDER state."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from datanika_core_spark.blocks import persistent_rdd_ids, release_blocks
from datanika_core_spark.session import read_table
from datanika_core_spark.streaming.ooo import (
    StreamOOOMonitor,
    stream_ooo_monitor,
)
from datanika_core_spark.workloads.events import (
    _S_OOO_DELAY,
    events_out_of_order_depth,
)

SF = "/root/testdata/sf0.001"


def _batch_hist(spark):
    return {
        r["bucket_min"]: r["n_events"]
        for r in events_out_of_order_depth(spark, SF).collect()
    }


def _with_arrival(df):
    return df.withColumn(
        "arrival",
        F.unix_micros(F.col("ts").cast("timestamp"))
        + F.expr(_S_OOO_DELAY) * 1000000,
    )


def _monitor(spark, name):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return StreamOOOMonitor(spark, name)


def test_split_absorb_equals_batch(spark):
    """Two arrival-ordered halves fold to the whole-stream histogram
    — the carried high water makes the second half's lateness agree
    with the global replay."""
    ev = read_table(spark, f"{SF}/events.parquet")
    arr = _with_arrival(ev)
    cut = arr.selectExpr(
        "percentile(arrival, 0.5) as c"
    ).collect()[0]["c"]
    b1 = arr.filter(F.col("arrival") <= cut).drop("arrival")
    b2 = arr.filter(F.col("arrival") > cut).drop("arrival")
    mon = _monitor(spark, "t_ooo_split")
    mon.absorb(b1, batch_id=0)
    mon.absorb(b2, batch_id=1)
    got = {
        r["bucket_min"]: r["n_events"] for r in mon.histogram().collect()
    }
    want = _batch_hist(spark)
    assert got == want


def test_stream_ingest_matches_batch(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_ooo_stream")
    release_blocks(spark)
    ev = read_table(spark, f"{SF}/events.parquet")
    arr = _with_arrival(ev)
    cut = arr.selectExpr(
        "percentile(arrival, 0.5) as c"
    ).collect()[0]["c"]
    b1 = arr.filter(F.col("arrival") <= cut).drop("arrival")
    b2 = arr.filter(F.col("arrival") > cut).drop("arrival")
    src = tmp_path / "ooo_src"
    src.mkdir()
    for i, b in enumerate((b1, b2)):
        staged = tmp_path / f"s{i}"
        b.coalesce(1).write.parquet(str(staged))
        dst = src / f"f{i}.parquet"
        shutil.copy(next(staged.glob("part-*.parquet")), dst)
        # The file source orders micro-batches by mtime; two quick
        # copies can share an mtime on coarse-granularity filesystems,
        # so pin distinct mtimes to make arrival order deterministic.
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    mon = StreamOOOMonitor(spark, "t_ooo_stream")
    stats = stream_ooo_monitor(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ck")
    )
    assert stats.batches == 2
    assert stats.arrived == ev.count()
    got = {
        r["bucket_min"]: r["n_events"] for r in mon.histogram().collect()
    }
    assert got == _batch_hist(spark)
    assert persistent_rdd_ids(spark) == set()


def test_replayed_batch_id_is_skipped(spark):
    ev = read_table(spark, f"{SF}/events.parquet")
    mon = _monitor(spark, "t_ooo_replay")
    mon.absorb(ev, batch_id=0)
    hw = mon.high_water()
    before = {
        r["bucket_min"]: r["n_events"] for r in mon.histogram().collect()
    }
    mon.absorb(ev, batch_id=0)  # redelivery — must be a no-op
    after = {
        r["bucket_min"]: r["n_events"] for r in mon.histogram().collect()
    }
    assert after == before
    assert mon.high_water() == hw
    assert mon.state.last_batch_id() == 0
