"""Streaming Benford + SPRT twins: after streaming the events table
in two time-split files, each monitor's report must EQUAL the batch
workload over the full table — exact equality (integer counters; the
LLR is the identical linear form of those integers), including the
cross-batch boundary-crossing indices an additive counter alone
could not see. Plus replay-safety: a redelivered batch_id is a
no-op for both monitors."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from datanika_core_spark.blocks import persistent_rdd_ids, release_blocks
from datanika_core_spark.session import read_table
from datanika_core_spark.streaming.audit import (
    StreamBenfordMonitor,
    StreamSPRTMonitor,
    stream_benford_audit,
    stream_sprt_monitor,
)
from datanika_core_spark.workloads.dataquality import dq_benford_first_digit
from datanika_core_spark.workloads.stats import abtest_sprt_sequential

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_one(df, staged, dst):
    df.coalesce(1).write.parquet(str(staged))
    shutil.copy(next(staged.glob("part-*.parquet")), dst)


def _split_by_time(spark, tmp_path, name):
    """Events split at the median ts into two files (f0 strictly
    earlier), so availableNow listing order preserves event order."""
    from pyspark.sql import Window as _W

    ev = read_table(spark, f"{SF}/events.parquet")
    n = ev.count()
    ranked = ev.withColumn(
        "_rn", F.row_number().over(_W.orderBy("ts", "event_id"))
    )
    b1 = ranked.filter(F.col("_rn") <= n // 2).drop("_rn")
    b2 = ranked.filter(F.col("_rn") > n // 2).drop("_rn")
    src = tmp_path / name
    src.mkdir()
    for i, b in enumerate((b1, b2)):
        staged = tmp_path / f"{name}_s{i}"
        b.coalesce(1).write.parquet(str(staged))
        shutil.copy(
            next(staged.glob("part-*.parquet")), src / f"f{i}.parquet"
        )
    return ev, src


def test_stream_benford_matches_batch(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS benford_mon")
    release_blocks(spark)
    ev, src = _split_by_time(spark, tmp_path, "bf_src")
    mon = StreamBenfordMonitor(spark, "benford_mon")
    stats = stream_benford_audit(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ckb")
    )
    assert stats.batches == 2
    assert stats.arrived == ev.count()
    assert _rows(mon.report()) == _rows(dq_benford_first_digit(spark, SF))
    # replay: same batch_id again is a no-op
    before = _rows(mon.report())
    mon.absorb(read_table(spark, f"{SF}/events.parquet"), batch_id=0)
    assert _rows(mon.report()) == before
    assert persistent_rdd_ids(spark) == set()


def test_stream_sprt_matches_batch(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS sprt_mon")
    release_blocks(spark)
    ev, src = _split_by_time(spark, tmp_path, "sprt_src")
    mon = StreamSPRTMonitor(spark, "sprt_mon")
    stats = stream_sprt_monitor(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "cks")
    )
    assert stats.batches == 2
    got = _rows(mon.report())
    want = _rows(abtest_sprt_sequential(spark, SF))
    assert got == want
    # replay: same batch_id again is a no-op (walk state unchanged)
    mon.absorb(ev, batch_id=1)
    assert _rows(mon.report()) == got
    assert mon.state.last_batch_id() == 1
    assert persistent_rdd_ids(spark) == set()


def test_stream_ks_drift_matches_batch(spark, tmp_path):
    """KS counters are commutative: streaming the events table in
    two arbitrary (id-parity) files must reproduce the batch
    drift_ks_two_period report exactly, and a redelivered batch_id
    must be a no-op."""
    from datanika_core_spark.streaming.audit import (
        StreamKSDriftMonitor,
        stream_ks_drift,
    )
    from datanika_core_spark.workloads.evalmetrics import (
        drift_ks_two_period,
    )

    spark.sql("DROP TABLE IF EXISTS ks_mon")
    release_blocks(spark)
    ev = read_table(spark, f"{SF}/events.parquet")
    # the same midpoint day the batch workload derives from the span
    mid = ev.select(
        F.expr(
            "(min(datediff(to_date(ts), '1970-01-01'))"
            " + max(datediff(to_date(ts), '1970-01-01')) + 1) div 2"
        )
    ).collect()[0][0]

    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    src = tmp_path / "ks_src"
    src.mkdir()
    for i, b in enumerate((b1, b2)):
        _write_one(b, tmp_path / f"ks_s{i}", src / f"f{i}.parquet")

    mon = StreamKSDriftMonitor(spark, "ks_mon", mid_day=mid)
    stats = stream_ks_drift(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ckk")
    )
    assert stats.batches == 2
    got = _rows(mon.report())
    want = _rows(drift_ks_two_period(spark, SF))
    assert got == want
    mon.absorb(ev, batch_id=1)  # redelivery — no-op
    assert _rows(mon.report()) == got
    assert persistent_rdd_ids(spark) == set()


def test_stream_mann_whitney_matches_batch(spark, tmp_path):
    """Rank-sum counters are commutative: streaming the events table
    in two arbitrary (id-parity) files must reproduce the batch
    abtest_mann_whitney_u report exactly (ranks recompute from the
    stored grid), and a redelivered batch_id must be a no-op."""
    from datanika_core_spark.streaming.audit import (
        StreamMannWhitneyMonitor,
        stream_mann_whitney,
    )
    from datanika_core_spark.workloads.stats import abtest_mann_whitney_u

    spark.sql("DROP TABLE IF EXISTS mw_mon")
    release_blocks(spark)
    ev = read_table(spark, f"{SF}/events.parquet")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    src = tmp_path / "mw_src"
    src.mkdir()
    for i, b in enumerate((b1, b2)):
        _write_one(b, tmp_path / f"mw_s{i}", src / f"f{i}.parquet")

    mon = StreamMannWhitneyMonitor(spark, "mw_mon")
    stats = stream_mann_whitney(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ckm")
    )
    assert stats.batches == 2
    got = _rows(mon.report())
    want = _rows(abtest_mann_whitney_u(spark, SF))
    assert got == want
    mon.absorb(ev, batch_id=1)  # redelivery — no-op
    assert _rows(mon.report()) == got
    assert persistent_rdd_ids(spark) == set()
