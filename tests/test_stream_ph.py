"""Streaming Page-Hinkley twin: after streaming the events table in
two files split at the MEDIAN EVENT (which lands mid-day, so the
boundary splits a day's counters across micro-batches — the case a
naive PH fold gets wrong), the monitor's report must EQUAL the batch
workload over the full table at exact equality. Plus replay-safety:
a redelivered batch_id is a no-op."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from datanika_core_spark.blocks import persistent_rdd_ids, release_blocks
from datanika_core_spark.session import read_table
from datanika_core_spark.streaming.ph import (
    StreamPageHinkleyMonitor,
    stream_page_hinkley,
)
from datanika_core_spark.workloads.timeseries import drift_page_hinkley

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _split_mid(spark, tmp_path, name):
    from pyspark.sql import Window as _W

    ev = read_table(spark, f"{SF}/events.parquet")
    n = ev.count()
    ranked = ev.withColumn(
        "_rn", F.row_number().over(_W.orderBy("ts", "event_id"))
    )
    halves = (
        ranked.filter(F.col("_rn") <= n // 2).drop("_rn"),
        ranked.filter(F.col("_rn") > n // 2).drop("_rn"),
    )
    # the split must actually land mid-day for the test to exercise
    # the day-merge path
    d0 = halves[0].agg(F.max(F.to_date("ts"))).collect()[0][0]
    d1 = halves[1].agg(F.min(F.to_date("ts"))).collect()[0][0]
    assert d0 == d1, "median split expected to land mid-day"
    src = tmp_path / name
    src.mkdir()
    for i, b in enumerate(halves):
        staged = tmp_path / f"{name}_s{i}"
        b.coalesce(1).write.parquet(str(staged))
        shutil.copy(
            next(staged.glob("part-*.parquet")), src / f"f{i}.parquet"
        )
    return ev, src


def test_stream_ph_matches_batch(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS ph_mon")
    release_blocks(spark)
    ev, src = _split_mid(spark, tmp_path, "ph_src")
    mon = StreamPageHinkleyMonitor(spark, "ph_mon")
    stats = stream_page_hinkley(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ckph")
    )
    assert stats.batches == 2
    assert stats.arrived == ev.count()
    assert _rows(mon.report()) == _rows(drift_page_hinkley(spark, SF))
    # replay: a redelivered batch_id must not double the counters
    before = _rows(mon.report())
    mon.absorb(read_table(spark, f"{SF}/events.parquet"), batch_id=0)
    assert _rows(mon.report()) == before
    assert persistent_rdd_ids(spark) == set()


def test_stream_ph_day_counters_merge_exactly(spark, tmp_path):
    """The stored grid (not just the report) must equal the batch
    daily aggregate — the direct proof the mid-day boundary merged
    instead of forking the day."""
    spark.sql("DROP TABLE IF EXISTS ph_mon2")
    release_blocks(spark)
    ev, src = _split_mid(spark, tmp_path, "ph_src2")
    mon = StreamPageHinkleyMonitor(spark, "ph_mon2")
    stream_page_hinkley(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ckph2")
    )
    want = _rows(
        ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
            .cast("bigint").alias("day"),
        ).agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint").alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    got = _rows(
        spark.table("ph_mon2").filter(F.col("day") >= 0)
    )
    assert got == want


def test_stream_daily_grid_powers_runs_and_mk(spark, tmp_path):
    """The SAME persisted counter grid must reproduce the runs-test
    and Mann-Kendall batch reports exactly — three monitors, one
    state table."""
    from datanika_core_spark.workloads.stats import stats_runs_test
    from datanika_core_spark.workloads.timeseries import (
        stats_mann_kendall,
    )

    spark.sql("DROP TABLE IF EXISTS ph_mon3")
    release_blocks(spark)
    ev, src = _split_mid(spark, tmp_path, "ph_src3")
    mon = StreamPageHinkleyMonitor(spark, "ph_mon3")
    stream_page_hinkley(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ckph3")
    )
    assert _rows(mon.report_runs_test()) == _rows(
        stats_runs_test(spark, SF)
    )
    assert _rows(mon.report_mann_kendall()) == _rows(
        stats_mann_kendall(spark, SF)
    )


def test_stream_ph_default_checkpoint_resumes(spark, tmp_path):
    """Two stream_page_hinkley calls with NO checkpoint_dir must
    resume one lineage (deterministic default derived from the
    counters table): the second call absorbs ONLY the new file —
    the old mkdtemp-per-call default restarted batch ids at 0
    against the persisted watermark and re-counted or skipped."""
    from datanika_core_spark.streaming.jobs import resolve_checkpoint

    spark.sql("DROP TABLE IF EXISTS ph_mon4")
    release_blocks(spark)
    # probe-free call just resolves the (namespaced) default path
    shutil.rmtree(
        resolve_checkpoint(spark, None, "stream_ph", "ph_mon4"),
        ignore_errors=True,
    )
    ev, src = _split_mid(spark, tmp_path, "ph_src4")
    held = tmp_path / "held_f1.parquet"
    (src / "f1.parquet").rename(held)
    mon = StreamPageHinkleyMonitor(spark, "ph_mon4")
    n = ev.count()
    s1 = stream_page_hinkley(spark, str(src), mon)
    assert s1.arrived == n // 2
    held.rename(src / "f1.parquet")
    s2 = stream_page_hinkley(spark, str(src), mon)
    assert s2.arrived == n - n // 2  # new file only — no re-count
    assert _rows(mon.report()) == _rows(drift_page_hinkley(spark, SF))


def test_stream_ph_fresh_checkpoint_rebuilds(spark, tmp_path):
    """A brand-new checkpoint re-lists EVERY source file, so the
    monitor must rebuild from zero (drop + refold exactly once)
    rather than double-fold against the stale watermark."""
    spark.sql("DROP TABLE IF EXISTS ph_mon5")
    release_blocks(spark)
    ev, src = _split_mid(spark, tmp_path, "ph_src5")
    mon = StreamPageHinkleyMonitor(spark, "ph_mon5")
    stream_page_hinkley(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ck_a")
    )
    before = _rows(mon.report())
    s2 = stream_page_hinkley(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ck_b")
    )
    assert s2.arrived == ev.count()
    assert _rows(mon.report()) == before


def test_stream_ph_dropped_state_replays_checkpoint(spark, tmp_path):
    """The counters table is the source of truth: if it vanishes but
    the checkpoint still has commits, the checkpoint is cleared so
    the full input replays into the empty table (instead of the
    already-listed files being skipped forever)."""
    spark.sql("DROP TABLE IF EXISTS ph_mon6")
    release_blocks(spark)
    ev, src = _split_mid(spark, tmp_path, "ph_src6")
    mon = StreamPageHinkleyMonitor(spark, "ph_mon6")
    ck = str(tmp_path / "ck_c")
    stream_page_hinkley(spark, str(src), mon, checkpoint_dir=ck)
    before = _rows(mon.report())
    spark.sql("DROP TABLE ph_mon6")
    s2 = stream_page_hinkley(spark, str(src), mon, checkpoint_dir=ck)
    assert s2.arrived == ev.count()
    assert _rows(mon.report()) == before


def test_ph_report_before_first_absorb_is_empty(spark):
    """All three reports return empty, correctly-typed frames before
    the first absorb — no AnalysisException on the missing table."""
    spark.sql("DROP TABLE IF EXISTS ph_mon_unused")
    mon = StreamPageHinkleyMonitor(spark, "ph_mon_unused")
    assert mon.state.last_batch_id() is None
    ph = mon.report()
    assert ph.count() == 0
    assert ph.columns == [
        "event_type", "n_days", "ph_inc", "inc_day", "ph_dec", "dec_day"
    ]
    assert mon.report_runs_test().count() == 0
    assert mon.report_mann_kendall().count() == 0


def test_ph_pre1970_day_survives_watermark(spark):
    """An event dated 1969-12-31 lands on epoch day -1 — the old
    day-only watermark filter read its count as the batch id and
    dropped it from every report. The batch id is now a table
    property, so the negative-day row is real data."""
    import datetime as dt

    spark.sql("DROP TABLE IF EXISTS ph_mon7")
    release_blocks(spark)
    mon = StreamPageHinkleyMonitor(spark, "ph_mon7")
    batch = spark.createDataFrame(
        [
            (1, dt.datetime(1969, 12, 31, 12), 1, "purchase", 2.5, "{}"),
            (2, dt.datetime(2024, 3, 1, 12), 1, "purchase", 4.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    mon.absorb(batch, batch_id=5)
    assert mon.state.last_batch_id() == 5
    grid = {
        (r["event_type"], r["day"]): (r["cents"], r["cnt"])
        for r in spark.table("ph_mon7").collect()
    }
    assert grid[("purchase", -1)] == (250, 1)
    # the batch id is a table property: no data row carries it
    assert mon.state.last_batch_id() == 5
    assert {et for et, _ in grid} == {"purchase"}
    rep = mon.report().collect()
    assert len(rep) == 1 and rep[0]["n_days"] == 2
    # replay of the same batch id stays a no-op
    mon.absorb(batch, batch_id=5)
    assert spark.table("ph_mon7").count() == len(grid)


def test_stream_ph_processing_time_trigger_carries_state(
    spark, tmp_path
):
    """Open-ended trigger on a STATEFUL twin (the r10 stream_ingest
    smoke proved lineage carries across trigger modes for a
    stateless append; this extends it to cross-batch state): with
    processing_time the monitor absorbs a file dropped AFTER the
    stream started, the mid-day split still merges into one day
    (report == the batch workload), and an availableNow restart on
    the SAME checkpoint absorbs nothing — counters neither fork nor
    double across trigger modes."""
    import threading

    spark.sql("DROP TABLE IF EXISTS ph_ct")
    release_blocks(spark)
    ev, src = _split_mid(spark, tmp_path, "ph_ct_src")
    hold = tmp_path / "ph_ct_hold"
    hold.mkdir()
    shutil.move(str(src / "f1.parquet"), str(hold / "f1.parquet"))
    mon = StreamPageHinkleyMonitor(spark, "ph_ct")

    t = threading.Timer(
        6.0,
        lambda: shutil.move(
            str(hold / "f1.parquet"), str(src / "f1.parquet")
        ),
    )
    t.start()
    try:
        stats = stream_page_hinkley(
            spark, str(src), mon,
            checkpoint_dir=str(tmp_path / "ck_ph_ct"),
            timeout_sec=25,
            processing_time="1 seconds",
        )
    finally:
        t.cancel()
    assert stats.arrived == ev.count()  # incl. the mid-run file
    assert _rows(mon.report()) == _rows(drift_page_hinkley(spark, SF))

    # same checkpoint, availableNow: nothing replays, state intact
    stats2 = stream_page_hinkley(
        spark, str(src), mon,
        checkpoint_dir=str(tmp_path / "ck_ph_ct"),
    )
    assert stats2.arrived == 0
    assert _rows(mon.report()) == _rows(drift_page_hinkley(spark, SF))
