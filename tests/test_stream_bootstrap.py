"""Streaming Poisson-bootstrap monitor: the streamed replicate
moments must equal the batch moments over the concatenated orders
table, report() must EQUAL the oracle-checked batch workload exactly
(all CI inputs are additive integer moments; the CI is rank
selection on exact ratios), and redelivery must be exactly-once."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from datanika_core_spark.blocks import persistent_rdd_ids, release_blocks
from datanika_core_spark.session import read_table
from datanika_core_spark.streaming.bootstrap import (
    StreamBootstrapMonitor,
    stream_bootstrap_ci,
)
from datanika_core_spark.workloads import load_all

SF = "/root/testdata/sf0.001"


def _monitor(spark, name):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return StreamBootstrapMonitor(spark, name)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_split_absorb_equals_batch_workload(spark):
    orders = read_table(spark, f"{SF}/orders.parquet")
    mon = _monitor(spark, "t_bs_split")
    mon.absorb(orders.filter(F.col("o_orderkey") % 2 == 0), batch_id=0)
    mon.absorb(orders.filter(F.col("o_orderkey") % 2 == 1), batch_id=1)
    want = _rows(load_all()["bootstrap_ci_poisson"].fn(spark, SF))
    assert _rows(mon.report()) == want


def test_stream_bootstrap_matches_batch(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_bs_stream")
    release_blocks(spark)
    orders = read_table(spark, f"{SF}/orders.parquet")
    src = tmp_path / "src"
    src.mkdir()
    for i, b in enumerate(
        (orders.filter(F.col("o_orderkey") % 2 == 0),
         orders.filter(F.col("o_orderkey") % 2 == 1))
    ):
        staged = tmp_path / f"s{i}"
        b.coalesce(1).write.parquet(str(staged))
        shutil.copy(next(staged.glob("part-*.parquet")),
                    src / f"f{i}.parquet")

    mon = StreamBootstrapMonitor(spark, "t_bs_stream")
    stats = stream_bootstrap_ci(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ck")
    )
    assert stats.batches == 2
    assert stats.arrived == orders.count()
    want = _rows(load_all()["bootstrap_ci_poisson"].fn(spark, SF))
    assert _rows(mon.report()) == want
    assert persistent_rdd_ids(spark) == set()


def test_replayed_batch_is_skipped(spark):
    orders = read_table(spark, f"{SF}/orders.parquet")
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    mon = _monitor(spark, "t_bs_replay")
    mon.absorb(b1, batch_id=0)
    before = _rows(
        spark.table("t_bs_replay").orderBy("priority", "r")
    )
    mon.absorb(b1, batch_id=0)  # redelivery — must be a no-op
    after = _rows(
        spark.table("t_bs_replay").orderBy("priority", "r")
    )
    assert before == after
    assert mon.state.last_batch_id() == 0
