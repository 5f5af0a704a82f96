"""Streaming collocation monitor: the streamed counter state must
equal the batch counts over the concatenated corpus, the PMI report
must EQUAL the oracle-checked batch workload exactly (all ranking
inputs are additive integer counters), and the replay watermark must
make redelivery exactly-once."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from datanika_core_spark.blocks import persistent_rdd_ids, release_blocks
from datanika_core_spark.session import read_table
from datanika_core_spark.streaming.colloc import (
    StreamCollocationMonitor,
    stream_collocations,
)
from datanika_core_spark.workloads import load_all

SF = "/root/testdata/sf0.001"


def _monitor(spark, name):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return StreamCollocationMonitor(spark, name)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_split_absorb_equals_whole_and_batch_report(spark):
    docs = read_table(spark, f"{SF}/documents.parquet")
    whole = _monitor(spark, "t_colloc_whole")
    whole.absorb(docs, batch_id=0)
    split = _monitor(spark, "t_colloc_split")
    split.absorb(docs.filter(F.col("doc_id") % 2 == 0), batch_id=0)
    split.absorb(docs.filter(F.col("doc_id") % 2 == 1), batch_id=1)

    def counters(tbl):
        return {
            (r["kind"], r["key"]): r["n"]
            for r in spark.table(tbl).filter("kind <> '_wm'").collect()
        }

    assert counters("t_colloc_whole") == counters("t_colloc_split")
    # the streamed report equals the oracle-checked batch workload
    want = _rows(load_all()["collocation_pmi_bigrams"].fn(spark, SF))
    assert _rows(split.report()) == want


def test_stream_collocations_matches_batch(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_colloc_stream")
    release_blocks(spark)
    docs = read_table(spark, f"{SF}/documents.parquet")
    src = tmp_path / "src"
    src.mkdir()
    for i, b in enumerate(
        (docs.filter(F.col("doc_id") % 2 == 0),
         docs.filter(F.col("doc_id") % 2 == 1))
    ):
        staged = tmp_path / f"s{i}"
        b.coalesce(1).write.parquet(str(staged))
        shutil.copy(next(staged.glob("part-*.parquet")),
                    src / f"f{i}.parquet")

    mon = StreamCollocationMonitor(spark, "t_colloc_stream")
    stats = stream_collocations(
        spark, str(src), mon, checkpoint_dir=str(tmp_path / "ck")
    )
    assert stats.batches == 2
    assert stats.arrived == docs.count()
    want = _rows(load_all()["collocation_pmi_bigrams"].fn(spark, SF))
    assert _rows(mon.report()) == want
    # block hygiene: each micro-batch frees its own checkpoints
    assert persistent_rdd_ids(spark) == set()


def test_replayed_batch_is_skipped(spark):
    docs = read_table(spark, f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    mon = _monitor(spark, "t_colloc_replay")
    mon.absorb(b1, batch_id=0)
    before = _rows(spark.table("t_colloc_replay").orderBy("kind", "key"))
    mon.absorb(b1, batch_id=0)  # redelivery — must be a no-op
    after = _rows(spark.table("t_colloc_replay").orderBy("kind", "key"))
    assert before == after
    assert mon.state.last_batch_id() == 0
