"""MergeStore: the one state store of the sketch stores and streaming
twins — keyed merges through the staged swap, the batch id as a table
property, crash recovery on open, and replay skipped without a job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datanika_core_spark.operators.fingerprint_store import FingerprintStore
from datanika_core_spark.operators.merge_store import MergeStore

SCHEMA = "k string, n bigint, fp bigint"


def _store(spark, table: str) -> MergeStore:
    st = MergeStore(
        spark, table, SCHEMA, keys=["k"], merge={"n": "sum", "fp": "bit_xor"}
    )
    st.reset()
    return st


def _delta(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(st: MergeStore) -> dict:
    return {r["k"]: (r["n"], r["fp"]) for r in st.rows().collect()}


def _crash_at_rename(spark, monkeypatch, nth: int) -> None:
    """Make the ``nth`` ``ALTER TABLE … RENAME TO`` of the session
    raise, as a process dying at that point of the swap would."""
    cls = type(spark)
    real = cls.sql
    seen = [0]

    def sql(self, query, *args, **kwargs):
        if "RENAME TO" in query:
            seen[0] += 1
            if seen[0] == nth:
                raise RuntimeError("simulated crash")
        return real(self, query, *args, **kwargs)

    monkeypatch.setattr(cls, "sql", sql)


def _tables(spark, table: str) -> set[str]:
    return {
        t for t in (table, f"{table}__stage", f"{table}__old")
        if spark.catalog.tableExists(t)
    }


def test_rows_before_first_write_are_typed_and_empty(spark):
    st = _store(spark, "ms_fresh")
    rows = st.rows()
    assert rows.schema == StructType.fromDDL(SCHEMA)
    assert rows.count() == 0
    assert st.last_batch_id() is None
    assert not spark.catalog.tableExists("ms_fresh")


def test_absorb_merges_by_key_and_carries_the_batch_id(spark):
    st = _store(spark, "ms_merge")
    st.absorb(_delta(spark, [("a", 1, 5), ("b", 2, 6)]), batch_id=0)
    st.absorb(_delta(spark, [("a", 3, 3)]), batch_id=1)
    assert _rows(st) == {"a": (4, 5 ^ 3), "b": (2, 6)}
    assert st.last_batch_id() == 1
    # a write without a batch id keeps the last one
    st.absorb(_delta(spark, [("c", 1, 1)]))
    assert st.last_batch_id() == 1
    assert set(_rows(st)) == {"a", "b", "c"}


def test_stage_left_beside_the_table_is_cleared(spark, monkeypatch):
    """A crash before the renames leaves a complete stage beside the
    table; the run never reported success, so reopening drops the
    stage and reads back the pre-crash rows and batch id."""
    st = _store(spark, "ms_crash1")
    st.absorb(_delta(spark, [("a", 1, 1)]), batch_id=0)
    _crash_at_rename(spark, monkeypatch, 1)
    with pytest.raises(RuntimeError, match="simulated crash"):
        st.absorb(_delta(spark, [("a", 5, 2)]), batch_id=1)
    monkeypatch.undo()
    assert _tables(spark, "ms_crash1") == {"ms_crash1", "ms_crash1__stage"}
    reopened = MergeStore(
        spark, "ms_crash1", SCHEMA, keys=["k"],
        merge={"n": "sum", "fp": "bit_xor"},
    )
    assert _tables(spark, "ms_crash1") == {"ms_crash1"}
    assert _rows(reopened) == {"a": (1, 1)}
    assert reopened.last_batch_id() == 0


def test_missing_table_with_complete_stage_rolls_forward(spark, monkeypatch):
    """A crash between the two renames leaves the table missing and a
    complete stage (with its batch id) beside the old copy; reopening
    finishes the swap."""
    st = _store(spark, "ms_crash2")
    st.absorb(_delta(spark, [("a", 1, 1)]), batch_id=0)
    _crash_at_rename(spark, monkeypatch, 2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        st.absorb(_delta(spark, [("a", 5, 2), ("b", 1, 7)]), batch_id=1)
    monkeypatch.undo()
    assert _tables(spark, "ms_crash2") == {
        "ms_crash2__stage", "ms_crash2__old"
    }
    reopened = MergeStore(
        spark, "ms_crash2", SCHEMA, keys=["k"],
        merge={"n": "sum", "fp": "bit_xor"},
    )
    assert _tables(spark, "ms_crash2") == {"ms_crash2"}
    assert _rows(reopened) == {"a": (6, 1 ^ 2), "b": (1, 7)}
    assert reopened.last_batch_id() == 1


def test_replayed_absorb_runs_no_spark_job(spark):
    st = _store(spark, "ms_replay")
    delta = _delta(spark, [("a", 1, 1)])
    st.absorb(delta, batch_id=3)
    before = _rows(st)
    sc = spark.sparkContext
    sc.setJobGroup("ms-replay", "replayed absorb")
    try:
        st.absorb(delta, batch_id=3)
        st.absorb(delta, batch_id=2)
        jobs = list(sc.statusTracker().getJobIdsForGroup("ms-replay"))
    finally:
        sc.setJobGroup(None, None)
    assert jobs == []
    assert _rows(st) == before
    assert st.last_batch_id() == 3


def test_row_keyed_like_a_retired_sentinel_is_data(spark):
    """The old in-data watermark rows used reserved keys; a real group
    with such a key is now counted like any other."""
    spark.sql("DROP TABLE IF EXISTS ms_fp_sentinel")
    fps = FingerprintStore(spark, "ms_fp_sentinel")
    rows = spark.createDataFrame(
        [("__wm__", 11), ("__wm__", 12), ("O", 13)], "grp string, h bigint"
    )
    fps.update(rows, batch_id=0)
    fps.update(rows.filter(F.col("grp") == "O"), batch_id=1)
    got = {
        r["grp"]: (r["n_rows"], r["fp"]) for r in fps.fingerprints().collect()
    }
    assert got == {"__wm__": (2, 11 ^ 12), "O": (2, 0)}
    assert fps.state.last_batch_id() == 1


def test_unknown_merge_function_is_rejected(spark):
    from datanika_core_spark.errors import ValidationError

    with pytest.raises(ValidationError):
        MergeStore(spark, "ms_bad", SCHEMA, keys=["k"], merge={"n": "avg"})
