"""Unit tests of the benchmark's arithmetic: span self times, the
tracing overhead, warehouse byte accounting and the ELT day batches.
No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from measure import (  # noqa: E402
    Span,
    dir_usage,
    geomean,
    overhead_ratio,
    self_times,
)


def test_geomean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)


def test_overhead_ratio_cancels_a_linear_warm_up_trend():
    # rounds u t u t u shrink by 1 s each; tracing adds nothing
    assert overhead_ratio([10.0, 8.0, 6.0], [9.0, 7.0]) == pytest.approx(1.0)
    # tracing adds 10% to both traced rounds
    assert overhead_ratio([10.0, 8.0, 6.0], [9.9, 7.7]) == pytest.approx(1.1)
    # a last traced round with no untraced round after it is left out
    assert overhead_ratio([10.0, 8.0], [9.9, 99.0]) == pytest.approx(1.1)


# -- span self times ---------------------------------------------------------


def _span(sid, layer, start, end, parent=None):
    return Span(sid, layer, "op", start, end, parent)


def test_self_time_subtracts_nested_children():
    spans = [
        _span(1, "harness", 0.0, 10.0),
        _span(2, "plans.build", 1.0, 7.0, 1),
        _span(3, "writers", 2.0, 5.0, 2),
        _span(4, "blocks", 8.0, 9.0, 1),
    ]
    got = self_times(spans)
    assert got == pytest.approx({
        "harness": 3.0, "plans.build": 3.0, "writers": 3.0, "blocks": 1.0,
    })
    assert sum(got.values()) == pytest.approx(10.0)


def test_self_time_splits_concurrent_children():
    # two model threads of one DAG level overlap on [2, 4]
    spans = [
        _span(1, "harness", 0.0, 6.0),
        _span(2, "plans.build", 1.0, 4.0, 1),
        _span(3, "plans.build", 2.0, 5.0, 1),
        _span(4, "writers", 3.0, 4.0, 3),
    ]
    got = self_times(spans)
    # [0,1] harness; [1,2] build#2; [2,3] both builds split;
    # [3,4] build#2 and writers split; [4,5] build#3; [5,6] harness
    assert got == pytest.approx({
        "harness": 2.0, "plans.build": 3.5, "writers": 0.5,
    })
    assert sum(got.values()) == pytest.approx(6.0)


def test_self_time_sums_repeated_layer_calls():
    spans = [_span(1, "harness", 0.0, 4.0)] + [
        _span(i + 2, "session", i, i + 0.5, 1) for i in range(4)
    ]
    got = self_times(spans)
    assert got["session"] == pytest.approx(2.0)
    assert got["harness"] == pytest.approx(2.0)


def test_self_time_of_no_spans():
    assert self_times([]) == {}


# -- warehouse bytes ---------------------------------------------------------


def test_dir_usage_counts_every_file_recursively(tmp_path):
    table = tmp_path / "db.db" / "orders"
    table.mkdir(parents=True)
    (table / "part-0.parquet").write_bytes(b"x" * 100)
    (table / ".part-0.parquet.crc").write_bytes(b"c" * 12)
    (table / "_SUCCESS").write_bytes(b"")
    (tmp_path / "ledger.parquet").write_bytes(b"y" * 30)
    assert dir_usage(str(tmp_path)) == (142, 4)


def test_dir_usage_skips_links_and_missing_dirs(tmp_path):
    (tmp_path / "real").write_bytes(b"z" * 7)
    os.symlink(tmp_path / "real", tmp_path / "link")
    assert dir_usage(str(tmp_path)) == (7, 1)
    assert dir_usage(str(tmp_path / "absent")) == (0, 0)


# -- end-to-end arithmetic ---------------------------------------------------


def test_end_to_end_takes_each_kind_at_its_best():
    from run import _end_to_end

    by_kind = {"a": [3.0, 2.0, 2.5], "b": [0.5, 0.4, 0.6]}
    got = {k: v for k, (v, _u) in
           _end_to_end(by_kind, setup_s=9.0, rss_mb=3000.0).items()}
    assert got["setup_s"] == 9.0
    assert got["peak_rss_mb"] == 3000.0
    assert got["pass_s"] == pytest.approx(2.0 + 0.4)
    assert got["geomean_ms"] == pytest.approx((2.0 * 0.4) ** 0.5 * 1e3)


# -- ELT day batches ---------------------------------------------------------


def test_order_days_cut_every_order_once_and_flip_status(tmp_path):
    import pyarrow.parquet as pq

    import inputs

    paths = inputs.order_days(str(tmp_path / "a"), seed=3, days=2)
    again = inputs.order_days(str(tmp_path / "b"), seed=3, days=2)
    assert [open(p, "rb").read() for p in paths] == [
        open(p, "rb").read() for p in again]
    orders = pq.read_table(inputs.ORDERS_SF01).to_pydict()
    status = dict(zip(orders["o_orderkey"], orders["o_orderstatus"]))
    seen: dict = {}
    for d, path in enumerate(paths):
        batch = pq.read_table(path)
        assert batch.column_names == inputs.ORDER_DAY_COLUMNS
        rows = batch.to_pylist()
        assert {r["o_updated"].date() for r in rows} == {
            (inputs.DAY0 + dt.timedelta(days=d)).date()}
        flipped = [r for r in rows if r["o_orderkey"] in seen]
        assert len(flipped) == int(len(seen) * 0.02)
        for r in flipped:
            assert r["o_orderstatus"] != seen[r["o_orderkey"]]
        for r in rows:
            if r["o_orderkey"] not in seen:
                assert r["o_orderstatus"] == status[r["o_orderkey"]]
            seen[r["o_orderkey"]] = r["o_orderstatus"]
    assert len(seen) == len(status)
