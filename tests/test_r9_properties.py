"""Exact hand-computed planted assertions for the pre-convention
statistical workloads (the round-8 runs-test lesson: when engine and
oracle are written by the same hand, parity cannot catch a shared
formula error — only an INDEPENDENTLY derived exact value can).

Every expected constant below was computed from the textbook formula
(pair-counting U, mean-centered autocorrelations, ECDF sup-gap,
median-of-pairwise-slopes) with none of the engine's integer/window
tricks, then pinned as a literal.
"""

from __future__ import annotations

import datetime as dt

import pytest

from datanika_core_spark.workloads import load_all
from tests.planted import (  # noqa: F401
    _ab_variant,
    _day,
    _docs,
    _events,
    _write,
)

pytestmark = pytest.mark.usefixtures("spark")


def _uids_by_variant(k: int) -> tuple[list[int], list[int]]:
    """First k user ids landing in each md5 arm."""
    v0, v1 = [], []
    uid = 0
    while len(v0) < k or len(v1) < k:
        uid += 1
        (v0 if _ab_variant(uid) == 0 else v1).append(uid)
    return v0[:k], v1[:k]


def test_mann_whitney_exact_hand_case(spark, tmp_path):
    """Arm A values {1.00, 2.00, 3.00}, arm B {1.50, 2.50, 2.50}.
    By pair counting (ties count ½): U_A = 4, U_B = 5; the 250-cent
    tie contributes t³−t = 6, so
    z = (4 − 4.5)/sqrt(0.75·(7 − 6/30)) = −0.5/sqrt(5.1) = −0.221404
    and rank-biserial r = 1 − 8/9 = 0.111111."""
    v0, v1 = _uids_by_variant(3)
    rows = []
    for i, (uid, val) in enumerate(zip(v0, [1.0, 2.0, 3.0])):
        rows.append((i + 1, _day(i), uid, "purchase", val, "{}"))
    for i, (uid, val) in enumerate(zip(v1, [1.5, 2.5, 2.5])):
        rows.append((i + 4, _day(i), uid, "purchase", val, "{}"))
    _write(_events(spark, rows), str(tmp_path), "events")
    got = load_all()["abtest_mann_whitney_u"].fn(
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["u_a"] == 4.0
    assert r["u_b"] == 5.0
    assert r["z"] == -0.221404
    assert r["rank_biserial"] == 0.111111


def test_cramers_v_exact_hand_case(spark, tmp_path):
    """2×2 table (30,10 / 10,30), all marginals 40, n = 80: every
    expected cell is 20, so χ² = 4·(10²/20) = 20 exactly and
    V = sqrt(20 / (80·1)) = 0.5 exactly."""
    rows, did = [], 0
    for lang, source, k in [
        ("en", "srcA", 30), ("de", "srcA", 10),
        ("en", "srcB", 10), ("de", "srcB", 30),
    ]:
        for _ in range(k):
            did += 1
            rows.append((did, "w", lang, source, 1))
    _write(_docs(spark, rows), str(tmp_path), "documents")
    got = load_all()["stats_cramers_v"].fn(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n"], r["min_dim"]) == (80, 1)
    assert r["chi2"] == 20.0
    assert r["cramers_v"] == 0.5


def test_ljung_box_exact_hand_case(spark, tmp_path):
    """Daily counts x = (3,1,4,1,5,9,2,6,5,3), x̄ = 3.9. Mean-
    centered autocorrelations and the cumulative
    Q_k = n(n+2)·Σ ρ²_j/(n−j), computed longhand, give the table
    below — an exact pin on both ρ and Q at every lag."""
    counts = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    rows, eid = [], 0
    for d, k in enumerate(counts):
        for _ in range(k):
            eid += 1
            rows.append((eid, _day(d), 1, "view", 1.0, "{}"))
    _write(_events(spark, rows), str(tmp_path), "events")
    got = {
        r["lag"]: r
        for r in load_all()["stats_ljung_box"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    expect = {
        1: (-0.14408, 0.2768),
        2: (-0.03133, 0.2915),
        3: (0.274499, 1.5832),
        4: (-0.463388, 5.8778),
        5: (-0.055556, 5.9519),
        6: (-0.030237, 5.9793),
        7: (-0.094171, 6.334),
    }
    assert set(got) == set(expect)
    for lag, (rho, q) in expect.items():
        assert got[lag]["n_days"] == 10
        assert got[lag]["rho"] == rho, lag
        assert got[lag]["q_stat"] == q, lag


def test_ks_two_period_exact_hand_case(spark, tmp_path):
    """Four days, midpoint splits 2+2. Type 'sep': first-half values
    {1..4}, second-half {5..8} — disjoint supports, D = 1. Type
    'mix': {1,2,3,4} vs {3,4,5,6} — the ECDF sup-gap is 0.5 (at any
    threshold in [2,4)). With n_a = n_b = 4 the α=.05 critical value
    is 1.358·sqrt(8/16) = 0.960251, so 'sep' drifts, 'mix' does
    not."""
    rows, eid = [], 0

    def add(etype, day, vals):
        nonlocal eid
        for v in vals:
            eid += 1
            rows.append((eid, _day(day), 1, etype, float(v), "{}"))

    add("sep", 0, [1, 2]); add("sep", 1, [3, 4])
    add("sep", 2, [5, 6]); add("sep", 3, [7, 8])
    add("mix", 0, [1, 2]); add("mix", 1, [3, 4])
    add("mix", 2, [3, 4]); add("mix", 3, [5, 6])
    _write(_events(spark, rows), str(tmp_path), "events")
    got = {
        r["event_type"]: r
        for r in load_all()["drift_ks_two_period"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    for etype in ("sep", "mix"):
        assert (got[etype]["n_a"], got[etype]["n_b"]) == (4, 4)
        assert got[etype]["crit_05"] == 0.960251
    assert got["sep"]["ks_stat"] == 1.0
    assert got["sep"]["drifted"] is True
    assert got["mix"]["ks_stat"] == 0.5
    assert got["mix"]["drifted"] is False


def test_theil_sen_exact_hand_case(spark, tmp_path):
    """Daily counts y = (2,1,5,4) on four consecutive days. The six
    pairwise slopes sort to (−1, −1, 2/3, 3/2, 3/2, 4); the median
    is (2/3 + 3/2)/2 = 13/12 = 1.083333. The x axis is EPOCH days
    (2024-03-01 = day 19783), so the residuals yᵢ − (13/12)(19783+i)
    are (−257155, −257180, −257145, −257170)/12; the two middle
    order statistics average to −514325/24 = −21430.208333."""
    assert (dt.date(2024, 3, 1) - dt.date(1970, 1, 1)).days == 19783
    counts = [2, 1, 5, 4]
    rows, eid = [], 0
    for d, k in enumerate(counts):
        for _ in range(k):
            eid += 1
            rows.append((eid, _day(d), 1, "view", 1.0, "{}"))
    _write(_events(spark, rows), str(tmp_path), "events")
    got = load_all()["theil_sen_daily_trend"].fn(
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_days"] == 4
    assert r["n_pairs"] == 6
    assert r["ts_slope_per_day"] == 1.083333
    assert r["ts_intercept"] == round(-514325 / 24, 6)  # -21430.208333


def test_coreness_ladder_nested_peel_hand_case(spark, tmp_path):
    """Co-purchase graph = K6 ∪ K8 ∪ P10 (24 nodes; degrees 5, 7,
    and 1/2). Q1 degree (rank (24+1) div 4 = 6 of the sorted list)
    is 2, so the ladder k = max(2i div 5, 1) is (1,1,1,1,2).

    Rungs 1–4 (k=1) keep everything: 24 nodes, 15+28+9 = 52 edges,
    converged. Rung 5 (k=2) unravels the path two ends per round —
    survivor counts 22, 20, 18, 16 — so after the 4-round budget 16
    nodes and 44 edges remain with converged=0: pins the bounded-
    round semantics AND the nested restart from rung 4's edge set."""
    rows = []
    for p in range(101, 107):
        rows.append((1, p))          # K6: one order, six parts
    for p in range(301, 309):
        rows.append((2, p))          # K8
    for i in range(1, 10):           # P10: 201-202-...-210
        rows.append((10 + i, 200 + i))
        rows.append((10 + i, 201 + i))
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    _write(li, str(tmp_path), "lineitem")
    got = {
        r["rung"]: r
        for r in load_all()["graph_coreness_ladder"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert sorted(got) == [1, 2, 3, 4, 5]
    for rung in (1, 2, 3, 4):
        r = got[rung]
        assert (r["k"], r["n_nodes"], r["n_edges"], r["converged"]) == (
            1, 24, 52, 1
        )
    r5 = got[5]
    assert (r5["k"], r5["n_nodes"], r5["n_edges"], r5["converged"]) == (
        2, 16, 44, 0
    )


def test_skyline_hand_case(spark, tmp_path):
    """Parts at (price, size): two at (1,5), one each at (1,7),
    (2,4), (2,6), (3,3), (3,9). Dominance (minimize both, strict in
    one): (1,7) loses to (1,5); (2,6) loses to (2,4); (3,9) loses to
    (3,3). Skyline = {(1,5)x2, (2,4), (3,3)}."""
    rows = [
        (1, 1.0, 5), (2, 1.0, 5), (3, 1.0, 7),
        (4, 2.0, 4), (5, 2.0, 6),
        (6, 3.0, 3), (7, 3.0, 9),
    ]
    part = spark.createDataFrame(
        rows, "p_partkey long, p_retailprice double, p_size int"
    )
    _write(part, str(tmp_path), "part")
    got = [
        (r["price"], r["size"], r["n_parts"])
        for r in load_all()["skyline_price_size_parts"].fn(
            spark, str(tmp_path)
        ).collect()
    ]
    assert got == [(1.0, 5, 2), (2.0, 4, 1), (3.0, 3, 1)]


def test_lorenz_gini_hand_case(spark, tmp_path):
    """Four events with cents (100, 200, 300, 400): sorted cumulative
    shares are (0.1, 0.3, 0.6, 1.0); Σ r·x = 1·1+2·2+3·3+4·4 = 30
    (in cents-units ×100), so G = (2·30 − 5·10)/(4·10) = 0.25.
    Boundary ranks greatest((4·q) div 10, 1) map deciles 1–4 → rank
    1, 5–7 → 2, 8–9 → 3, 10 → 4."""
    rows = [
        (i + 1, _day(i), 1, "purchase", float(i + 1), "{}")
        for i in range(4)
    ]
    _write(_events(spark, rows), str(tmp_path), "events")
    got = {
        r["decile"]: r
        for r in load_all()["events_value_lorenz_gini"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert sorted(got) == list(range(1, 11))
    expect_rank = {1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 2, 7: 2,
                   8: 3, 9: 3, 10: 4}
    expect_share = {1: 0.1, 2: 0.3, 3: 0.6, 4: 1.0}
    for d, r in got.items():
        assert r["boundary_rank"] == expect_rank[d]
        assert r["cum_share"] == expect_share[expect_rank[d]]
        assert r["gini"] == 0.25


def _two_node_graph(spark, tmp_path, name):
    """(engine frame, oracle rows) of workload ``name`` over the
    lineitem table (1,10),(1,20): one co-purchase edge, 2 nodes."""
    import duckdb

    li = spark.createDataFrame(
        [(1, 10), (1, 20)], "l_orderkey long, l_partkey long"
    )
    _write(li, str(tmp_path), "lineitem")
    wl = load_all()[name]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{tmp_path}/lineitem.parquet/*.parquet'"
    )
    return wl.fn(spark, str(tmp_path)), con.execute(wl.oracle).fetchall()


def test_coreness_ladder_degenerate_two_nodes(spark, tmp_path):
    """< 3 graph nodes: the Q1 rank (n+1) div 4 selects nothing, so
    every rung reports (NULL k, 0, 0, converged) — engine and oracle
    must agree on the degenerate shape instead of the engine
    crashing on the missing Q1 row."""
    df, oracle = _two_node_graph(spark, tmp_path, "graph_coreness_ladder")
    got = df.collect()
    assert len(got) == 5
    for r in got:
        assert (r["k"], r["n_nodes"], r["n_edges"], r["converged"]) == (
            None, 0, 0, 1
        )
    assert [tuple(r[1:]) for r in oracle] == [(None, 0, 0, 1)] * 5


def test_kcore_degenerate_two_nodes(spark, tmp_path):
    """< 3 graph nodes: the Q1 rank selects nothing, so the oracle's
    K row is missing and its cross join yields 0 rows — the engine
    must return the same empty typed frame instead of crashing on the
    missing K row."""
    df, oracle = _two_node_graph(spark, tmp_path, "graph_kcore_bounded")
    assert df.columns == ["round", "n_nodes", "n_edges", "k", "converged"]
    assert df.collect() == []
    assert oracle == []
