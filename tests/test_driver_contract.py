"""Driver-contract regressions: the external driver smoke-runs
entry() at sf0.001 and then runs every queries() entry at sf0.01 in
the SAME session — workloads that register temp views or stage
catalog tables must not leak state between scale factors."""

import __spark_entry__ as entry_mod


def test_entry_then_queries_no_cross_sf_leakage(spark):
    q = entry_mod.queries()
    # smoke entry (sf0.001 internally)
    assert entry_mod.entry(spark).count() > 0

    # run the state-heavy workloads at sf0.001 first, then sf0.01 —
    # second run must reflect ONLY sf0.01 data.
    stateful = [
        "model_tests_violations",      # temp views named like raw tables
        "model_build_star_revenue",    # staged wl_src tables + models
        "merge_upsert_orders",         # staged warehouse tables
        "model_incremental_merge_events",  # two-phase incremental state
    ]
    for name in stateful:
        q[name](spark, "/root/testdata/sf0.001").collect()

    small = {
        name: q[name](spark, "/root/testdata/sf0.001").count()
        for name in stateful
    }
    large = {
        name: q[name](spark, "/root/testdata/sf0.01").count()
        for name in stateful
    }
    # battery/confusion shapes are fixed-size; row-level ones must grow
    assert large["model_build_star_revenue"] >= small["model_build_star_revenue"]
    assert 2 <= small["merge_upsert_orders"] <= large["merge_upsert_orders"] <= 4
    assert large["model_tests_violations"] == 9

    # value-level check: sf0.01 rerun of the star model equals a fresh
    # computation (no stale wl_src rows from the sf0.001 pass)
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.01/{t}.parquet'"
        )
    want = con.execute(
        entry_mod.oracle_sql()["model_build_star_revenue"]
    ).fetchall()
    got = [
        tuple(r)
        for r in q["model_build_star_revenue"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    ]
    assert len(got) == len(want)
    got_map = {r[0]: r[1] for r in got}
    for nation, n_orders, _rev in want:
        assert got_map[nation] == n_orders


#: deliberately rows-only (none since round 6: the last four
#: iterative workloads — BPE, unigram-LM, and the two PQ ops —
#: gained DuckDB recursive-CTE oracles; their non-SQL reference
#: parities in tests/ remain as second opinions)
ROWS_ONLY_OK: set[str] = set()


def test_all_workloads_have_oracles():
    """Every registry entry is oracle-paired (the strong correctness
    gate) — a new workload without an oracle should be a deliberate,
    visible decision (listed in ROWS_ONLY_OK with its alternative
    verification), not an accident."""
    from datanika_core_spark.workloads import load_all

    no_oracle = {n for n, wl in load_all().items() if not wl.oracle}
    assert no_oracle == ROWS_ONLY_OK


def test_auto_rotation_sinks_recorded_workloads(monkeypatch):
    """load_all must order unrecorded workloads first; a workload
    that gains a CORRECTNESS row in any round sinks below the ones
    still lacking evidence.

    Since round 6 every real workload carries a recorded row, so the
    test synthesizes the unrecorded state itself: it monkeypatches
    _recorded_names to EXCLUDE a handful of workloads, then records
    one of them and asserts it sinks below the still-unrecorded rest.
    """
    import datanika_core_spark.workloads as w

    all_names = list(w.load_all())
    assert len(all_names) >= 4
    # synthesize: the first three registry entries are "unrecorded"
    pool = set(all_names[:3])
    base = set(all_names) - pool

    monkeypatch.setattr(
        w, "_recorded_names", lambda: {n: 1 for n in base}
    )
    order_before = list(w.load_all())
    target = order_before[0]
    assert target in pool  # unrecorded entries lead the window

    # now the target earns a row: it must sink below the other two
    monkeypatch.setattr(
        w, "_recorded_names", lambda: {n: 1 for n in base | {target}}
    )
    order_after = list(w.load_all())
    assert order_after[0] != target
    assert target in order_after
    recorded = base | {target}
    first_unrecorded_block = [n for n in order_after
                              if n not in recorded]
    assert order_after[:len(first_unrecorded_block)] == first_unrecorded_block
    assert set(first_unrecorded_block) == pool - {target}


def test_auto_rotation_equal_evidence_keeps_registration_order(
    monkeypatch,
):
    """When the evidence backlog is empty (all workloads recorded —
    the real repo state since round 6) and all evidence is equally
    fresh, rotation is a no-op: the window follows REGISTRY
    registration order (the sort is stable)."""
    import datanika_core_spark.workloads as w

    all_names = set(w.load_all())
    monkeypatch.setattr(
        w, "_recorded_names", lambda: {n: 1 for n in all_names}
    )
    assert list(w.load_all()) == list(w.REGISTRY)


def test_auto_rotation_stalest_evidence_first(monkeypatch):
    """Within the recorded group, entries whose most recent passing
    CORRECTNESS row is OLDEST lead the window, so the 50-slot check
    window cycles through the whole registry over successive rounds
    instead of re-verifying the same recently-checked entries.
    Unrecorded entries still jump the whole queue."""
    import datanika_core_spark.workloads as w

    all_names = list(w.load_all())
    assert len(all_names) >= 4
    stale, fresh_a, fresh_b, unrecorded = all_names[:4]
    rounds = {n: 8 for n in all_names}
    rounds[stale] = 2
    rounds[fresh_a] = 8
    rounds[fresh_b] = 5
    del rounds[unrecorded]

    monkeypatch.setattr(w, "_recorded_names", lambda: dict(rounds))
    order = list(w.load_all())
    pos = {n: i for i, n in enumerate(order)}
    # unrecorded first, then oldest-evidence-first within recorded
    assert pos[unrecorded] == 0
    assert pos[stale] < pos[fresh_b] < pos[fresh_a]
    # recorded group is globally sorted by last-recorded round
    recorded_order = [n for n in order if n in rounds]
    assert [rounds[n] for n in recorded_order] == sorted(
        rounds[n] for n in recorded_order
    )


def test_recorded_names_returns_latest_passing_round():
    """_recorded_names reads the real CORRECTNESS_r*.json artifacts:
    every value is a positive round number no greater than the newest
    artifact on disk, and a name recorded in several rounds maps to
    the most recent one."""
    import re
    from pathlib import Path

    import datanika_core_spark.workloads as w

    rec = w._recorded_names()
    assert isinstance(rec, dict) and rec
    root = Path(w.__file__).resolve().parents[2]
    max_round = max(
        int(re.search(r"CORRECTNESS_r(\d+)\.json$", f.name).group(1))
        for f in root.glob("CORRECTNESS_r*.json")
    )
    assert all(0 < r <= max_round for r in rec.values())
    # spot-check recency: names in the newest artifact map to it
    import json

    newest = json.loads(
        (root / f"CORRECTNESS_r{max_round:02d}.json").read_text()
    )
    for name, row in newest.items():
        if isinstance(row, dict) and (
            row.get("err") is not None
            or row.get("hash_match") is False
            or row.get("rows_match") is False
            or row.get("schema_match") is False
        ):
            continue
        if name in rec:
            assert rec[name] == max_round
