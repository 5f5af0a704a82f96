"""operators/skyline.skyline_3d: exact parity with brute-force
dominance, the planted case the partition-and-merge shape exists for
(a point whose ONLY dominator lives in a different grid cell — the
local pass alone would wrongly keep it), degenerate single-cell
inputs, and plan hygiene (equi-joins only: no CartesianProduct, no
BroadcastNestedLoopJoin, no unbounded global window)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datanika_core_spark.operators.skyline import skyline_3d


def _brute(points):
    out = []
    for a in points:
        dominated = any(
            b[0] <= a[0] and b[1] <= a[1] and b[2] <= a[2]
            and (b[0] < a[0] or b[1] < a[1] or b[2] < a[2])
            for b in points
        )
        if not dominated:
            out.append(a)
    return sorted(out)


def _planted():
    # anti-chain base: d1 rises while d2 falls → no base point
    # dominates another
    base = [(float(i), float(2000 - i), 500.0) for i in range(0, 2000, 5)]
    a = (1800.0, 1500.0, 100.0)  # dominated by b and ONLY b
    b = (1000.0, 1400.0, 99.0)   # dominates nothing else; on skyline
    return base + [a, b], a, b


def test_matches_brute_force_with_cross_cell_dominator(spark):
    pts, a, b = _planted()
    df = spark.createDataFrame(pts, "d1 double, d2 double, d3 double")
    got = sorted(
        (r["d1"], r["d2"], r["d3"])
        for r in skyline_3d(df, "d1", "d2", "d3").collect()
    )
    want = _brute(pts)
    assert got == want
    assert a not in got and b in got
    # the planted pair spans cells on BOTH axes (same frozen-quantile
    # bucketing the operator uses), so a's only dominator is invisible
    # to the local pass — pruning it proves the cross-cell merge ran
    from datanika_core_spark.operators.ranking import quantile_boundaries

    b1, b2 = quantile_boundaries(df, ["d1", "d2"], n_parts=8)
    cell_a = (sum(x <= a[0] for x in b1), sum(x <= a[1] for x in b2))
    cell_b = (sum(x <= b[0] for x in b1), sum(x <= b[1] for x in b2))
    assert cell_a[0] != cell_b[0] and cell_a[1] != cell_b[1]


def test_extra_columns_ride_along_and_ties_kept(spark):
    # equal triples never dominate each other → both survive with
    # their payloads
    pts = [
        (1.0, 9.0, 5.0, "x"),
        (1.0, 9.0, 5.0, "y"),
        (2.0, 9.0, 5.0, "gone"),  # dominated by both above
        (0.5, 99.0, 99.0, "solo"),
    ]
    df = spark.createDataFrame(pts, "d1 double, d2 double, d3 double, tag string")
    got = sorted(r["tag"] for r in skyline_3d(df, "d1", "d2", "d3").collect())
    assert got == ["solo", "x", "y"]


def test_degenerate_single_cell_and_single_row(spark):
    # constant d1/d2 → empty boundaries → everything in cell (0, 0);
    # the local pass must carry the whole skyline alone
    pts = [(1.0, 1.0, float(v)) for v in (7, 3, 9, 3)]
    df = spark.createDataFrame(pts, "d1 double, d2 double, d3 double")
    got = sorted(
        (r["d1"], r["d2"], r["d3"])
        for r in skyline_3d(df, "d1", "d2", "d3").collect()
    )
    assert got == [(1.0, 1.0, 3.0), (1.0, 1.0, 3.0)]
    one = spark.createDataFrame(
        [(5.0, 5.0, 5.0)], "d1 double, d2 double, d3 double"
    )
    assert skyline_3d(one, "d1", "d2", "d3").count() == 1


def test_maximize_dim_via_negation(spark):
    # minimize d1, maximize d3 (as -d3): (1, 1, 10) beats (1, 1, 2)
    pts = [(1.0, 1.0, 10.0), (1.0, 1.0, 2.0), (0.5, 1.0, 1.0)]
    df = spark.createDataFrame(
        pts, "d1 double, d2 double, v double"
    ).withColumn("d3", -F.col("v"))
    got = sorted(
        (r["d1"], r["d2"], r["v"])
        for r in skyline_3d(df, "d1", "d2", "d3").collect()
    )
    assert got == [(0.5, 1.0, 1.0), (1.0, 1.0, 10.0)]


def test_plan_is_equi_join_only(spark):
    pts, _, _ = _planted()
    df = spark.createDataFrame(pts, "d1 double, d2 double, d3 double")
    sky = skyline_3d(df, "d1", "d2", "d3")
    plan = sky._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    from tools.plan_audit import unbounded_global_windows

    assert unbounded_global_windows(sky) == 0


# -- round 11: skyline_grid at d = 4 ----------------------------------------

def _brute_nd(points):
    out = []
    for a in points:
        dominated = any(
            all(b[i] <= a[i] for i in range(len(a)))
            and any(b[i] < a[i] for i in range(len(a)))
            for b in points
        )
        if not dominated:
            out.append(a)
    return sorted(out)


def test_grid_d4_matches_brute_force_seeded(spark):
    """skyline_grid at d = 4 == brute-force dominance on a seeded
    pseudo-random point cloud (deterministic LCG — no RNG in tests),
    including duplicate-coordinate collisions on the bucketed axes."""
    from datanika_core_spark.operators.skyline import skyline_grid

    x = 1234567
    pts, seen = [], set()
    for _ in range(300):
        row = []
        for _ in range(4):
            x = (x * 48271) % (2 ** 31 - 1)
            row.append(float(x % 40))  # coarse -> many collisions
        tpl = tuple(row)
        if tpl not in seen:  # grid must be DISTINCT on dims
            seen.add(tpl)
            pts.append(tpl)
    df = spark.createDataFrame(
        pts, "d1 double, d2 double, d3 double, d4 double"
    )
    got = sorted(
        tuple(r[d] for d in ("d1", "d2", "d3", "d4"))
        for r in skyline_grid(df, ("d1", "d2", "d3", "d4")).collect()
    )
    assert got == _brute_nd(pts)


def test_grid_d4_is_superset_of_d3(spark):
    """Adding a dim can only UN-dominate points: the d = 3 skyline of
    the planted cloud is a subset of its d = 4 skyline (with the
    extra dim constant the sets are equal; with it varying the d = 4
    set can only grow). Pins the wiring: d3-vs-d4 must differ only in
    the dims tuple."""
    from datanika_core_spark.operators.skyline import skyline_grid

    pts, a, b = _planted()
    pts4 = [(d1, d2, d3, float((int(d1) * 7) % 11)) for d1, d2, d3 in pts]
    df = spark.createDataFrame(
        pts4, "d1 double, d2 double, d3 double, d4 double"
    )
    sky3 = {
        (r["d1"], r["d2"], r["d3"])
        for r in skyline_3d(
            df.select("d1", "d2", "d3").distinct(), "d1", "d2", "d3"
        ).collect()
    }
    sky4 = {
        (r["d1"], r["d2"], r["d3"])
        for r in skyline_grid(df, ("d1", "d2", "d3", "d4")).collect()
    }
    assert sky3 <= sky4
