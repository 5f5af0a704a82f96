"""Distributed d>2 skyline — grid partition-and-merge.

The 2-D skyline is a special case: sort by (d1, d2) and keep rows
whose d2 beats the exclusive running min (core_sql.py::
skyline_price_size_parts runs that via ranking.global_prefix_min).
From d=3 up no single total order linearizes dominance, so the
classic distributed shape (Börzsönyi 2001's block-nested-loop made
scale-safe) is partition-and-merge:

1. collapse to the DISTINCT point grid (equal points never dominate
   each other) — one corpus-wide groupBy, the only full shuffle;
2. cut the (d1, d2) plane into G×G cells along frozen quantile
   boundaries (ranking.quantile_boundaries — ONE approxQuantile
   pass for both axes). Bucket ids are monotone in their dim, so a
   dominator's cell is always ≤ the dominated point's cell on both
   axes — the property every later step leans on;
3. CELL-LEVEL PRUNE on the ≤G² per-cell min/max corner summary: a
   cell whose min corner is strictly dominated by another cell's
   max corner on ALL dims cannot contain any skyline point and is
   dropped wholesale before any per-point work (O(G⁴) driver
   arithmetic on O(G²) collected rows — bounded driver state, same
   budget as the ranking offsets);
4. LOCAL skyline per surviving cell: a left_anti self-join whose
   EQUI keys are the cell ids — each cell only compares within
   itself, so the quadratic factor is (corpus / G²)², not corpus²;
5. CROSS-CELL merge: a local-skyline point must also survive the
   local-skyline points of every cell ≤ it on both axes. The
   candidate cell pairs are enumerated driver-side from the pruned
   summary (≤G⁴ pairs, pair kept only when the dominator cell's min
   corner can reach the target cell's max corner) and joined as a
   broadcast pair table — EQUI joins end to end; no
   BroadcastNestedLoopJoin, no CartesianProduct, ever.

Exactness: dominance is a strict partial order on the distinct
grid, so every dominated point is dominated by some MAXIMAL
(skyline) point; skyline points always survive step 4, and step 5
checks each survivor against a superset of the skyline points able
to dominate it (their cells are ≤ on both axes by monotonicity).
Hence the result is exactly the set of non-dominated points.

All dims MINIMIZE and must be non-null; pass ``-F.col(c)`` (negated)
for a maximize dim, as SQL skylines conventionally do.

100 TB shape: the grid groupBy is the only corpus shuffle; cells are
quantile-balanced so the per-cell quadratic is (N/G²)² per cell —
pick G ~ N^(1/3) to keep cells near-linear; local skylines are tiny
(O(log² n) expected for independent dims), so the broadcast pair
table stays kilobytes even when the grid does not fit on one node.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_C1 = "_sk_c1"
_C2 = "_sk_c2"


def _cell(col: Column, bounds: list[float]) -> Column:
    """#(boundaries <= value), as a plain CASE-WHEN sum. Deliberately
    NOT the higher-order F.filter(F.array(...), lambda) the ranking
    module uses: a lambda variable's exprId survives DeduplicateRelations
    un-remapped, so a self-join over a frame carrying that expression
    dies at runtime binding (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) when
    Catalyst pushes the derived predicate into the deduplicated
    branch — and skyline_3d self-joins its cell frame twice."""
    if not bounds:
        return F.lit(0)
    acc: Column | None = None
    for b in bounds:
        term = F.when(F.lit(float(b)) <= col.cast("double"), 1).otherwise(0)
        acc = term if acc is None else acc + term
    return acc


def skyline_3d(
    grid: DataFrame,
    d1: str,
    d2: str,
    d3: str,
    cells_per_dim: int = 8,
) -> DataFrame:
    """The non-dominated rows of ``grid`` under minimize-all
    dominance on (d1, d2, d3) — see skyline_grid (this is the d = 3
    instance; the machinery is dimension-agnostic past the two
    bucketed axes)."""
    return skyline_grid(grid, (d1, d2, d3), cells_per_dim)


def skyline_grid(
    grid: DataFrame,
    dims: tuple[str, ...],
    cells_per_dim: int = 8,
) -> DataFrame:
    """The non-dominated rows of ``grid`` under minimize-all
    dominance on ``dims`` (d >= 3): no other row ≤ on every dim and
    < on at least one. ``grid`` must be DISTINCT on the dims (group
    first — equal points never dominate each other) with non-null
    numeric dims; extra columns ride along.

    Only the FIRST TWO dims are bucketed into grid cells (that is
    what makes a dominator's cell ≤ the dominated point's cell —
    the monotonicity every pruning step leans on); the corner-summary
    prune, the pair-reachability test and the dominance predicate
    range over ALL dims, so extra dims cost one min/max pair in the
    O(G²) summary and one comparison per probe — the exactness
    argument in the module docstring never mentions d."""
    from datanika_core_spark.operators.ranking import quantile_boundaries

    assert len(dims) >= 3, "use the 2-D prefix-min identity below d=3"
    spark = grid.sparkSession
    d1, d2 = dims[0], dims[1]
    nd = len(dims)
    b1, b2 = quantile_boundaries(grid, [d1, d2], n_parts=cells_per_dim)
    cells = grid.withColumn(_C1, _cell(F.col(d1), b1)).withColumn(
        _C2, _cell(F.col(d2), b2)
    )
    summ = (
        cells.groupBy(_C1, _C2)
        .agg(
            *[F.min(d).alias(f"n{i}") for i, d in enumerate(dims, 1)],
            *[F.max(d).alias(f"x{i}") for i, d in enumerate(dims, 1)],
        )
        .collect()  # bound: ≤ cells_per_dim² rows of driver state
    )
    rng = range(1, nd + 1)
    # step 3: drop cells entirely dominated by another cell's corner
    live = [
        a for a in summ
        if not any(
            all(b[f"x{i}"] < a[f"n{i}"] for i in rng) for b in summ
        )
    ]
    by_cell = {(a[_C1], a[_C2]): a for a in live}
    # step 5's candidate pairs: (target cell a, dominator cell b≠a)
    # with b ≤ a on both axes and b's min corner able to reach a's
    # max corner (otherwise nothing in b can dominate anything in a)
    pairs = [
        (a[_C1], a[_C2], b[_C1], b[_C2])
        for a in live
        for b in live
        if (b[_C1], b[_C2]) != (a[_C1], a[_C2])
        and b[_C1] <= a[_C1] and b[_C2] <= a[_C2]
        and all(b[f"n{i}"] <= a[f"x{i}"] for i in rng)
    ]
    live_df = spark.createDataFrame(
        [(c1, c2) for (c1, c2) in by_cell], f"{_C1} int, {_C2} int"
    )
    # bound: <= G^2 live grid cells, driver-built
    cells = cells.join(F.broadcast(live_df), [_C1, _C2], "left_semi")

    def dom(ap: str, bp: str) -> Column:
        """b (qualified ``bp.``/renamed ``_b_``) dominates a."""
        def b(d):
            return F.col(f"{bp}.{d}") if bp else F.col(f"_b_{d}")

        le = [b(d) <= F.col(f"{ap}.{d}") for d in dims]
        lt = [b(d) < F.col(f"{ap}.{d}") for d in dims]
        acc_le, acc_lt = le[0], lt[0]
        for i in range(1, nd):
            acc_le, acc_lt = acc_le & le[i], acc_lt | lt[i]
        return acc_le & acc_lt

    # step 4: local skyline — self anti-join whose EQUI keys are the
    # cell ids (alias-qualified refs: the sides share lineage)
    local = cells.alias("ska").join(
        cells.alias("skb"),
        (F.col(f"ska.{_C1}") == F.col(f"skb.{_C1}"))
        & (F.col(f"ska.{_C2}") == F.col(f"skb.{_C2}"))
        & dom("ska", "skb"),
        "left_anti",
    )
    if pairs:
        pair_df = spark.createDataFrame(
            pairs, "ac1 int, ac2 int, bc1 int, bc2 int"
        )
        threats = pair_df.join(
            local.select(
                F.col(_C1).alias("bc1"), F.col(_C2).alias("bc2"),
                *[F.col(d).alias(f"_b_{d}") for d in dims],
            ),
            ["bc1", "bc2"],
        ).select("ac1", "ac2", *[f"_b_{d}" for d in dims])
        # step 5: cross-cell merge — equi-join on the target cell id
        local = local.alias("ska").join(
            # bound: skyline rows x cell pairs; plan changes without it
            F.broadcast(threats),
            (F.col(f"ska.{_C1}") == F.col("ac1"))
            & (F.col(f"ska.{_C2}") == F.col("ac2"))
            & dom("ska", ""),
            "left_anti",
        )
    return local.drop(_C1, _C2)
