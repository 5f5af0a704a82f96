"""Graph analytics over event streams (beyond-reference, SURVEY.md §7
Phase 4): weighted PageRank on the event-type transition graph.

The two halves have opposite scale profiles, which is the point:

- **Edge extraction is the heavy, distributed half**: consecutive
  event pairs per user via a lag window (one shuffle on user_id — the
  same partitioning sessionization uses), filtered to a 30-minute
  gap, then reduced to (src, dst, weight) transition counts with
  map-side combine. At 100 TB this is the whole cost.
- **The iterative solve runs on the reduced graph**: transition
  matrices over type-level (or domain-level, topic-level, …)
  vocabularies are sketch-sized grids (|types|² rows — metadata, not
  data), so the three PageRank iterations value-iterate on the
  COLLECTED grid driver-side (r12; the markov_conversion_horizon
  precedent). For billion-node graphs (user-level vocabularies) the
  rank vector is corpus-sized and the solve becomes broadcast/bucketed
  joins per round — keyword_textrank keeps that distributed-loop
  shape in-registry (join rank onto edges on src, aggregate
  contributions by dst).

Determinism: ranks are doubles but every per-node contribution sum
has ≤ |V| terms with both engines using the same formula text; the
6-dp output rounding absorbs summation-order drift (same policy as
every float aggregate in the corpus). Dangling-node mass is
redistributed uniformly, exactly as in the canonical formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.blocks import RollingCheckpoint
from datanika_core_spark.session import bounded_collect
from datanika_core_spark.workloads import t, workload

_PR_D = 0.85     # damping
_PR_ITERS = 3
_PR_GAP_MIN = 30
#: driver-collect bounds of the event-type state grids (PageRank,
#: conversion horizon, removal attribution): states are the
#: event-type vocabulary, edges at most its square
GRID_MAX_STATES = 1_000
GRID_MAX_EDGES = GRID_MAX_STATES ** 2


def _o_pr_iter(prev: str, idx: int) -> str:
    """One PageRank iteration as DuckDB CTE text: contributions from
    `prev` joined onto edges, dangling mass from no-out-edge nodes,
    uniform teleport."""
    return f"""
dang{idx} AS (
  SELECT coalesce(sum(p.pr), 0.0) AS dmass
  FROM {prev} p LEFT JOIN outw o ON p.node = o.src
  WHERE o.src IS NULL
),
contrib{idx} AS (
  SELECT e.dst AS node, sum(p.pr * e.w / o.total_w) AS c
  FROM edges e
  JOIN {prev} p ON p.node = e.src
  JOIN outw o ON o.src = e.src
  GROUP BY e.dst
),
pr{idx} AS (
  SELECT n.node,
         (1.0 - {_PR_D}) / nn.n
         + {_PR_D} * (coalesce(c.c, 0.0) + d.dmass / nn.n) AS pr
  FROM nodes n
  CROSS JOIN nn CROSS JOIN dang{idx} d
  LEFT JOIN contrib{idx} c ON c.node = n.node
)"""


_O_PR_CHAIN = ",".join(
    _o_pr_iter(f"pr{i - 1}" if i > 1 else "pr0", i)
    for i in range(1, _PR_ITERS + 1)
)


@workload(
    "pagerank_event_transitions",
    headline=True,
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
),
edges AS (
  SELECT prev_type AS src, event_type AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM seq
  WHERE prev_type IS NOT NULL
    AND ts <= prev_ts + INTERVAL {_PR_GAP_MIN} MINUTE
  GROUP BY prev_type, event_type
),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS total_w
         FROM edges GROUP BY src),
pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
{_O_PR_CHAIN}
SELECT node AS event_type, round(pr, 6) AS pagerank
FROM pr{_PR_ITERS}
ORDER BY event_type
""",
)
def pagerank_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, 3 iterations, dangling mass
    redistributed) over the session-gap event-type transition graph.
    Edge extraction = ONE user_id shuffle + lag window + counted
    groupBy (the corpus-scale half, unchanged); the iterative solve
    VALUE-ITERATES ON THE COLLECTED |types|² GRID driver-side.

    r12 decision (the r11 verdict's open trade): the rank vector
    lives on the distinct event-TYPE vocabulary, so the reduced graph
    is a sketch-sized grid (|V| ≈ tens, |E| ≤ |V|² — metadata, not
    data), exactly the class markov_conversion_horizon and
    attribution_markov_removal already value-iterate driver-side.
    The distributed form spent ~45% of its wall-clock running 3 ×
    (4 broadcast builds + join/agg jobs + a RollingCheckpoint) over
    ≤|V|-row frames — pure scheduling overhead at any scale, because
    the frames cannot grow with the corpus (measured 3.03 s → 1.88 s
    median at sf0.1, same session; the lag-window half is the
    remaining cost). The no-collect distributed-loop demonstration
    this forfeits is retained in-registry by keyword_textrank (same
    recurrence, token-vocabulary graph) and graph_khop_reach. For
    billion-NODE graphs (user-level, not type-level) the rank vector
    is corpus-sized and the broadcast-join loop comes back — that
    variant keys the join on src and aggregates by dst with the rank
    vector as a bucketed table, as before.

    Determinism: contributions are summed in sorted (src, dst) order
    driver-side; each node's sum has ≤|V| terms and the 6-dp output
    rounding (applied IN SPARK, same F.round as before) absorbs
    summation-order drift exactly as it did for the distributed
    form vs DuckDB."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    edges = (
        seq.filter(
            F.col("prev_type").isNotNull()
            & (F.col("ts") <= F.col("prev_ts")
               + F.expr(f"INTERVAL {_PR_GAP_MIN} MINUTES"))
        )
        .groupBy(F.col("prev_type").alias("src"),
                 F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    # ONE distinct-types pass piggybacks the node vocabulary onto the
    # same scan shape; both collects are |types|-bounded readouts.
    node_list = sorted(
        r["node"]
        for r in bounded_collect(
            ev.select(F.col("event_type").alias("node")).distinct(),
            GRID_MAX_STATES, "pagerank node list",
        )
    )
    edge_rows = sorted(
        (r["src"], r["dst"], r["w"])
        for r in bounded_collect(edges, GRID_MAX_EDGES, "pagerank edge grid")
    )
    n = len(node_list)
    if n == 0:
        return spark.createDataFrame(
            [], "event_type string, pagerank double"
        )

    total_w: dict[str, int] = {}
    for src, _dst, wgt in edge_rows:
        total_w[src] = total_w.get(src, 0) + wgt

    pr = {v: 1.0 / float(n) for v in node_list}
    for _ in range(_PR_ITERS):
        dmass = sum(pr[v] for v in node_list if v not in total_w)
        contrib: dict[str, float] = {}
        for src, dst, wgt in edge_rows:
            contrib[dst] = contrib.get(dst, 0.0) + (
                pr[src] * wgt / total_w[src]
            )
        # identical parenthesization to the old Spark expression:
        # (1-d)/n + d * (c + dmass/n)
        pr = {
            v: (1.0 - _PR_D) / n
            + _PR_D * (contrib.get(v, 0.0) + dmass / float(n))
            for v in node_list
        }
    out = spark.createDataFrame(
        [(v, pr[v]) for v in node_list],
        "event_type string, pagerank double",
    )
    return out.select(
        "event_type", F.round("pagerank", 6).alias("pagerank")
    ).orderBy("event_type")


@workload(
    "markov_next_event",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
),
edges AS (
  SELECT prev_type AS src, event_type AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM seq
  WHERE prev_type IS NOT NULL
    AND ts <= prev_ts + INTERVAL {_PR_GAP_MIN} MINUTE
  GROUP BY prev_type, event_type
),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS total_w
         FROM edges GROUP BY src)
SELECT e.src, e.dst, e.w,
       round(e.w * 1.0 / o.total_w, 6) AS p,
       CAST(row_number() OVER (PARTITION BY e.src
                               ORDER BY e.w DESC, e.dst) AS BIGINT)
         AS rank_within_src
FROM edges e JOIN outw o USING (src)
ORDER BY src, rank_within_src
""",
)
def markov_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event table: P(dst | src) over the
    same session-gap transition edges PageRank consumes, with each
    source's successors ranked by probability — the "what does a
    user do next" readout. The heavy half is the one lag-window
    shuffle; the conditional table is a tiny grouped division."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    edges = (
        seq.filter(
            F.col("prev_type").isNotNull()
            & (F.col("ts") <= F.col("prev_ts")
               + F.expr(f"INTERVAL {_PR_GAP_MIN} MINUTES"))
        )
        .groupBy(F.col("prev_type").alias("src"),
                 F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    outw = edges.groupBy("src").agg(
        F.sum("w").cast("bigint").alias("total_w")
    )
    wr = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    return (
        edges.join(F.broadcast(outw), "src")  # bound: <= |event_type| rows
        .select(
            "src", "dst", "w",
            F.round(F.col("w") * 1.0 / F.col("total_w"), 6).alias("p"),
            F.row_number().over(wr).cast("bigint")
            .alias("rank_within_src"),
        )
        .orderBy("src", "rank_within_src")
    )


# --------------------------------------------------------------------------
# Triangle counting with degree-ordered orientation (co-order part graph).
# --------------------------------------------------------------------------


@workload(
    "graph_triangle_count",
    headline=True,
    oracle="""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
wedges AS (
  SELECT o1.src,
         least(o1.dst, o2.dst) AS a,
         greatest(o1.dst, o2.dst) AS b
  FROM oriented o1 JOIN oriented o2
    ON o1.src = o2.src AND o1.dst < o2.dst
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges w JOIN edges e ON e.u = w.a AND e.v = w.b
),
open_triads AS (
  SELECT sum(d * (d - 1) / 2) AS n_wedges FROM deg
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(t.n_triangles AS BIGINT) AS n_triangles,
       CAST(o.n_wedges AS BIGINT) AS n_wedges,
       ROUND(3.0 * t.n_triangles / o.n_wedges, 6) AS transitivity
FROM tri t, open_triads o
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global transitivity on the co-purchase
    part graph (parts are adjacent iff some order contains both).
    The scale-critical trick is DEGREE-ORDERED ORIENTATION: every
    undirected edge points from its lower-(degree, id) endpoint to
    the higher one, which caps every node's OUT-degree at O(sqrt(m))
    even for the hub that co-occurs with everything (Suri &
    Vassilvitskii 2011; Chiba–Nishizeki). Counting then runs
    COMPACT-FORWARD (Latapy 2008): group the oriented edges into
    per-node out-neighbor arrays and, for each oriented edge (u, v),
    count |N⁺(u) ∩ N⁺(v)| — each triangle {u, v, w} is found exactly
    once, at its unique oriented edge whose two endpoints both point
    at the third vertex. Transitivity = 3·triangles / Σ C(d,2),
    integer until the final ratio.

    Optimization history (r11, guide §2.3/§2.4): this replaced the
    wedge-enumeration formulation (self-join oriented edges on src →
    Σ C(d⁺,2) candidate rows → hash-join the wedge stream against a
    broadcast/AQE closure edge list). Compact-forward does the same
    pigeonhole work as ARRAY INTERSECTIONS inside one codegen stage:
    the Σ C(d⁺,2)-row wedge stream is never materialized, never
    shuffled, and the closure probe — previously a broadcast of the
    FULL edge list gated on an eagerly-computed pair bound (an extra
    lineitem scan per call) — disappears along with its OOM ceiling.
    Measured at sf0.1 (3-rep medians, noop sink): 8.6 s → 5.3 s;
    the eager first-row gate is gone so plan-only consumers no
    longer execute a scan. Exactness pinned by the unchanged DuckDB
    oracle (wedge-based) and tests/test_triangle_methods.py.

    Scale: the bipartite projection (lineitem self-join on orderkey)
    shuffles on the natural key orders already cluster by; degrees
    attach via two joins on node id; the adjacency frame is |V| rows
    of orientation-bounded arrays (total payload = m entries — the
    edge list itself, node-keyed); the intersection work is
    Σ_(u,v)∈E (d⁺(u) + d⁺(v)) ≤ 2m·sqrt(m), the Chiba–Nishizeki
    bound. All joins are equi-joins — no cartesian anywhere."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    # edges feeds three plan branches (degree via the union,
    # orientation, the edge count). Deliberately NOT materialized:
    # recompute across idle cores beats .cache() (measured on the r10
    # wedge shape: 6.2 s vs 14.6 s at sf0.1 — columnar cache
    # materialization serializes the branches), AQE reuses the
    # distinct's shuffle stage across branches at runtime, and an
    # eager localCheckpoint re-measured on THIS compact-forward shape
    # is a wash (5.37 s vs 5.32 s medians) while its persisted blocks
    # outlive the returned frame and accumulate across invocations in
    # one session — three repeat runs OOM'd a default-heap driver
    # before the ContextCleaner could free them (r10 measurement).
    # At corpus scale persist the edge list as a bucketed-by-u table
    # instead.
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u_n"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v_n"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, F.col("u") == F.col("u_n"))
        .join(dv, F.col("v") == F.col("v_n"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    # Compact-forward kernel: per-node oriented adjacency arrays
    # (row count |V|, total payload m entries — node-keyed and
    # orientation-bounded, so no single row exceeds O(sqrt(m))
    # elements), then one intersection per oriented edge. The edge
    # whose dst has no out-neighbors closes no triangle, so the
    # second attach is an INNER join — dropped rows contribute 0.
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nb"))
    au = adj.select(F.col("src").alias("a_u"), F.col("nb").alias("nb_u"))
    av = adj.select(F.col("src").alias("a_v"), F.col("nb").alias("nb_v"))
    tri = (
        oriented.join(au, F.col("src") == F.col("a_u"))
        .join(av, F.col("dst") == F.col("a_v"))
        .select(F.size(F.array_intersect("nb_u", "nb_v")).alias("c"))
        .agg(
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles")
        )
    )
    open_triads = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    counts = edges.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return (
        counts.crossJoin(tri)
        .crossJoin(open_triads)
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            "n_wedges",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("transitivity"),
        )
    )


# --------------------------------------------------------------------------
# Market-basket association mining (support / confidence / lift).
# --------------------------------------------------------------------------

_MB_MINPAIR = 2
_MB_TOPK = 25


@workload(
    "market_basket_lift",
    oracle=f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_tot AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM op
),
item AS (
  SELECT l_partkey AS p, count(*) AS n_item FROM op GROUP BY p
),
pair AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n_pair
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
)
SELECT u AS part_a, v AS part_b,
       CAST(n_pair AS BIGINT) AS n_pair,
       CAST(iu.n_item AS BIGINT) AS n_a,
       CAST(iv.n_item AS BIGINT) AS n_b,
       ROUND(n_pair * 1.0 / t.n_orders, 6) AS support,
       ROUND(n_pair * 1.0 / iu.n_item, 6) AS confidence,
       ROUND(n_pair * 1.0 * t.n_orders / (iu.n_item * iv.n_item), 6)
         AS lift
FROM pair
JOIN item iu ON iu.p = u
JOIN item iv ON iv.p = v
CROSS JOIN n_tot t
WHERE n_pair >= {_MB_MINPAIR}
ORDER BY lift DESC, part_a, part_b
LIMIT {_MB_TOPK}
""",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-2 association mining over order baskets: for every part
    pair co-ordered at least {_MB_MINPAIR} times, support
    (P(u,v)), confidence (P(v|u)) and lift
    (P(u,v)/(P(u)P(v))) — the classic market-basket triple, ranked
    by lift so the top rows are the pairs whose co-occurrence most
    exceeds independence. Counts are exact integers; the three
    ratios round at 6 dp and the ORDER BY uses the ROUNDED lift
    with a (part_a, part_b) tiebreak so the top-k set is identical
    on both engines (the rounded-alias-ORDER-BY convention).

    Scale: the basket projection (distinct order×part) and the
    pair self-join shuffle on l_orderkey — the key the fact table
    is naturally clustered by; per-item supports attach by part id
    (broadcastable: |parts| ≪ |lineitem|). The n_pair >= k filter
    applies BEFORE the metric joins, so the wide lift computation
    only sees pairs that can rank — Apriori's support-monotonicity
    shortcut in plan form."""
    li = t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_tot = op.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    item = op.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _MB_MINPAIR)
    )
    iu = item.select(F.col("p").alias("pu"), F.col("n_item").alias("n_a"))
    iv = item.select(F.col("p").alias("pv"), F.col("n_item").alias("n_b"))
    return (
        pair.join(iu, F.col("u") == F.col("pu"))
        .join(iv, F.col("v") == F.col("pv"))
        .crossJoin(n_tot)
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(F.col("n_pair") * 1.0 / F.col("n_orders"), 6)
            .alias("support"),
            F.round(F.col("n_pair") * 1.0 / F.col("n_a"), 6)
            .alias("confidence"),
            F.round(
                F.col("n_pair") * 1.0 * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(_MB_TOPK)
    )


# --------------------------------------------------------------------------
# DOULION: edge-sampled approximate triangle count (Tsourakakis 2009).
# --------------------------------------------------------------------------

_DLN_MOD = 4  # keep an edge iff hash % 4 == 0  ->  p = 1/4, 1/p^3 = 64
# Deterministic edge coin: two multiplicative-LCG rounds mod the
# Mersenne prime 2^31-1, written identically in Spark and DuckDB.
# Every intermediate stays < 2^48, so BIGINT arithmetic is exact in
# both engines (no overflow, no md5 — measured ~1.4 s cheaper than
# the md5/conv hash over the sf0.1 pair stream, which matters in a
# map-side predicate evaluated per candidate pair). An LCG is a
# weaker mixer than md5; for a self-measuring estimator whose error
# is reported per run and pinned against the exact count in
# tests/test_doulion.py, spread mod 4 is all that's needed.
_DLN_P = 2**31 - 1
_DLN_COIN = (
    f"(((u % {_DLN_P}) * 48271 + v) % {_DLN_P} * 69621)"
    f" % {_DLN_P} % {_DLN_MOD}"
)


@workload(
    "graph_triangle_doulion",
    headline=True,
    oracle=f"""
WITH sampled AS (
  SELECT DISTINCT u, v FROM (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  ) WHERE {_DLN_COIN} = 0
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM sampled UNION ALL SELECT v AS node FROM sampled
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
  FROM sampled e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
wedges AS (
  SELECT o1.src,
         least(o1.dst, o2.dst) AS a,
         greatest(o1.dst, o2.dst) AS b
  FROM oriented o1 JOIN oriented o2
    ON o1.src = o2.src AND o1.dst < o2.dst
),
tri_rows AS (
  SELECT w.src, w.a, w.b FROM wedges w
  JOIN sampled e ON e.u = w.a AND e.v = w.b
),
tri_edges AS (
  SELECT least(src, a) AS eu, greatest(src, a) AS ev FROM tri_rows
  UNION ALL
  SELECT least(src, b), greatest(src, b) FROM tri_rows
  UNION ALL
  SELECT a, b FROM tri_rows
),
shared AS (
  SELECT COALESCE(sum(c * (c - 1) / 2), 0) AS ks
  FROM (SELECT count(*) AS c FROM tri_edges GROUP BY eu, ev)
),
tri AS (SELECT count(*) AS n FROM tri_rows)
SELECT CAST((SELECT count(*) FROM sampled) AS BIGINT) AS n_edges_sampled,
       CAST(t.n AS BIGINT) AS tri_sampled,
       CAST(t.n * 64 AS BIGINT) AS est_triangles,
       ROUND(CASE WHEN t.n = 0 THEN 1.0
                  ELSE sqrt(4032.0 * t.n + 6144.0 * s.ks) / (t.n * 64)
             END, 6) AS rel_stderr_bound
FROM tri t, shared s
""",
)
def graph_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION approximate triangle count (Tsourakakis et al., KDD
    2009): sparsify the co-purchase graph by keeping each edge with
    probability p = 1/4, run the SAME degree-ordered exact count on
    the sparsified graph, and scale by 1/p³ = 64 — an unbiased
    estimator whose heavy step (wedge enumeration) shrinks by ~p², so
    this line costs a fraction of graph_triangle_count's exact pass
    (measured at sf0.1 r11: exact 1 884 488 triangles — re-verified
    against the DuckDB oracle in r11; the 1 877 975 figure earlier
    docstring revisions quoted was stale/incorrect, NOT a behavior
    change from the compact-forward kernel rewrite — in ~5.3 s
    post-compact-forward; this estimate within ~1.6% at ~2.6 s warm;
    r11 re-measured the compact-forward kernel here too — 2.62 s →
    2.49 s, inside noise, because the sampled wedge stage is already
    p²-shrunk and the cost is the full-pair-stream distinct, so the
    wedge shape stays). Sampling is a DETERMINISTIC
    integer coin (two LCG rounds mod 2^31-1 over (u, v) — see
    _DLN_COIN for the overflow-exactness argument), so both engines
    sparsify identically and the driver hash-compare is exact; the
    scale-up by 64 stays in BIGINT. The coin is applied BEFORE the
    distinct, so the only full-pair-stream shuffle processes ~p of
    the pairs and the full graph is never materialized.

    Self-measuring (the KMV/CMS convention): ``rel_stderr_bound``
    reports the FULL DOULION standard error sqrt(T(1/p³−1) +
    2k(1−p)/p)/T (Tsourakakis' variance), with both terms estimated
    from the sample itself: T̂ = 64·t and the shared-edge-pairs
    count k̂ = 1024·Σ C(c_e, 2) over per-edge sampled-triangle
    counts c_e. The covariance term DOMINATES on dense small graphs
    — on the sf0.001 graph the independence-only leading term says
    ~2.5% while the true error is ~20%; the full bound is honest.
    tests/test_doulion.py pins the estimate against the exact count
    within 5 reported bounds at all three SFs.

    Scale: strictly dominated by graph_triangle_count's plan — same
    equi-joins on a graph with ~p·m edges and ~p²·wedges; the
    sampling predicate is map-side in the scan. Use when the graph
    outgrows the exact pass's wedge budget and ±a-few-% is fine;
    the exact workload remains the oracle of record."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    coin = F.expr(_DLN_COIN)
    # the coin depends only on (u, v), so it commutes with DISTINCT —
    # applying it BEFORE the dedup shuffle means the distinct (the
    # only full-pair-stream shuffle in the plan) processes ~p of the
    # pair stream; the full graph is never materialized (that's the
    # point of DOULION — the exact workload keeps the full-graph
    # n_edges/n_wedges accounting)
    sampled = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .filter(coin == 0)
        .select("u", "v")
        .distinct()
        # ~p·m rows feed FOUR branches (degrees, orientation, the
        # closure broadcast, the count); unlike the exact workload's
        # full edge list (where no-cache measured faster), the
        # sampled list is small enough that materializing once wins
        .localCheckpoint(eager=True)
    )
    deg = (
        sampled.select(F.col("u").alias("node"))
        .unionAll(sampled.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u_n"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v_n"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        sampled.join(du, F.col("u") == F.col("u_n"))
        .join(dv, F.col("v") == F.col("v_n"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select(F.col("src").alias("src2"), F.col("dst").alias("d2"))
    wedges = (
        o1.join(o2, (F.col("src") == F.col("src2")) & (F.col("d1") < F.col("d2")))
        .select(
            "src",
            F.least("d1", "d2").alias("a"),
            F.greatest("d1", "d2").alias("b"),
        )
    )
    # keep the sampled triangles AS ROWS (p^3·T of them — tiny): the
    # variance's shared-edge term needs per-edge triangle counts.
    # Broadcasting `sampled` here is safe at any corpus scale the
    # operator is meant for: its size is p·m by construction, and p
    # is the knob you lower as m grows (DOULION's whole point) — at
    # a fixed ~10^6-edge sample budget the broadcast stays ~16 MB.
    tri_rows = wedges.join(
        # bound: p*|E| sample; without it the eager sample job
        # sort-merge joins
        F.broadcast(sampled),
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
    ).select("src", "a", "b").localCheckpoint(eager=True)
    tri_edges = tri_rows.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("src", "a").alias("eu"),
                    F.greatest("src", "a").alias("ev"),
                ),
                F.struct(
                    F.least("src", "b").alias("eu"),
                    F.greatest("src", "b").alias("ev"),
                ),
                F.struct(
                    F.col("a").alias("eu"), F.col("b").alias("ev")
                ),
            )
        ).alias("e")
    ).select("e.eu", "e.ev")
    shared = (
        tri_edges.groupBy("eu", "ev")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0.0)
            ).alias("ks")
        )
    )
    tri = tri_rows.agg(F.count(F.lit(1)).alias("n"))
    counts = sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges_sampled")
    )
    return counts.crossJoin(tri).crossJoin(shared).select(
        "n_edges_sampled",
        F.col("n").cast("bigint").alias("tri_sampled"),
        (F.col("n") * 64).cast("bigint").alias("est_triangles"),
        F.round(
            F.when(F.col("n") == 0, F.lit(1.0)).otherwise(
                F.sqrt(
                    F.lit(4032.0) * F.col("n")
                    + F.lit(6144.0) * F.col("ks")
                )
                / (F.col("n") * 64)
            ),
            6,
        ).alias("rel_stderr_bound"),
    )


# --------------------------------------------------------------------------
# DOULION multi-p: nested sub-sampling, two estimates from ONE pass.
# --------------------------------------------------------------------------


def _dln_coin16(u: str, v: str) -> str:
    """The DOULION LCG coin mod 16 over arbitrary column expressions
    (same two-round LCG as _DLN_COIN; all intermediates < 2^48 so
    BIGINT arithmetic is exact in both engines)."""
    return (
        f"((({u} % {_DLN_P}) * 48271 + {v}) % {_DLN_P} * 69621)"
        f" % {_DLN_P} % 16"
    )


# Variance constants from Tsourakakis' Var(est) = T(1/p^3 - 1)
# + 2k(1/p - 1), with T and k estimated from the sample itself
# (T_hat = t/p^3, k_hat = ks/p^5):
#   p = 1/4 : Var = 64*63*t  + 2*1024*3*ks  = 4032 t  + 6144 ks
#   p = 1/16: Var = 4096*4095*t + 2*1048576*15*ks
#                 = 16773120 t + 31457280 ks
_DLN_MP = {4: (64, 4032.0, 6144.0), 16: (4096, 16773120.0, 31457280.0)}


@workload(
    "graph_triangle_doulion_multi_p",
    oracle=f"""
WITH sampled AS (
  SELECT u, v, c FROM (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  ), LATERAL (SELECT {_dln_coin16('u', 'v')} AS c)
  WHERE c % 4 = 0
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM sampled UNION ALL SELECT v AS node FROM sampled
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
  FROM sampled e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
wedges AS (
  SELECT o1.src,
         least(o1.dst, o2.dst) AS a,
         greatest(o1.dst, o2.dst) AS b
  FROM oriented o1 JOIN oriented o2
    ON o1.src = o2.src AND o1.dst < o2.dst
),
tri_rows AS (
  SELECT w.src, w.a, w.b,
         CASE WHEN e.c = 0
               AND {_dln_coin16('least(w.src, w.a)', 'greatest(w.src, w.a)')} = 0
               AND {_dln_coin16('least(w.src, w.b)', 'greatest(w.src, w.b)')} = 0
              THEN 1 ELSE 0 END AS in16
  FROM wedges w
  JOIN sampled e ON e.u = w.a AND e.v = w.b
),
tri_edges AS (
  SELECT least(src, a) AS eu, greatest(src, a) AS ev, in16 FROM tri_rows
  UNION ALL
  SELECT least(src, b), greatest(src, b), in16 FROM tri_rows
  UNION ALL
  SELECT a, b, in16 FROM tri_rows
),
shared AS (
  SELECT COALESCE(sum(c4 * (c4 - 1) / 2), 0) AS ks4,
         COALESCE(sum(c16 * (c16 - 1) / 2), 0) AS ks16
  FROM (SELECT count(*) AS c4, sum(in16) AS c16
        FROM tri_edges GROUP BY eu, ev)
),
tri AS (SELECT count(*) AS t4, COALESCE(sum(in16), 0) AS t16 FROM tri_rows),
ne AS (SELECT count(*) AS n4,
              sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS n16
       FROM sampled),
rows_out AS (
  SELECT CAST(4 AS BIGINT) AS p_denom,
         CAST(n4 AS BIGINT) AS n_edges_sampled,
         CAST(t4 AS BIGINT) AS tri_sampled,
         CAST(t4 * 64 AS BIGINT) AS est_triangles,
         ROUND(CASE WHEN t4 = 0 THEN 1.0
                    ELSE sqrt(4032.0 * t4 + 6144.0 * ks4) / (t4 * 64)
               END, 6) AS rel_stderr_bound
  FROM tri, shared, ne
  UNION ALL
  SELECT CAST(16 AS BIGINT),
         CAST(n16 AS BIGINT),
         CAST(t16 AS BIGINT),
         CAST(t16 * 4096 AS BIGINT),
         ROUND(CASE WHEN t16 = 0 THEN 1.0
                    ELSE sqrt(16773120.0 * t16 + 31457280.0 * ks16)
                         / (t16 * 4096)
               END, 6)
  FROM tri, shared, ne
)
SELECT * FROM rows_out ORDER BY p_denom
""",
)
def graph_triangle_doulion_multi_p(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOULION at two sampling rates from ONE wedge-enumeration pass
    (nested sub-sampling): the LCG coin mod 16 makes the p = 1/16
    edge set (coin == 0) a strict subset of the p = 1/4 set
    (coin % 4 == 0), so every p = 1/16 triangle is also a p = 1/4
    triangle and BOTH estimates fall out of the single p = 1/4
    triangle enumeration — a sampled triangle belongs to the
    p = 1/16 estimate iff all three of its edge coins are 0 mod 16,
    a map-side integer test (two coins recomputed from the vertex
    ids, one carried through the closure join), never a second graph
    pass. One row per p with the estimate and the FULL
    Tsourakakis variance bound (independence term + shared-edge
    covariance term, both estimated from the respective sample —
    same self-measuring convention as graph_triangle_doulion).

    What it buys at scale: the accuracy/cost frontier measured in
    one job. The p = 1/4 line is the production estimate; the
    p = 1/16 line prices the next 4x sparsification (its stderr is
    ~8x wider: 1/p^1.5 scaling) — pick the cheapest p whose reported
    bound meets the task's tolerance WITHOUT re-running anything.
    Same plan shape as graph_triangle_doulion (degree-ordered
    orientation on the p = 1/4 graph, broadcast closure); the only
    additions are three integer coin evaluations per sampled
    triangle and an extra sum in each reduce."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    coin16 = F.expr(_dln_coin16("u", "v"))
    sampled = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .filter(coin16 % 4 == 0)
        .select("u", "v")
        .distinct()
        # coin16 is functional in (u, v): attach AFTER the distinct
        # so the dedup shuffle moves 16-byte rows
        .withColumn("c", coin16)
        .localCheckpoint(eager=True)
    )
    deg = (
        sampled.select(F.col("u").alias("node"))
        .unionAll(sampled.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u_n"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v_n"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        sampled.join(du, F.col("u") == F.col("u_n"))
        .join(dv, F.col("v") == F.col("v_n"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select(F.col("src").alias("src2"), F.col("dst").alias("d2"))
    wedges = (
        o1.join(o2, (F.col("src") == F.col("src2")) & (F.col("d1") < F.col("d2")))
        .select(
            "src",
            F.least("d1", "d2").alias("a"),
            F.greatest("d1", "d2").alias("b"),
        )
    )
    in16 = (
        (F.col("c") == 0)
        & (F.expr(_dln_coin16("least(src, a)", "greatest(src, a)")) == 0)
        & (F.expr(_dln_coin16("least(src, b)", "greatest(src, b)")) == 0)
    )
    tri_rows = (
        wedges.join(
            # bound: p*|E| sample; without it the eager sample job
            # sort-merge joins
            F.broadcast(sampled),
            (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
        )
        .select(
            "src", "a", "b",
            F.when(in16, F.lit(1)).otherwise(F.lit(0)).alias("in16"),
        )
        .localCheckpoint(eager=True)
    )
    tri_edges = tri_rows.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("src", "a").alias("eu"),
                    F.greatest("src", "a").alias("ev"),
                    F.col("in16").alias("in16"),
                ),
                F.struct(
                    F.least("src", "b").alias("eu"),
                    F.greatest("src", "b").alias("ev"),
                    F.col("in16").alias("in16"),
                ),
                F.struct(
                    F.col("a").alias("eu"),
                    F.col("b").alias("ev"),
                    F.col("in16").alias("in16"),
                ),
            )
        ).alias("e")
    ).select("e.eu", "e.ev", "e.in16")
    shared = (
        tri_edges.groupBy("eu", "ev")
        .agg(
            F.count(F.lit(1)).alias("c4"),
            F.sum("in16").alias("c16"),
        )
        .agg(
            F.coalesce(
                F.sum(F.col("c4") * (F.col("c4") - 1) / 2), F.lit(0.0)
            ).alias("ks4"),
            F.coalesce(
                F.sum(F.col("c16") * (F.col("c16") - 1) / 2), F.lit(0.0)
            ).alias("ks16"),
        )
    )
    tri = tri_rows.agg(
        F.count(F.lit(1)).alias("t4"),
        F.coalesce(F.sum("in16"), F.lit(0)).alias("t16"),
    )
    ne = sampled.agg(
        F.count(F.lit(1)).alias("n4"),
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0)).alias("n16"),
    )
    base = tri.crossJoin(shared).crossJoin(ne)

    def _row(p: int, t_c: str, ks_c: str, n_c: str) -> DataFrame:
        scale, ct, cks = _DLN_MP[p]
        return base.select(
            F.lit(p).cast("bigint").alias("p_denom"),
            F.col(n_c).cast("bigint").alias("n_edges_sampled"),
            F.col(t_c).cast("bigint").alias("tri_sampled"),
            (F.col(t_c) * scale).cast("bigint").alias("est_triangles"),
            F.round(
                F.when(F.col(t_c) == 0, F.lit(1.0)).otherwise(
                    F.sqrt(
                        F.lit(ct) * F.col(t_c) + F.lit(cks) * F.col(ks_c)
                    )
                    / (F.col(t_c) * scale)
                ),
                6,
            ).alias("rel_stderr_bound"),
        )

    return (
        _row(4, "t4", "ks4", "n4")
        .unionAll(_row(16, "t16", "ks16", "n16"))
        .orderBy("p_denom")
    )


# --------------------------------------------------------------------------
# Multi-source k-hop BFS reach over the co-purchase graph.
# --------------------------------------------------------------------------

_BFS_MAX_HOP = 3
_BFS_SEED_MOD = 100  # seeds: graph nodes with partkey % 100 == 0


@workload(
    "graph_khop_reach",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
reach(node, lvl) AS (
  SELECT DISTINCT u AS node, 0 AS lvl FROM und
  WHERE u % {_BFS_SEED_MOD} = 0
  UNION
  SELECT und.v, r.lvl + 1
  FROM reach r JOIN und ON und.u = r.node
  WHERE r.lvl < {_BFS_MAX_HOP}
)
SELECT CAST(lvl AS BIGINT) AS hop,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node
FROM (SELECT node, min(lvl) AS lvl FROM reach GROUP BY node)
GROUP BY lvl
ORDER BY hop
""",
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source k-hop BFS over the co-purchase part graph: every
    part whose key is ≡0 mod 100 seeds a frontier, and each node
    reports its MINIMUM hop distance (≤3) — the blast-radius /
    influence-reach primitive (recall expansion from seed documents,
    recommendation neighborhoods, contamination spread from flagged
    nodes). Level-synchronous BFS is the bounded-iteration sibling
    of the repo's fixpoint propagations: PageRank iterates to a
    horizon, connected components to convergence, BFS exactly
    k hops with the frontier shrinking to new nodes only (the
    visited anti-join is what keeps hop h from re-expanding hop
    h-1's work — textbook Pregel/MapReduce BFS).

    Scale: the edge list builds once (the same orderkey self-join
    every co-purchase workload shuffles); each hop is ONE
    broadcast-frontier equi-join into the edge scan plus a
    node-level distinct — frontier and visited sets are node-sized
    (≤ |parts|), never edge-sized, so k hops cost k edge scans and
    k tiny shuffles. At warehouse scale the edge list persists
    bucketed by u and each hop is a bucket-local probe."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    # the symmetric edge list feeds every hop; cache the reduced
    # (2-column, deduped) form so k hops scan it, not the self-join
    # lineage (same reduced-intermediate convention as PageRank)
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).cache()
    visited = (
        und.select("u").distinct()
        .filter(F.col("u") % _BFS_SEED_MOD == 0)
        .select(F.col("u").alias("node"))
        .withColumn("lvl", F.lit(0))
    )
    frontier = visited.select("node")
    roll = RollingCheckpoint(spark)
    for hop in range(1, _BFS_MAX_HOP + 1):
        nxt = (
            # bound: nodes within _BFS_MAX_HOP of the seeds; sort-merge
            # join without it
            F.broadcast(frontier)
            .join(und, F.col("node") == F.col("u"))
            .select(F.col("v").alias("node"))
            .distinct()
            # bound: nodes within _BFS_MAX_HOP of the seeds; plan
            # changes without it
            .join(F.broadcast(visited.select("node")), "node", "left_anti")
            .withColumn("lvl", F.lit(hop))
        )
        visited = visited.unionByName(nxt)
        if hop < _BFS_MAX_HOP:
            # truncate lineage between hops (visited is node-sized);
            # deriving the next frontier FROM the checkpointed frame
            # also stops hop h's anti-join from re-deriving hop h-1
            # twice — same RollingCheckpoint pattern as PageRank,
            # O(1) retained blocks across hops
            visited = roll(visited)
            frontier = visited.filter(F.col("lvl") == hop).select("node")
    return (
        visited.groupBy("lvl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .select(F.col("lvl").cast("bigint").alias("hop"),
                "n_nodes", "min_node", "max_node")
        .orderBy("hop")
    )


# --------------------------------------------------------------------------
# Absorbing-chain conversion horizon on the event transition graph.
# --------------------------------------------------------------------------

_MCH_K = 8  # maximum step horizon


@workload(
    "markov_conversion_horizon",
    oracle=f"""
WITH RECURSIVE
seq AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
),
edges AS (
  SELECT prev_type AS src, event_type AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM seq
  WHERE prev_type IS NOT NULL
    AND ts <= prev_ts + INTERVAL {_PR_GAP_MIN} MINUTE
  GROUP BY prev_type, event_type
),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS total_w
         FROM edges GROUP BY src),
states AS (
  -- inside WITH RECURSIVE a bare UNION is parsed as an
  -- anchor/recursive-arm split (and stops deduplicating) — keep the
  -- dedup OUTSIDE the set operation
  SELECT DISTINCT st FROM (
    SELECT src AS st FROM edges UNION ALL SELECT dst AS st FROM edges
  )
),
aug AS (
  SELECT e.src AS src, e.dst AS dst,
         e.w * 1.0 / o.total_w AS pr
  FROM edges e JOIN outw o ON o.src = e.src
  WHERE e.src <> 'purchase'
  UNION ALL
  SELECT 'purchase', 'purchase', CAST(1.0 AS DOUBLE)
  UNION ALL
  SELECT st, st, CAST(1.0 AS DOUBLE) FROM states
  WHERE st <> 'purchase' AND st NOT IN (SELECT src FROM edges)
),
walk AS (
  SELECT 0 AS it, st,
         CASE WHEN st = 'purchase' THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS p
  FROM states
  UNION ALL
  SELECT it + 1, src AS st, sum(pp) AS p
  FROM (
    SELECT w.it AS it, a.src AS src, a.pr * w.p AS pp
    FROM walk w JOIN aug a ON a.dst = w.st
    WHERE w.it < {_MCH_K}
  )
  GROUP BY it, src
)
SELECT st AS state,
       ROUND(max(CASE WHEN it = 1 THEN p END), 6) AS p_within_1,
       ROUND(max(CASE WHEN it = 4 THEN p END), 6) AS p_within_4,
       ROUND(max(CASE WHEN it = {_MCH_K} THEN p END), 6)
         AS p_within_{_MCH_K}
FROM walk
GROUP BY st
ORDER BY state
""",
)
def markov_conversion_horizon(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Absorbing-Markov-chain conversion horizon: make 'purchase'
    absorbing in the session-gap transition chain (the same edges
    markov_next_event and PageRank consume) and iterate
    p_{{k+1}} = P'·p_k for {_MCH_K} steps — p_k(s) is the
    probability a user currently at state s converts within k more
    actions, the funnel question the one-step table can't answer.
    Dead-end states self-loop (they can never convert); the
    purchase row pins at 1.

    Determinism: transition probabilities are exact BIGINT-count
    ratios; the iteration runs on the |states|² grid (collected
    driver scalars on the Spark side, a recursive CTE in the
    oracle) and only summation order can differ — ~1e-16, absorbed
    by the 6dp rounding.

    Scale: the distributed work is ONE lag-window shuffle collapsing
    the stream to |states|² transition counts (identical cost to
    markov_next_event); the K iterations are free driver arithmetic.
    The same shape carries thousands of states — the grid stays
    metadata-sized relative to any event volume."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events")
    seq = ev.select(
        "event_type", "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    edges = (
        seq.filter(
            F.col("prev_type").isNotNull()
            & (F.col("ts") <= F.col("prev_ts")
               + F.expr(f"INTERVAL {_PR_GAP_MIN} MINUTES"))
        )
        .groupBy(F.col("prev_type").alias("src"),
                 F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    rows = bounded_collect(edges, GRID_MAX_EDGES, "markov state grid")
    wmap: dict[str, dict[str, int]] = {}
    states = set()
    for r in rows:
        wmap.setdefault(r["src"], {})[r["dst"]] = int(r["w"])
        states.add(r["src"])
        states.add(r["dst"])
    aug: dict[str, dict[str, float]] = {}
    for s in sorted(states):
        if s == "purchase" or s not in wmap:
            aug[s] = {s: 1.0}
        else:
            tot = sum(wmap[s].values())
            aug[s] = {d: c * 1.0 / tot for d, c in sorted(wmap[s].items())}
    p = {s: (1.0 if s == "purchase" else 0.0) for s in states}
    snap: dict[int, dict[str, float]] = {}
    for k in range(1, _MCH_K + 1):
        p = {
            s: sum(pr * p[d] for d, pr in aug[s].items())
            for s in states
        }
        if k in (1, 4, _MCH_K):
            snap[k] = dict(p)
    out = spark.createDataFrame(
        [
            (s, snap[1][s], snap[4][s], snap[_MCH_K][s])
            for s in sorted(states)
        ],
        f"state string, p_within_1 double, p_within_4 double,"
        f" p_within_{_MCH_K} double",
    )
    return out.select(
        "state",
        F.round("p_within_1", 6).alias("p_within_1"),
        F.round("p_within_4", 6).alias("p_within_4"),
        F.round(f"p_within_{_MCH_K}", 6).alias(f"p_within_{_MCH_K}"),
    ).orderBy("state")


# --------------------------------------------------------------------------
# Eigenvector centrality on the part co-purchase graph.
# --------------------------------------------------------------------------

_EC_ITERS = 6
_EC_TOPK = 20


def _o_ec_iter(prev: str, idx: int) -> str:
    """One power-iteration round as DuckDB CTE text: x' = A·x over
    the symmetric weighted edges, L2-normalized."""
    return f"""
raw{idx} AS (
  SELECT e.v AS node, sum(e.w * p.x) AS r
  FROM sym e JOIN {prev} p ON p.node = e.u
  GROUP BY e.v
),
nrm{idx} AS (SELECT sqrt(sum(r * r)) AS z FROM raw{idx}),
ec{idx} AS (
  SELECT r.node AS node, r.r / n.z AS x
  FROM raw{idx} r CROSS JOIN nrm{idx} n
)"""


_O_EC_CHAIN = ",".join(
    _o_ec_iter(f"ec{i - 1}" if i > 1 else "ec0", i)
    for i in range(1, _EC_ITERS + 1)
)


@workload(
    "graph_eigenvector_centrality",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         CAST(count(*) AS BIGINT) AS w
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
sym AS (
  SELECT u, v, w FROM pairs
  UNION ALL
  SELECT v AS u, u AS v, w FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM sym),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
ec0 AS (
  SELECT node, 1.0 / sqrt(CAST(nn.n AS DOUBLE)) AS x
  FROM nodes CROSS JOIN nn
),
{_O_EC_CHAIN},
ranked AS (
  SELECT node, x,
         row_number() OVER (ORDER BY round(x, 6) DESC, node) AS rk
  FROM ec{_EC_ITERS}
)
SELECT CAST(node AS BIGINT) AS partkey,
       ROUND(x, 6) AS centrality,
       CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= {_EC_TOPK}
ORDER BY rank
""",
)
def graph_eigenvector_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eigenvector centrality of the part co-purchase graph
    (Bonacich 1972): {_EC_ITERS} L2-normalized power-iteration
    rounds of x' = A·x over basket-weighted co-purchase edges — a
    part is central when it co-sells with parts that themselves
    co-sell widely, the signal behind 'hub product' merchandising
    and the undirected sibling of PageRank (same iteration family,
    no damping/teleport because the co-purchase graph's giant
    component is well-connected).

    Determinism: edge weights are exact BIGINT basket counts; rounds
    run in doubles where only summation order differs across engines
    (~1e-15), absorbed by ranking on the ROUNDED score with a
    partkey tiebreak.

    Scale: the basket self-join is keyed on l_orderkey (per-key
    quadratic bounded by items-per-order², never a cross product);
    the symmetric edge list is cached once and each iteration is one
    broadcast of the |parts|-row rank vector into an edges equi-join
    + a keyed aggregate — the PageRank shape, O(1) storage in
    iterations via RollingCheckpoint. At 100 TB the rank vector
    stays |parts|-sized (merchandise catalogs: millions of rows —
    still a broadcastable frame; past that, the join flips to a
    shuffle join and the iteration count is unchanged)."""
    items = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    sym = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).cache()
    nodes = sym.select(F.col("u").alias("node")).distinct().cache()
    n = nodes.count()
    import math

    x = nodes.withColumn("x", F.lit(1.0 / math.sqrt(float(n))))
    roll = RollingCheckpoint(spark)
    for _ in range(_EC_ITERS):
        raw = (
            # bound: one row per graph node; plan changes without it
            sym.join(F.broadcast(x), sym.u == x.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.col("w") * F.col("x")).alias("r"))
        )
        nrm = raw.agg(F.sqrt(F.sum(F.col("r") * F.col("r"))).alias("z"))
        x = raw.crossJoin(nrm).select(
            "node", (F.col("r") / F.col("z")).alias("x")
        )
        x = roll(x)
    from pyspark.sql import Window

    ranked = x.select(
        "node", "x",
        F.row_number()
        .over(Window.orderBy(F.round("x", 6).desc(), "node"))
        .alias("rk"),
    ).filter(F.col("rk") <= _EC_TOPK)
    out = ranked.select(
        F.col("node").cast("bigint").alias("partkey"),
        F.round("x", 6).alias("centrality"),
        F.col("rk").cast("bigint").alias("rank"),
    ).orderBy("rank")
    sym.unpersist()
    nodes.unpersist()
    return out


# --------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph.
# --------------------------------------------------------------------------


@workload(
    "graph_degree_assortativity",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
sym AS (
  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
),
deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u
),
ed AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM sym e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dx) AS BIGINT) AS sx,
         CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM ed
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       ROUND(sx * 1.0 / m, 4) AS mean_edge_degree,
       ROUND((m * sxy - sx * sy) * 1.0
             / sqrt((m * sxx - sx * sx) * 1.0 * (m * syy - sy * sy)),
             6) AS assortativity
FROM mom
""",
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (Newman
    2002): the Pearson correlation of endpoint degrees over all
    directed edge stubs — positive means hub products co-sell with
    other hubs (a dense rich-club core: broadcast/skew planning can
    target it), negative means hub-and-spoke catalogs (long-tail
    parts attach to a few anchors — the salting target is the
    anchors). One number that tells the planner which of the two
    skew regimes the join graph is in, next to triangle count
    (local clustering) and eigenvector centrality (global
    influence).

    Determinism: degrees and all five moments are exact BIGINTs over
    the symmetric stub list; r is one fixed-order float expression.

    Scale: the keyed basket self-join builds the edge list (bounded
    per-order pair explosion); degrees are one groupBy; the
    moment pass joins degrees back onto edges twice — both
    broadcastable (|parts| rows) or shuffled equi-joins at extreme
    scale. No iteration, no window."""
    items = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    sym = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    sym = sym.localCheckpoint(eager=True)  # degree + edge consumers
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    # bound: one row per graph node; sort-merge join without it
    ed = sym.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    mom = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    r = (
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0
        / F.sqrt(
            (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * 1.0
            * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return mom.select(
        F.expr("cast(m / 2 as bigint)").alias("n_edges"),
        F.round(F.col("sx") * 1.0 / F.col("m"), 4)
        .alias("mean_edge_degree"),
        F.round(r, 6).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Per-node local clustering coefficient (co-purchase graph).
# --------------------------------------------------------------------------


@workload(
    "graph_local_clustering",
    oracle="""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT w.src AS apex, w.a, w.b
  FROM (
    SELECT o1.src,
           least(o1.dst, o2.dst) AS a,
           greatest(o1.dst, o2.dst) AS b
    FROM oriented o1 JOIN oriented o2
      ON o1.src = o2.src AND o1.dst < o2.dst
  ) w
  JOIN edges e ON e.u = w.a AND e.v = w.b
),
tpn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
    SELECT apex AS node FROM tri
    UNION ALL SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
  ) GROUP BY node
)
SELECT d.node, d.d, coalesce(t.n_tri, 0) AS n_tri,
       ROUND(2.0 * coalesce(t.n_tri, 0) / (d.d * (d.d - 1)), 6) AS lcc
FROM deg d LEFT JOIN tpn t ON t.node = d.node
WHERE d.d >= 4
ORDER BY 2 * coalesce(t.n_tri, 0) * 1000000 // (d.d * (d.d - 1)) DESC,
         d.node
LIMIT 20
""",
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the co-purchase part
    graph: lcc(v) = 2·T(v) / (d(v)·(d(v)−1)), where T(v) counts the
    triangles through v — the node-level refinement of
    graph_triangle_count's global transitivity (communities score
    near 1, bridge/hub nodes near 0). Returns the 20 most clustered
    nodes with degree ≥ 4.

    Scale: reuses the degree-ordered orientation (wedges enumerate
    only at each triangle's lowest-degree apex — O(m^1.5) total),
    then EXPLODES each closed triangle to its three member nodes and
    counts per node: one extra map + groupBy over the triangle
    stream versus the global count. Ordering uses the exact integer
    2·T·10^6 div d(d−1) key (integer division — identical on both
    engines), never a float sort key."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    du = deg.select(F.col("node").alias("u_n"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v_n"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, F.col("u") == F.col("u_n"))
        .join(dv, F.col("v") == F.col("v_n"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select(F.col("src").alias("src2"), F.col("dst").alias("d2"))
    wedges = (
        o1.join(o2, (F.col("src") == F.col("src2")) & (F.col("d1") < F.col("d2")))
        .select(
            "src",
            F.least("d1", "d2").alias("a"),
            F.greatest("d1", "d2").alias("b"),
        )
    )
    tri = wedges.join(
        edges,
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
    ).select("src", "a", "b")
    tpn = (
        tri.select(F.col("src").alias("node"))
        .unionAll(tri.select(F.col("a").alias("node")))
        .unionAll(tri.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    scored = (
        deg.filter(F.col("d") >= 4)
        .join(tpn, "node", "left")
        .select(
            "node", "d",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
            F.round(
                2.0 * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("lcc"),
            F.expr(
                "2 * coalesce(n_tri, 0) * 1000000 div (d * (d - 1))"
            ).alias("_k"),
        )
    )
    return (
        scored.orderBy(F.col("_k").desc(), "node")
        .limit(20)
        .drop("_k")
    )


# --------------------------------------------------------------------------
# Link prediction: per-query Adamic-Adar over the co-purchase graph.
# --------------------------------------------------------------------------

_AA_NQ = 10        # query nodes: the 10 smallest part keys in the graph
_AA_TOPK = 5       # predicted links returned per query node
#: Wedge centers above this degree are skipped: a degree-d hub costs
#: d candidate fan-outs per query yet adds only 1/ln(d) ≈ 0 to each
#: score — the standard production cap. Applied identically in the
#: oracle.
_AA_DEG_CAP = 512
#: 1/ln(deg) snapped to 1e-9 integer units before summing (the
#: _BLM_UNIT trick), so per-pair sums are order-free BIGINTs.
_AA_UNIT = 1_000_000_000


@workload(
    "link_prediction_adamic_adar",
    oracle=f"""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
nbrs AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr FROM edges
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM nbrs GROUP BY node
),
qset AS (SELECT node AS q FROM deg ORDER BY node LIMIT {_AA_NQ}),
wedge AS (
  SELECT h1.q, h2.nbr AS y,
         CAST(round({_AA_UNIT} / ln(d.d)) AS BIGINT) AS aa_units
  FROM (SELECT qset.q, n.nbr AS z FROM qset
        JOIN nbrs n ON n.node = qset.q) h1
  JOIN nbrs h2 ON h2.node = h1.z
  JOIN deg d ON d.node = h1.z
  WHERE h2.nbr <> h1.q AND d.d <= {_AA_DEG_CAP}
),
cand AS (
  SELECT w.q, w.y,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(w.aa_units) AS BIGINT) AS units
  FROM wedge w
  LEFT JOIN edges e ON e.u = least(w.q, w.y) AND e.v = greatest(w.q, w.y)
  WHERE e.u IS NULL
  GROUP BY w.q, w.y
)
SELECT q, y, n_common,
       ROUND(units * 1.0 / {_AA_UNIT}, 4) AS aa_score,
       CAST(rk AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q
             ORDER BY units DESC, y) AS rk
  FROM cand
) WHERE rk <= {_AA_TOPK}
ORDER BY q, rank
""",
)
def link_prediction_adamic_adar(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adamic-Adar link prediction, PER-QUERY form: for each of the
    {nq} query parts, score every non-adjacent 2-hop part y by
    Σ_z 1/ln(deg(z)) over shared neighbors z — rare shared neighbors
    count more than hubs — and return the top-{k} predicted links
    per query (the recommendation-serving shape).

    Scale — and why per-query, not all-pairs: the co-purchase graph
    is DENSE (median degree ~115 at every SF), so materializing all
    C(d,2) wedges at every center is ~1.5·10⁸ rows at sf0.1 and
    O(|V|·d²) at 100 TB — measured to exhaust executor memory here
    before any cap a meaningful score survives would bind. Scoring
    per query node bounds the work to the 2-hop neighborhood
    (Σ_{{z∈N(q)}} deg(z) ≈ 13k rows per query on this graph),
    independent of |V| — which is also precisely how link prediction
    is served. Hub centers above _AA_DEG_CAP are additionally
    skipped (1/ln(d) ≈ 0 for hubs; same cap in the oracle).
    Existing edges drop via one anti-join on the canonical
    (min, max) edge key. Determinism: each wedge's 1/ln(deg) snaps
    to 1e-9 BIGINT units; ranking compares exact integers with a
    node tiebreak."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    # edges feeds SIX plan branches (nbrs both directions ×2 uses,
    # degrees, the query set, the anti-join probe). Unlike the
    # triangle count's 4-branch recompute (measured cheaper there),
    # here the un-materialized lineage re-broadcasts the lineitem
    # scan per branch and exhausted the driver's memory store at
    # sf0.1 — materialize ONCE; callers sweep the blocks
    # (release_blocks, the bench/check-tool convention).
    edges = edges.localCheckpoint(eager=True)
    nbrs = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    qset = deg.select(F.col("node").alias("q")).orderBy("q").limit(_AA_NQ)
    hop1 = qset.join(
        nbrs, F.col("node") == F.col("q")
    ).select("q", F.col("nbr").alias("z"))
    # hop1 is |Q|·deg(q) rows (~1.2k) — ALWAYS the broadcast side.
    # Without the hint the 64m session threshold lets Catalyst
    # broadcast the 2·|E|-row adjacency list instead, whose
    # HashedRelation build blew the driver at sf0.1.
    wedge = (
        # bound: |Q| x deg(q) rows; sort-merge join without it
        F.broadcast(hop1)
        .join(
            nbrs.select(F.col("node").alias("z"), F.col("nbr").alias("y")),
            "z",
        )
        .filter(F.col("y") != F.col("q"))
        .join(
            # bound: one row per graph node; plan changes without it
            F.broadcast(
                deg.filter(F.col("d") <= _AA_DEG_CAP)
                .select(F.col("node").alias("z"), "d")
            ),
            "z",
        )
        .select(
            "q", "y",
            F.round(F.lit(_AA_UNIT) / F.log("d")).cast("bigint")
            .alias("aa_units"),
        )
    )
    cand = wedge.join(
        edges,
        (F.least("q", "y") == F.col("u"))
        & (F.greatest("q", "y") == F.col("v")),
        "left_anti",
    )
    scored = cand.groupBy("q", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum("aa_units").cast("bigint").alias("units"),
    )
    w = Window.partitionBy("q").orderBy(F.col("units").desc(), "y")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _AA_TOPK)
        .select(
            "q", "y", "n_common",
            F.round(F.col("units") * 1.0 / _AA_UNIT, 4).alias("aa_score"),
            F.col("rk").cast("bigint").alias("rank"),
        )
        .orderBy("q", "rank")
    )


# --------------------------------------------------------------------------
# Harmonic centrality (k-hop bounded, per-query) on the co-purchase graph.
# --------------------------------------------------------------------------

_HC_NQ_MOD = 200   # query candidates: part keys ≡ 0 mod 200 ...
_HC_NQ = 10        # ... capped to the 10 smallest (bounds the labeled
                   # frontier at every SF)
_HC_MAX_HOP = 3
_HC_UNIT = 100000000


@workload(
    "graph_harmonic_centrality",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
qs AS (SELECT DISTINCT u AS q FROM und WHERE u % {_HC_NQ_MOD} = 0
       ORDER BY u LIMIT {_HC_NQ}),
reach(q, node, lvl) AS (
  SELECT q, q AS node, 0 AS lvl FROM qs
  UNION
  SELECT r.q, und.v, r.lvl + 1
  FROM reach r JOIN und ON und.u = r.node
  WHERE r.lvl < {_HC_MAX_HOP}
),
dist AS (
  SELECT q, node, CAST(min(lvl) AS BIGINT) AS d
  FROM reach GROUP BY q, node
),
per AS (
  SELECT q,
         CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1hop,
         CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2hop,
         CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_3hop,
         CAST(sum(CASE WHEN d > 0 THEN {_HC_UNIT} // d ELSE 0 END)
              AS BIGINT) AS h_units
  FROM dist GROUP BY q
)
SELECT q AS node, n_1hop, n_2hop, n_3hop,
       ROUND(h_units * 1.0 / {_HC_UNIT}, 4) AS harmonic
FROM per
ORDER BY q
""",
)
def graph_harmonic_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Harmonic centrality, {k}-hop-bounded and per-query — the
    distance-based centrality (Σ 1/d(q, v), unreachable = 0) next to
    the repo's spectral (eigenvector), flow (PageRank) and local
    (clustering-coefficient) measures: query parts ≡0 mod {m} each
    run a labeled BFS and report their per-ring reach plus the
    harmonic sum. Bounding the radius is the production form —
    beyond a few hops 1/d contributions vanish and exact all-pairs
    distances are infeasible; the per-query restriction is the same
    serving-shape argument as link_prediction_adamic_adar.

    Scale: the frontier carries (query, node) labels, so one
    level-synchronous BFS serves all queries simultaneously — each
    hop is ONE equi-join of the labeled frontier into the cached
    symmetric edge list + a per-query visited anti-join, with
    RollingCheckpoint keeping O(1) blocks across hops (the khop/
    PageRank discipline). Determinism: distances are exact integer
    hop counts; 1/d snaps to integer units via div before the sum."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).cache()
    visited = (
        und.select("u").distinct()
        .filter(F.col("u") % _HC_NQ_MOD == 0)
        .orderBy("u")
        .limit(_HC_NQ)
        .select(F.col("u").alias("q"), F.col("u").alias("node"))
        .withColumn("lvl", F.lit(0))
    )
    frontier = visited.select("q", "node")
    roll = RollingCheckpoint(spark)
    for hop in range(1, _HC_MAX_HOP + 1):
        # no broadcast hints: unlike khop's node-sized frontier,
        # the LABELED frontier is (q, node)-sized — on this dense
        # graph hop 2 already reaches ~|Q|·|V| rows, and a forced
        # broadcast OOM'd the 8g driver at sf0.1; AQE sizes the
        # joins from the measured frontier instead
        nxt = (
            frontier
            .join(und, F.col("node") == F.col("u"))
            .select("q", F.col("v").alias("node"))
            .distinct()
            .join(
                visited.select("q", "node"),
                ["q", "node"],
                "left_anti",
            )
            .withColumn("lvl", F.lit(hop))
        )
        visited = visited.unionByName(nxt)
        if hop < _HC_MAX_HOP:
            visited = roll(visited)
            frontier = visited.filter(F.col("lvl") == hop).select("q", "node")
    per = visited.groupBy("q").agg(
        F.sum(F.when(F.col("lvl") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_1hop"),
        F.sum(F.when(F.col("lvl") == 2, 1).otherwise(0))
        .cast("bigint").alias("n_2hop"),
        F.sum(F.when(F.col("lvl") == 3, 1).otherwise(0))
        .cast("bigint").alias("n_3hop"),
        F.sum(
            F.when(
                F.col("lvl") > 0, F.expr(f"{_HC_UNIT} div lvl")
            ).otherwise(0)
        ).cast("bigint").alias("h_units"),
    )
    return (
        per.select(
            F.col("q").alias("node"),
            "n_1hop", "n_2hop", "n_3hop",
            F.round(F.col("h_units") * 1.0 / _HC_UNIT, 4).alias("harmonic"),
        )
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# Bounded k-core peeling on the co-purchase graph (round 8).
# --------------------------------------------------------------------------

_KC_ROUNDS = 6


def _kcore_oracle() -> str:
    """Unrolled peel rounds (the FFD/k-center generated-CTE-chain
    technique): round r keeps nodes whose degree within round r-1's
    surviving subgraph is >= K, where K = the discrete median of the
    initial degrees (adaptive to sf, identical in both engines)."""
    steps = []
    for r in range(1, _KC_ROUNDS + 1):
        steps.append(f"""
d{r} AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e{r - 1} UNION ALL SELECT v AS node FROM e{r - 1}
  ) GROUP BY node
),
n{r} AS MATERIALIZED (
  SELECT d{r}.node FROM d{r} CROSS JOIN kk WHERE d{r}.d >= kk.k
),
e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r - 1} e
  JOIN n{r} a ON a.node = e.u
  JOIN n{r} b ON b.node = e.v
)""")
    rows = ["SELECT 0 AS round, (SELECT count(*) FROM d1) AS n_nodes,"
            " (SELECT count(*) FROM e0) AS n_edges"]
    for r in range(1, _KC_ROUNDS + 1):
        rows.append(
            f"SELECT {r}, (SELECT count(*) FROM n{r}),"
            f" (SELECT count(*) FROM e{r})"
        )
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
d0 AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0
  ) GROUP BY node
),
kk AS MATERIALIZED (
  SELECT greatest((d * 4) // 5, 1) AS k FROM (
    SELECT d, row_number() OVER (ORDER BY d, node) AS rn,
           count(*) OVER () AS n
    FROM d0
  ) WHERE rn = (n + 1) // 4
),{",".join(steps)},
summary AS ({" UNION ALL ".join(rows)})
SELECT CAST(s.round AS BIGINT) AS round,
       CAST(s.n_nodes AS BIGINT) AS n_nodes,
       CAST(s.n_edges AS BIGINT) AS n_edges,
       CAST(kk.k AS BIGINT) AS k,
       CAST(CASE WHEN (SELECT count(*) FROM n{_KC_ROUNDS})
                    = (SELECT count(*) FROM n{_KC_ROUNDS - 1})
                 THEN 1 ELSE 0 END AS BIGINT) AS converged
FROM summary s CROSS JOIN kk
ORDER BY round
"""


@workload("graph_kcore_bounded", oracle=_kcore_oracle())
def graph_kcore_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling on the co-purchase part graph: drop
    every node whose degree in the surviving subgraph falls below K
    (K = 80% of the discrete lower-quartile initial degree — adapts
    to sf while staying a deterministic integer; the co-purchase
    graph has a sharp core threshold near Q1, so Q1 itself peels to
    empty while 0.8·Q1 retains a dense core), repeat for a FIXED number of
    rounds, and report the per-round node/edge counts plus whether
    the peel converged inside the budget (fixed-round semantics,
    like the PageRank/eigenvector iteration workloads — the honest
    distributed form: convergence detection is itself a round).
    The k-core is the standard dense-subgraph preprocessing cut
    (community mining, spam-graph pruning, visualization layers).

    Determinism: degrees and the median-K are exact integers; each
    round is a pure set operation, so round counts are
    engine-independent. Oracle replays the identical rounds as a
    generated CTE chain.

    Scale: each round is one degree groupBy + two semi-join-shaped
    equi-joins on the surviving edge set (monotonically shrinking);
    RollingCheckpoint truncates the per-round lineage so round N
    never recomputes rounds 1..N-1 (the graph_khop_reach
    discipline). Edge construction shuffles on the natural order
    key."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )

    from datanika_core_spark.blocks import RollingCheckpoint

    roll = RollingCheckpoint(spark)
    e = roll(edges)
    d0 = degrees(e)
    wk = Window.orderBy("d", "node")
    kk = (
        d0.select(
            "d",
            F.row_number().over(wk).alias("rn"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 4"))
        .select(F.greatest(F.expr("(d * 4) div 5"), F.lit(1)).alias("k"))
    )
    schema = (
        "round bigint, n_nodes bigint, n_edges bigint,"
        " k bigint, converged bigint"
    )
    k_row = kk.first()  # bound: the filter keeps one rank
    if k_row is None:
        # < 3 graph nodes: rank (n+1) div 4 selects nothing — the
        # oracle's kk CTE is empty, so its cross join returns no rows
        return spark.createDataFrame([], schema)
    k = int(k_row["k"])
    counts = [(0, d0.count(), e.count())]
    prev_nodes = counts[0][1]
    converged = 0
    for r in range(1, _KC_ROUNDS + 1):
        surv = degrees(e).filter(F.col("d") >= k).select("node")
        # count survivors BEFORE rolling: roll() frees the previous
        # round's checkpoint blocks, which surv's lineage reads
        n_nodes = surv.count()
        e = roll(
            e.join(surv.withColumnRenamed("node", "u"), "u")
            .join(surv.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
        )
        counts.append((r, n_nodes, e.count()))
        if r == _KC_ROUNDS and n_nodes == prev_nodes:
            converged = 1
        if r < _KC_ROUNDS:
            prev_nodes = n_nodes
    out = spark.createDataFrame(
        [(r, n, m, k, converged) for (r, n, m) in counts], schema
    )
    return out.orderBy("round")


# --------------------------------------------------------------------------
# Coreness ladder: k-core sizes across a deterministic k ladder
# (round 9) — the coreness-distribution readout the single-K
# graph_kcore_bounded peel generalizes to.
# --------------------------------------------------------------------------

_KCL_ROUNDS = 4  # peel rounds per rung (bounded, like the single-K peel)
_KCL_RUNGS = 5   # k ladder = {1..5}/5 of the Q1 initial degree


def _coreness_oracle() -> str:
    """Unrolled nested peel: rung i's k is (i/5)·Q1; its round-0 edge
    set is rung i-1's FINAL edge set (k-cores are nested, so peeling
    at a higher k never needs the removed nodes back). Every step is
    AS MATERIALIZED — step i references step i-1 more than once."""
    steps = []
    prev = "e0"
    rows = []
    for i in range(1, _KCL_RUNGS + 1):
        steps.append(f"""
kk{i} AS MATERIALIZED (
  SELECT greatest((d * {i}) // 5, 1) AS k FROM q1
)""")
        for r in range(1, _KCL_ROUNDS + 1):
            steps.append(f"""
d{i}_{r} AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev}
  ) GROUP BY node
),
n{i}_{r} AS MATERIALIZED (
  SELECT d{i}_{r}.node FROM d{i}_{r} CROSS JOIN kk{i}
  WHERE d{i}_{r}.d >= kk{i}.k
),
e{i}_{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN n{i}_{r} a ON a.node = e.u
  JOIN n{i}_{r} b ON b.node = e.v
)""")
            prev = f"e{i}_{r}"
        last, before = _KCL_ROUNDS, _KCL_ROUNDS - 1
        rows.append(
            f"SELECT {i} AS rung, (SELECT k FROM kk{i}) AS k,"
            f" (SELECT count(*) FROM n{i}_{last}) AS n_nodes,"
            f" (SELECT count(*) FROM e{i}_{last}) AS n_edges,"
            f" CASE WHEN (SELECT count(*) FROM n{i}_{last})"
            f" = (SELECT count(*) FROM n{i}_{before}) THEN 1 ELSE 0 END"
            f" AS converged"
        )
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
d0 AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0
  ) GROUP BY node
),
q1 AS MATERIALIZED (
  SELECT d FROM (
    SELECT d, row_number() OVER (ORDER BY d, node) AS rn,
           count(*) OVER () AS n
    FROM d0
  ) WHERE rn = (n + 1) // 4
),{",".join(steps)},
summary AS ({" UNION ALL ".join(rows)})
SELECT CAST(rung AS BIGINT) AS rung, CAST(k AS BIGINT) AS k,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(converged AS BIGINT) AS converged
FROM summary
ORDER BY rung
"""


@workload("graph_coreness_ladder", oracle=_coreness_oracle())
def graph_coreness_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness distribution of the co-purchase part graph at a
    deterministic k ladder: for k = {1..5}/5 of the Q1 initial
    degree, the size of the (bounded-round) k-core. The payoff over
    the single-K peel (graph_kcore_bounded) is the SHAPE — how fast
    the graph sheds mass as k rises is the dense-subgraph profile
    community mining / spam pruning reads, and the rung where
    n_nodes collapses brackets the degeneracy.

    The nesting theorem does the heavy lifting: core(k') ⊆ core(k)
    for k' ≥ k, so each rung peels FROM THE PREVIOUS RUNG'S
    SURVIVORS — the full ladder costs barely more than the deepest
    rung, instead of |ladder| independent peels. Each rung runs a
    fixed 4 rounds (_KCL_ROUNDS) with a convergence flag (the honest
    distributed form; convergence detection is itself a round).

    Determinism: degrees, Q1, and every k are exact integers; each
    round is a pure set operation. The oracle replays the identical
    nested rounds as a generated AS MATERIALIZED CTE chain.

    Scale: per round one degree groupBy + two semi-join-shaped
    equi-joins on a monotonically SHRINKING edge set;
    RollingCheckpoint truncates lineage so round N never recomputes
    rounds 1..N-1. The Q1 readout runs on the |nodes| degree table
    (single-partition rank window is the right plan there — it is a
    readout grid, not the corpus)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )

    from datanika_core_spark.blocks import RollingCheckpoint

    roll = RollingCheckpoint(spark)
    e = roll(edges)
    d0 = degrees(e)
    wk = Window.orderBy("d", "node")
    q1_row = (
        d0.select(
            "d",
            F.row_number().over(wk).alias("rn"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 4"))
        .first()  # bound: the filter keeps one rank
    )
    if q1_row is None:
        # < 3 graph nodes: rank (n+1) div 4 selects nothing — the
        # oracle's q1 CTE is empty, so every rung reports (NULL k,
        # 0, 0, converged). Mirror it instead of crashing on None.
        out = spark.createDataFrame(
            [(i, None, 0, 0, 1) for i in range(1, _KCL_RUNGS + 1)],
            "rung bigint, k bigint, n_nodes bigint, n_edges bigint,"
            " converged bigint",
        )
        return out.orderBy("rung")
    q1 = int(q1_row["d"])
    out_rows = []
    for i in range(1, _KCL_RUNGS + 1):
        k = max((q1 * i) // 5, 1)
        n_nodes = n_edges = prev_nodes = None
        for _ in range(_KCL_ROUNDS):
            surv = degrees(e).filter(F.col("d") >= k).select("node")
            prev_nodes = n_nodes
            n_nodes = surv.count()
            e = roll(
                e.join(surv.withColumnRenamed("node", "u"), "u")
                .join(surv.withColumnRenamed("node", "v"), "v")
                .select("u", "v")
            )
        n_edges = e.count()
        out_rows.append(
            (i, k, n_nodes, n_edges,
             1 if n_nodes == prev_nodes else 0)
        )
    out = spark.createDataFrame(
        out_rows,
        "rung bigint, k bigint, n_nodes bigint, n_edges bigint,"
        " converged bigint",
    )
    return out.orderBy("rung")


# --------------------------------------------------------------------------
# Exact k-clique census (round 10): triangles, K4, K5 — one ladder.
# Round 11 generalizes the ladder into _clique_ladder so the sampled
# k<=7 estimator (graph_clique_ladder_sampled) reuses the same rungs.
# --------------------------------------------------------------------------


def _clique_ladder(edges: DataFrame, kmax: int) -> dict[int, DataFrame]:
    """Oriented k-clique ladder over an undirected ``(u < v)`` edge
    frame: returns {k: frame with one row per K_k} for 3 <= k <= kmax.
    Every K_k is enumerated exactly once at its orientation-minimum
    vertex — in the (degree, id)-ordered orientation that vertex
    out-points to ALL other members, so level k extends each
    (k-1)-clique at its apex by one more id-ordered out-neighbor
    (Chiba–Nishizeki via the Suri–Vassilvitskii oriented formulation).

    r12 kernel — COMPACT-FORWARD, the triangle-count rewrite
    generalized (guide §2.3/§2.4, §5): each candidate row carries its
    ADMISSIBLE-EXTENSION array ``cand`` = the apex out-neighbors that
    are adjacent to every member so far. Level k explodes ``cand``
    into the next member and shrinks it by one adjacency
    intersection: cand' = {x ∈ cand : x > c_new} ∩ N(c_new) — ONE
    node-keyed equi-join per level against the |V|-row undirected
    adjacency-array table, replacing the k-1 closure-probe joins per
    level that each broadcast the FULL edge list (gated on an eager
    one-pass wedge-bound probe executed at construction). The static
    broadcasts, the probe job, and the probe parameter are gone:
    plan-only construction executes zero jobs here, the planner
    sizes the adjacency joins itself (AQE at runtime), and the OOM
    ceiling of a forced edge-list broadcast no longer exists.

    Exactness: edges are distinct ⇒ adjacency arrays duplicate-free ⇒
    intersections are exact sets; the inherited ``cand`` invariant
    (every element out-points from src and closes with every chosen
    member) is precisely the clique condition, so level-k rows are
    exactly the K_k's, each at its orientation-minimum apex."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u_n"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v_n"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, F.col("u") == F.col("u_n"))
        .join(dv, F.col("v") == F.col("v_n"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    # |V|-row adjacency tables: oriented out-neighbors (extension
    # candidates) and full undirected neighborhoods (closure checks)
    out_adj = oriented.groupBy(F.col("src").alias("o_node")).agg(
        F.collect_list("dst").alias("po")
    )
    und_adj = (
        edges.select(F.col("u").alias("a_node"), F.col("v").alias("nbr"))
        .unionAll(
            edges.select(F.col("v").alias("a_node"), F.col("u").alias("nbr"))
        )
        .groupBy("a_node")
        .agg(F.collect_list("nbr").alias("nb"))
    )

    def shrink(cand_col: str, new_member: str) -> F.Column:
        # {x ∈ cand : x > new} ∩ N(new); id-ascending keeps each
        # clique enumerated once
        return F.array_intersect(
            F.filter(
                F.col(cand_col),
                lambda x: x > F.col(new_member),
            ),
            F.col("nb"),
        )

    # level-2 rows: one per oriented edge, members (src, c1=dst),
    # cand = {x ∈ N+(src) : x > c1} ∩ N(c1)
    cur = (
        oriented.join(out_adj, F.col("src") == F.col("o_node"))
        .join(und_adj, F.col("dst") == F.col("a_node"))
        .select(
            "src",
            F.col("dst").alias("c1"),
            F.array_intersect(
                F.filter(F.col("po"), lambda x: x > F.col("dst")),
                F.col("nb"),
            ).alias("cand"),
        )
    )
    members = ["c1"]
    frames: dict[int, DataFrame] = {}
    for k in range(3, kmax + 1):
        nxt = f"c{k - 1}"
        cur = cur.select(
            "src", *members, F.explode("cand").alias(nxt), "cand"
        )
        if k < kmax:
            cur = (
                cur.join(und_adj, F.col(nxt) == F.col("a_node"))
                .select("src", *members, nxt, shrink("cand", nxt).alias("cand"))
            )
        members.append(nxt)
        frames[k] = cur.select("src", *members)
    return frames


@workload(
    "graph_kclique_census",
    oracle="""
WITH edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT o1.src, o1.dst AS a, o2.dst AS b
  FROM oriented o1 JOIN oriented o2
    ON o1.src = o2.src AND o1.dst < o2.dst
  WHERE EXISTS (SELECT 1 FROM edges e WHERE e.u = o1.dst AND e.v = o2.dst)
),
k4 AS (
  SELECT t.src, t.a, t.b, o3.dst AS c
  FROM tri t JOIN oriented o3 ON o3.src = t.src AND o3.dst > t.b
  WHERE EXISTS (SELECT 1 FROM edges e WHERE e.u = t.a AND e.v = o3.dst)
    AND EXISTS (SELECT 1 FROM edges e WHERE e.u = t.b AND e.v = o3.dst)
),
k5 AS (
  SELECT k.src
  FROM k4 k JOIN oriented o4 ON o4.src = k.src AND o4.dst > k.c
  WHERE EXISTS (SELECT 1 FROM edges e WHERE e.u = k.a AND e.v = o4.dst)
    AND EXISTS (SELECT 1 FROM edges e WHERE e.u = k.b AND e.v = o4.dst)
    AND EXISTS (SELECT 1 FROM edges e WHERE e.u = k.c AND e.v = o4.dst)
)
SELECT CAST(3 AS BIGINT) AS k,
       CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_cliques
UNION ALL
SELECT CAST(4 AS BIGINT), CAST((SELECT count(*) FROM k4) AS BIGINT)
UNION ALL
SELECT CAST(5 AS BIGINT), CAST((SELECT count(*) FROM k5) AS BIGINT)
ORDER BY k
""",
)
def graph_kclique_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT k-clique counts for k = 3, 4, 5 on the co-purchase part
    graph, one ladder (the r9 verdict's clique lead, scoped to the
    levels that stay tractable): every K_k is enumerated exactly once
    at its orientation-minimum vertex — in a (degree, id)-ordered
    orientation the minimum vertex of a clique out-points to ALL
    other members, so level k extends each (k-1)-clique at its apex
    by one more id-ordered out-neighbor and verifies the k-1 new
    edges against the canonical edge list (Chiba–Nishizeki via the
    Suri–Vassilvitskii oriented formulation; finocchi et al.'s
    MapReduce k-clique shape). Measured here: 242k K4 / 127k K5 at
    sf0.01; 1.6M / 1.3M at sf0.1.

    Why NOT the full clique-number sweep: parts co-purchased in one
    order form a clique per order, so ω ≈ max items/order (~7) and
    levels 6-7 still terminate — but each level multiplies candidates
    by the apex out-degree before its verify joins prune, and the
    level-6/7 candidate streams (≈ outdeg × K5) buy two more rungs of
    a ladder whose answer the order-size distribution already gives.
    At 100 TB the honest path to ω is per-level DOULION-style edge
    sampling or an orderkey-grouped max-itemset scan, not deeper
    exact rungs.

    Scale (r12 compact-forward kernel, see _clique_ladder): each
    candidate row carries its admissible-extension array and level k
    is one explode + ONE node-keyed equi-join against the |V|-row
    adjacency-array table — the former closure probes (k-1 joins per
    level, each broadcasting the full edge list behind an eager
    wedge-bound probe job) are gone, along with the broadcast's OOM
    ceiling; plan-only construction executes zero jobs. Measured
    25.7 s → 15.6 s at sf0.1 (2-rep medians, same session).
    Candidates at level k stay bounded by (k-1)-cliques ×
    orientation out-degree — O(m^1.5) worst case at k=3 and
    clique-density-bounded above it, never |V|^k."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    # r12: no eager pair-bound probe and no static edge-list
    # broadcast — the compact-forward ladder (see _clique_ladder)
    # needs neither; plan-only construction executes zero jobs.
    frames = _clique_ladder(edges, 5)

    def n(frame, k):
        return frame.agg(
            F.lit(k).cast("bigint").alias("k"),
            F.count(F.lit(1)).cast("bigint").alias("n_cliques"),
        )

    return (
        n(frames[3], 3).unionAll(n(frames[4], 4))
        .unionAll(n(frames[5], 5)).orderBy("k")
    )


# --------------------------------------------------------------------------
# Sampled k-clique ladder to k = 7 (round 11): the clique-number path
# the exact census's k >= 6 exclusion names (graph.py census docstring:
# "the honest path to ω is per-level DOULION-style edge sampling").
# --------------------------------------------------------------------------


@workload(
    "graph_clique_ladder_sampled",
    oracle=f"""
WITH sampled AS (
  SELECT DISTINCT u, v FROM (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  ) WHERE {_DLN_COIN} <> 0
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM sampled UNION ALL SELECT v FROM sampled
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
  FROM sampled e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
l3 AS (
  SELECT o1.src, o1.dst AS c1, o2.dst AS c2
  FROM oriented o1 JOIN oriented o2
    ON o2.src = o1.src AND o2.dst > o1.dst
  WHERE EXISTS (SELECT 1 FROM sampled e WHERE e.u = o1.dst AND e.v = o2.dst)
),
l4 AS (
  SELECT x.src, x.c1, x.c2, o.dst AS c3
  FROM l3 x JOIN oriented o ON o.src = x.src AND o.dst > x.c2
  WHERE EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c1 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c2 AND e.v = o.dst)
),
l5 AS (
  SELECT x.src, x.c1, x.c2, x.c3, o.dst AS c4
  FROM l4 x JOIN oriented o ON o.src = x.src AND o.dst > x.c3
  WHERE EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c1 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c2 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c3 AND e.v = o.dst)
),
l6 AS (
  SELECT x.src, x.c1, x.c2, x.c3, x.c4, o.dst AS c5
  FROM l5 x JOIN oriented o ON o.src = x.src AND o.dst > x.c4
  WHERE EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c1 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c2 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c3 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c4 AND e.v = o.dst)
),
l7 AS (
  SELECT x.src
  FROM l6 x JOIN oriented o ON o.src = x.src AND o.dst > x.c5
  WHERE EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c1 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c2 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c3 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c4 AND e.v = o.dst)
    AND EXISTS (SELECT 1 FROM sampled e WHERE e.u = x.c5 AND e.v = o.dst)
),
sel AS (
  SELECT 3 AS k, n, round(CAST(n * 64 AS DOUBLE) / 27.0, 6) AS est
  FROM (SELECT count(*) AS n FROM l3)
  UNION ALL
  SELECT 4, n, round(CAST(n * 4096 AS DOUBLE) / 729.0, 6)
  FROM (SELECT count(*) AS n FROM l4)
  UNION ALL
  SELECT 5, n, round(CAST(n * 1048576 AS DOUBLE) / 59049.0, 6)
  FROM (SELECT count(*) AS n FROM l5)
  UNION ALL
  SELECT 6, n, round(CAST(n * 1073741824 AS DOUBLE) / 14348907.0, 6)
  FROM (SELECT count(*) AS n FROM l6)
  UNION ALL
  SELECT 7, n, round(CAST(n * 4398046511104 AS DOUBLE) / 10460353203.0, 6)
  FROM (SELECT count(*) AS n FROM l7)
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n_sampled,
       est AS est_cliques
FROM sel ORDER BY k
""",
)
def graph_clique_ladder_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SAMPLED k-clique ladder to k = 7 on the co-purchase part graph
    — the clique-number estimator graph_kclique_census's k >= 6
    exclusion names as the honest path to ω (its docstring: per-level
    DOULION-style edge sampling). Keep each edge with p = 3/4 via the
    deterministic integer coin (the complement of
    graph_triangle_doulion's p = 1/4 sample — same LCG, keep != 0),
    run the SAME oriented ladder (_clique_ladder) on the sparsified
    graph two rungs past the census, and scale each level's count by
    1/p^C(k,2) — a K_k survives iff all C(k,2) of its edges survive,
    so E[n_sampled · (4/3)^C(k,2)] equals the exact count
    (Tsourakakis' DOULION argument, per level). The scaled estimate
    stays exact-deterministic for the oracle: both engines sparsify
    identically, so n_sampled matches bit-for-bit and est_cliques is
    the same integer product cast to double, divided, and rounded.

    ω readout: the largest k with n_sampled > 0 certifies ω >= k
    (every sampled clique IS a clique of the full graph); est_cliques
    sizes the census beyond the exact rungs. p = 3/4 (not doulion's
    1/4) because the correction grows as (4/3)^C(k,2) — at k = 7
    that's 420× (vs 4^21 ≈ 4.4e12× at p = 1/4, which would zero out
    every rung past the triangles on any graph this size).

    Accuracy is pinned by tests/test_clique_ladder.py: the sf0.001
    realized est/exact ratios (deterministic, fixed coin) are 0.999 /
    1.033 / 1.193 / 1.657 / 3.007 for k = 3..7 — near-exact where the
    correction is small (the exponent pin), decaying as (4/3)^C(k,2)
    amplifies correlated clique survival; sf0.001 is the pathological
    case (its counts still GROW at k = 6 — cliques share edges
    massively, the covariance term Tsourakakis' variance names). The
    n_sampled > 0 ω certificate is variance-free either way. The
    ladder itself is exact on a planted K7-plus-noise graph at every
    rung.

    Scale: identical profile to the exact census on a 3/4-size graph
    — the r12 compact-forward kernel (_clique_ladder): one explode +
    one adjacency-intersection join per level, no closure probes, no
    static broadcasts, no eager wedge-bound probe job (measured
    21.1 s → 8.4 s at sf0.1, 2-rep medians, same session);
    candidates at level k bounded by (k-1)-cliques × orientation
    out-degree. The two extra rungs cost less than the census's
    level 5 on the full graph: level-6 candidates start from
    (3/4)^10 ≈ 0.056 of the exact K5 population. Deeper rungs
    (k = 8, 9, ...) are the same loop with a smaller p — the
    estimator's variance, not the plan shape, is what bounds the
    ladder."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    coin = F.expr(_DLN_COIN)
    sampled = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .filter(coin != 0)
        .select("u", "v")
        .distinct()
        # feeds degrees + orientation + 15 closure probes + 5 counts;
        # materializing once wins (the doulion lesson)
        .localCheckpoint(eager=True)
    )
    # r12: no eager pair-bound probe and no static edge-list
    # broadcast — the compact-forward ladder needs neither. The
    # eager localCheckpoint above remains the one construction-time
    # job: the sampled edge list feeds degree/orientation/adjacency/
    # count branches, and re-running the pair-explode distinct per
    # branch measured strictly worse (the r11 doulion lesson).
    frames = _clique_ladder(sampled, 7)

    def n(frame, k):
        c2 = k * (k - 1) // 2
        cnt = F.count(F.lit(1)).cast("bigint")
        return frame.agg(
            F.lit(k).cast("bigint").alias("k"),
            cnt.alias("n_sampled"),
            F.round(
                (cnt * F.lit(4 ** c2)).cast("double")
                / F.lit(float(3 ** c2)),
                6,
            ).alias("est_cliques"),
        )

    out = n(frames[3], 3)
    for k in (4, 5, 6, 7):
        out = out.unionAll(n(frames[k], k))
    return out.orderBy("k")


# --------------------------------------------------------------------------
# Bounded k-truss peeling (round 11): the EDGE-strength sibling of the
# k-core node peel — drop edges supported by too few triangles.
# --------------------------------------------------------------------------

_KT_ROUNDS = 3  # fixed peel budget (convergence detection is a round)


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support via adjacency intersection
    (compact-forward): s(u, v) = |N(u) ∩ N(v)|, edges with zero
    support omitted. NOT the oriented wedge enumeration the one-shot
    triangle workloads use — an iterative peel re-counts every round,
    and both wedge-closure strategies fail under iteration at scale:
    a broadcast closure stacks one full-edge-list broadcast per round
    faster than the ContextCleaner retires them (measured driver OOM
    at sf0.1), while a sort-merge closure shuffles the entire wedge
    stream (tens of millions of candidates) every round (measured
    heap thrash). The adjacency frame is |V| rows of degree-bounded
    arrays — node-keyed, small, AQE broadcasts it — and the
    intersection work is Σ(deg(u) + deg(v)) per round, no wedge
    materialization at any point."""
    adj = (
        e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(
            e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
        .groupBy("node")
        .agg(F.collect_list("nbr").alias("nb"))
    )
    au = adj.select(F.col("node").alias("u"), F.col("nb").alias("nb_u"))
    av = adj.select(F.col("node").alias("v"), F.col("nb").alias("nb_v"))
    return (
        e.join(au, "u").join(av, "v")
        .select(
            "u", "v",
            F.size(F.array_intersect("nb_u", "nb_v"))
            .cast("bigint").alias("s"),
        )
        .filter(F.col("s") > 0)
    )


def _ktruss_oracle() -> str:
    """Unrolled truss peel (the k-core generated-CTE-chain technique):
    tri{r} enumerates each triangle of e{r-1} once via the u<v<w
    double join, sup{r} counts per-edge support, e{r} keeps edges with
    support >= s_min. s_min derives from the ROUND-0 support
    distribution (discrete lower quartile × 4/5 — the k-core's
    adaptive-integer trick, applied to edges)."""
    steps = []
    for r in range(1, _KT_ROUNDS + 2):
        steps.append(f"""
tri{r} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e{r - 1} e1
  JOIN e{r - 1} e2 ON e2.u = e1.v
  JOIN e{r - 1} e3 ON e3.u = e1.u AND e3.v = e2.v
)""")
        if r > _KT_ROUNDS:
            break
        steps.append(f"""
sup{r} AS MATERIALIZED (
  SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM (
    SELECT a AS u, b AS v FROM tri{r}
    UNION ALL SELECT a, c FROM tri{r}
    UNION ALL SELECT b, c FROM tri{r}
  ) GROUP BY u, v
)""")
        extra = """
s0 AS MATERIALIZED (
  SELECT coalesce(t.s, 0) AS s FROM e0 e
  LEFT JOIN sup1 t ON t.u = e.u AND t.v = e.v
),
hist AS MATERIALIZED (SELECT s, count(*) AS c FROM s0 GROUP BY s),
smin AS MATERIALIZED (
  SELECT greatest((q1 * 4) // 5, 1) AS s_min FROM (
    SELECT min(s) AS q1 FROM (
      SELECT s, sum(c) OVER (ORDER BY s) AS cum,
             (SELECT sum(c) FROM hist) AS n
      FROM hist
    ) WHERE cum >= (n + 1) // 4
  )
),""" if r == 1 else ""
        steps.append(f"""{extra}
e{r} AS MATERIALIZED (
  SELECT u, v FROM sup{r} CROSS JOIN smin WHERE s >= smin.s_min
)""")
    rows = [
        "SELECT 0 AS round, (SELECT count(*) FROM e0) AS n_edges,"
        " (SELECT count(*) FROM tri1) AS n_triangles"
    ]
    for r in range(1, _KT_ROUNDS + 1):
        rows.append(
            f"SELECT {r}, (SELECT count(*) FROM e{r}),"
            f" (SELECT count(*) FROM tri{r + 1})"
        )
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),{",".join(steps)},
summary AS ({" UNION ALL ".join(rows)})
SELECT CAST(s.round AS BIGINT) AS round,
       CAST(s.n_edges AS BIGINT) AS n_edges,
       CAST(s.n_triangles AS BIGINT) AS n_triangles,
       CAST(smin.s_min AS BIGINT) AS s_min,
       CAST(CASE WHEN (SELECT count(*) FROM e{_KT_ROUNDS})
                    = (SELECT count(*) FROM e{_KT_ROUNDS - 1})
                 THEN 1 ELSE 0 END AS BIGINT) AS converged
FROM summary s CROSS JOIN smin
ORDER BY round
"""


@workload("graph_ktruss_bounded", oracle=_ktruss_oracle())
def graph_ktruss_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-truss peeling on the co-purchase part graph — the
    EDGE-strength sibling of graph_kcore_bounded: drop every edge
    whose triangle support within the surviving subgraph falls below
    s_min (truss k = s_min + 2), repeat for a fixed round budget, and
    report per-round edge/triangle counts plus a convergence flag
    (fixed-round semantics, the honest distributed form). The k-truss
    is the standard cohesion cut one notch stronger than the k-core:
    every surviving edge sits in s_min triangles of survivors, so
    communities keep their triangle-dense cores while bridge/spam
    edges peel first (Cohen 2008).

    s_min adapts to sf like the k-core's K: the discrete lower
    quartile of the ROUND-0 support distribution × 4/5 (exact integer
    arithmetic over the support histogram — a window over the ≤ few
    hundred distinct support values, never over the edge list; the
    engine collects that tiny histogram and resolves s_min
    driver-side, the same eager watch-class as the k-core's K).

    Determinism: supports are exact integers, each round a pure set
    operation; the oracle replays identical rounds as a generated
    unrolled CTE chain (tri via the u<v<w double join — same triangle
    set as the engine's degree-ordered orientation, enumerated once
    either way).

    Scale: each round counts support by ADJACENCY INTERSECTION
    (compact-forward), not wedge enumeration — sup_of's docstring has
    the measured failure modes of both closure strategies under
    iteration; the per-round cost is one node-keyed groupBy building
    degree-bounded arrays plus two equi-joins of the edge set against
    that (broadcast-small) frame. Per-round triangle counts come FREE
    from the support frame (sum(s)/3 — each triangle lands on its 3
    edges), and the surviving edge set IS the filtered support frame
    (0-support edges can never survive, s_min >= 1).
    RollingCheckpoints bound lineage and retained blocks to O(1)
    sets; everything reduces to driver ints, so all blocks are
    released before return."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    from datanika_core_spark.blocks import RollingCheckpoint

    roll_e = RollingCheckpoint(spark)
    roll_s = RollingCheckpoint(spark)
    sup_of = _edge_support

    def n_tri(sup: DataFrame) -> int:
        # bound: one aggregate row
        r = sup.agg(F.expr("sum(s) div 3").alias("t")).first()["t"]
        return int(r or 0)

    e = roll_e(edges)
    m0 = e.count()
    sup = roll_s(sup_of(e))
    counts = [(0, m0, n_tri(sup))]
    # s_min from the round-0 support histogram (0-support edges
    # included via m0 minus the support rows), resolved driver-side
    hist = {int(r["s"]): int(r["c"]) for r in
            # bound: one row per edge support value <= max degree
            sup.groupBy("s").agg(F.count(F.lit(1)).alias("c")).collect()}
    hist[0] = hist.get(0, 0) + (m0 - sum(hist.values()))
    target, cum, q1 = (m0 + 1) // 4, 0, 0
    for s_val in sorted(hist):
        cum += hist[s_val]
        if cum >= target:
            q1 = s_val
            break
    s_min = max((q1 * 4) // 5, 1)

    prev_edges = m0
    converged = 0
    for r in range(1, _KT_ROUNDS + 1):
        e = roll_e(sup.filter(F.col("s") >= s_min).select("u", "v"))
        n_e = e.count()
        sup = roll_s(sup_of(e))
        counts.append((r, n_e, n_tri(sup)))
        if r == _KT_ROUNDS and n_e == prev_edges:
            converged = 1
        prev_edges = n_e
    roll_e.release()
    roll_s.release()
    out = spark.createDataFrame(
        [(r, n, nt, s_min, converged) for (r, n, nt) in counts],
        "round bigint, n_edges bigint, n_triangles bigint,"
        " s_min bigint, converged bigint",
    )
    return out.orderBy("round")
