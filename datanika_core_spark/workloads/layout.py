"""Data-layout workloads: quantify what file clustering buys at scan
time (beyond-reference; the measurement companion to
``operators/maintenance.py``'s ``zorder_table`` rewrite).

Zone-map file skipping is the single biggest lever a 100 TB table
has: a reader prunes a parquet file when the predicate falls outside
the file's min/max for that column, so scan cost is proportional to
the number of files whose [min, max] straddles the predicate — a
pure function of LAYOUT. These workloads compute the zone maps a
writer would produce under competing layouts and report the expected
skip rate, turning "should we OPTIMIZE ZORDER this table?" into a
number the optimizer advisor can threshold on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload

_ZL_BITS = 16
_ZL_FILES = 64

# Morton/Z-value of two quantized ints, bit-interleaved over 16
# bits — pure BIGINT shift/mask arithmetic so both engines agree
# bit-for-bit. The inputs are min-max INTEGER-quantized to the full
# 16-bit range first (xq = (x-lo)*65535 div (hi-lo), exact BIGINT —
# same as zorder_table's linear mode but float-free): raw ids would
# leave the narrower column's high bits all-zero and the interleave
# degenerates toward a plain sort on the wider column.
_ZL_SPARK_Z = (
    f"aggregate(sequence(0, {_ZL_BITS - 1}), 0L, (acc, b) -> acc"
    " + shiftleft(shiftright(xq, b) & 1, 2 * b)"
    " + shiftleft(shiftright(yq, b) & 1, 2 * b + 1))"
)
_ZL_DUCK_Z = (
    f"list_sum(list_transform(range(0, {_ZL_BITS}), b ->"
    " ((xq >> b) & 1) * (1::BIGINT << (2 * b))"
    " + ((yq >> b) & 1) * (1::BIGINT << (2 * b + 1))))"
)

# Deterministic sample predicate shared bit-for-bit by both engines:
# md5 of the row key's first 15 hex digits as a (positive) BIGINT,
# modulo 10 000 — the same portable-hash trick the CMS/HLL sketches
# use. xxhash64 would be cheaper Spark-side but has no DuckDB twin.
_ZL_SPARK_SAMPLE_HASH = (
    "pmod(cast(conv(substring(md5(concat(cast(l_orderkey as string),"
    " ':', cast(l_linenumber as string))),1,15),16,10) as bigint),"
    " 10000)"
)
_ZL_DUCK_SAMPLE_HASH = (
    "(('0x'||substring(md5(CAST(l_orderkey AS VARCHAR) || ':' ||"
    " CAST(l_linenumber AS VARCHAR)),1,15))::BIGINT % 10000)"
)


@workload(
    "zorder_file_skipping",
    oracle=f"""
WITH pts AS (
  SELECT l_partkey AS x, l_suppkey AS y,
         l_orderkey AS ok, l_linenumber AS ln
  FROM lineitem
),
lims AS (
  SELECT min(x) AS xlo, max(x) AS xhi, min(y) AS ylo, max(y) AS yhi
  FROM pts
),
quant AS (
  SELECT x, y, ok, ln,
         ((x - xlo) * 65535) // greatest(xhi - xlo, 1) AS xq,
         ((y - ylo) * 65535) // greatest(yhi - ylo, 1) AS yq
  FROM pts, lims
),
keyed AS (
  SELECT x, y, {_ZL_DUCK_Z} AS z, ok, ln FROM quant
),
assigned AS (
  SELECT x, y,
         ntile({_ZL_FILES}) OVER (ORDER BY z, ok, ln) AS f_z,
         ntile({_ZL_FILES}) OVER (ORDER BY x, y, ok, ln) AS f_lex
  FROM keyed
),
spans AS (
  SELECT 'zorder' AS layout, f_z AS f,
         max(x) - min(x) + 1 AS span_x,
         max(y) - min(y) + 1 AS span_y
  FROM assigned GROUP BY f_z
  UNION ALL
  SELECT 'lexicographic', f_lex,
         max(x) - min(x) + 1, max(y) - min(y) + 1
  FROM assigned GROUP BY f_lex
),
globals AS (
  SELECT max(x) - min(x) + 1 AS rx, max(y) - min(y) + 1 AS ry FROM pts
),
per_dim AS (
  SELECT layout, 'l_partkey' AS dim,
         avg(span_x * 1.0 / rx) AS avg_span_frac
  FROM spans, globals GROUP BY layout, rx
  UNION ALL
  SELECT layout, 'l_suppkey', avg(span_y * 1.0 / ry)
  FROM spans, globals GROUP BY layout, ry
)
SELECT layout, dim,
       ROUND(avg_span_frac, 6) AS avg_span_frac,
       ROUND(1 - avg_span_frac, 6) AS est_skip_frac
FROM per_dim
ORDER BY layout, dim
""",
)
def zorder_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skip-rate comparison: Z-order vs lexicographic file
    layout for lineitem clustered on (l_partkey, l_suppkey).

    Both layouts are simulated exactly as a writer would produce
    them: rank rows by the layout's sort key (the Morton z-value of
    the two keys' interleaved low {_ZL_BITS} bits, vs. plain
    (x, y)), cut into {_ZL_FILES} equal files (ntile — the
    fixed-row-count stand-in for fixed-byte file rolls), and take
    each file's per-column min/max — the zone map a parquet footer
    carries. For a uniformly random point/range predicate on one
    column, the probability a file CANNOT be skipped is its span
    over the global range, so ``avg_span_frac`` IS the expected
    fraction of files scanned and ``est_skip_frac`` the expected
    skip rate. The signature result (measured, sf0.01, 64 files):
    lexicographic skips 98.4% on the leading key and 0% on the
    trailing one (every file spans all of l_suppkey), while z-order
    skips 77.8% AND 83.7% — both dimensions get ~sqrt-of-file-count
    locality, the measured argument for ``zorder_table`` on tables
    filtered along varying dimensions.

    The z-value itself is one integer fold per row (shift/mask over
    {_ZL_BITS} bit positions, identical BIGINT arithmetic in both
    engines — no floats anywhere before the final ratio).

    Scale: this is a DIAGNOSTIC over the table's key distribution —
    the global ntile ranking here is the sf-scale stand-in for the
    ``repartitionByRange`` the real rewrite (zorder_table) performs.
    At 100 TB run :func:`zorder_skip_rate_sampled` instead — the
    same measurement on a 1% hash sample with per-file span bias
    correction, accurate to ±0.05 at ~90 sampled rows per file and
    ~3 decimals at warehouse-scale file sizes
    (tests/test_layout_sample.py pins the tolerance). The output is
    4 rows; the decision it feeds (rewrite or not) costs a
    full-table shuffle, so a measurement pass that prices it first
    is the cheap half of the trade."""
    pts = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("x"),
        F.col("l_suppkey").alias("y"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    return _skip_rate_frame(pts)


def zorder_skip_rate_sampled(
    spark: SparkSession,
    sf_dir: str,
    fraction: float = 0.01,
    n_files: int = _ZL_FILES,
) -> DataFrame:
    """The 100 TB form of ``zorder_file_skipping``: the same
    skip-rate measurement on a deterministic hash SAMPLE of the
    table, with per-file span bias correction.

    Why it works: both layout rankings (z-value, lexicographic) are
    order statistics, and ntile boundaries over a uniform sample
    converge to the full-table file boundaries; the only systematic
    error is that a file's sampled min/max UNDERSHOOTS its true span
    — for n sampled rows uniform in a span, the observed span is
    (n-1)/(n+1) of the truth — so each file's span is corrected by
    (n+1)/(n-1) before averaging (clamped to the global range).

    Accuracy: with n = N·fraction / n_files rows per file the
    corrected per-file span estimate has relative sampling error
    O(1/n); the tolerance the unit test pins is ±0.05 absolute on
    every avg_span_frac / est_skip_frac at n ≈ 90
    (tests/test_layout_sample.py). At 100 TB with fraction=0.01 and
    n_files sized to real file rolls, n per file is 10⁵+, and the
    estimate is exact to ~3 decimals.

    Scale: the sample predicate is a map-side hash filter in the
    scan (no shuffle added; md5-based so the DuckDB oracle replays
    the exact sample — see _ZL_SPARK_SAMPLE_HASH); everything downstream runs on
    fraction·N rows, so the advisor costs ~1% of a scan instead of
    a full-table sort — the cheap half of the rewrite-or-not trade.
    """
    pct = max(1, int(round(fraction * 10_000)))
    pts = (
        t(spark, sf_dir, "lineitem")
        .filter(F.expr(f"{_ZL_SPARK_SAMPLE_HASH} < {pct}"))
        .select(
            F.col("l_partkey").alias("x"),
            F.col("l_suppkey").alias("y"),
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").alias("ln"),
        )
    )
    return _skip_rate_frame(pts, n_files=n_files, correct_spans=True)


def _skip_rate_frame(
    pts: DataFrame,
    n_files: int = _ZL_FILES,
    correct_spans: bool = False,
) -> DataFrame:
    """Shared measurement: quantize → z/lex rank → ntile files →
    per-file spans (optionally (n+1)/(n-1)-bias-corrected for
    sampled input) → per-dim average span fraction."""
    lims = pts.agg(
        F.min("x").alias("xlo"), F.max("x").alias("xhi"),
        F.min("y").alias("ylo"), F.max("y").alias("yhi"),
    )
    quant = pts.crossJoin(lims).select(
        "x", "y", "ok", "ln",
        F.expr("((x - xlo) * 65535) div greatest(xhi - xlo, 1)").alias("xq"),
        F.expr("((y - ylo) * 65535) div greatest(yhi - ylo, 1)").alias("yq"),
    )
    from datanika_core_spark.operators.ranking import (
        global_ntile,
        quantile_boundaries,
    )

    keyed = quant.withColumn("z", F.expr(_ZL_SPARK_Z))
    # one boundary scan for both ntile frames — chaining without it
    # executes the z-frame inside the lex-frame's boundary scan
    bz, bx = quantile_boundaries(keyed, ["z", "x"])
    assigned = global_ntile(
        global_ntile(keyed, ["z", "ok", "ln"], n_files, "f_z",
                     boundaries=bz),
        ["x", "y", "ok", "ln"], n_files, "f_lex", boundaries=bx,
    ).select("x", "y", "f_z", "f_lex")
    # per-file span bias correction for sampled input: n uniform
    # samples inside a span observe (n-1)/(n+1) of it on average, so
    # the sampled extreme-based span scales back up by (n+1)/(n-1)
    corr = (
        F.expr("case when n > 1 then cast(n + 1 as double) / (n - 1)"
               " else cast(1 as double) end")
        if correct_spans else F.lit(1.0)
    )
    spans_z = assigned.groupBy("f_z").agg(
        (F.max("x") - F.min("x") + 1).alias("span_x"),
        (F.max("y") - F.min("y") + 1).alias("span_y"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.lit("zorder").alias("layout"), "span_x", "span_y", "n")
    spans_lex = assigned.groupBy("f_lex").agg(
        (F.max("x") - F.min("x") + 1).alias("span_x"),
        (F.max("y") - F.min("y") + 1).alias("span_y"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.lit("lexicographic").alias("layout"), "span_x", "span_y", "n")
    spans = spans_z.unionAll(spans_lex).withColumn("corr", corr)
    g = pts.agg(
        (F.max("x") - F.min("x") + 1).alias("rx"),
        (F.max("y") - F.min("y") + 1).alias("ry"),
    )
    per_dim = (
        spans.crossJoin(g)
        .groupBy("layout")
        .agg(
            F.avg(F.least(F.col("span_x") * F.col("corr"), F.col("rx"))
                  / F.col("rx")).alias("sx"),
            F.avg(F.least(F.col("span_y") * F.col("corr"), F.col("ry"))
                  / F.col("ry")).alias("sy"),
        )
        .select(
            "layout",
            F.explode(
                F.create_map(
                    F.lit("l_partkey"), F.col("sx"),
                    F.lit("l_suppkey"), F.col("sy"),
                )
            ).alias("dim", "avg_span_frac"),
        )
    )
    return per_dim.select(
        "layout", "dim",
        F.round("avg_span_frac", 6).alias("avg_span_frac"),
        F.round(1 - F.col("avg_span_frac"), 6).alias("est_skip_frac"),
    ).orderBy("layout", "dim")


@workload(
    "zorder_skip_rate_sampled",
    oracle=f"""
WITH pts AS (
  SELECT l_partkey AS x, l_suppkey AS y,
         l_orderkey AS ok, l_linenumber AS ln
  FROM lineitem
  WHERE {_ZL_DUCK_SAMPLE_HASH} < 1000
),
lims AS (
  SELECT min(x) AS xlo, max(x) AS xhi, min(y) AS ylo, max(y) AS yhi
  FROM pts
),
quant AS (
  SELECT x, y, ok, ln,
         ((x - xlo) * 65535) // greatest(xhi - xlo, 1) AS xq,
         ((y - ylo) * 65535) // greatest(yhi - ylo, 1) AS yq
  FROM pts, lims
),
keyed AS (
  SELECT x, y, {_ZL_DUCK_Z} AS z, ok, ln FROM quant
),
assigned AS (
  SELECT x, y,
         ntile({_ZL_FILES}) OVER (ORDER BY z, ok, ln) AS f_z,
         ntile({_ZL_FILES}) OVER (ORDER BY x, y, ok, ln) AS f_lex
  FROM keyed
),
spans AS (
  SELECT 'zorder' AS layout,
         max(x) - min(x) + 1 AS span_x,
         max(y) - min(y) + 1 AS span_y,
         count(*) AS n
  FROM assigned GROUP BY f_z
  UNION ALL
  SELECT 'lexicographic',
         max(x) - min(x) + 1, max(y) - min(y) + 1, count(*)
  FROM assigned GROUP BY f_lex
),
corrected AS (
  SELECT layout, n,
         span_x * (CASE WHEN n > 1
                        THEN CAST(n + 1 AS DOUBLE) / (n - 1)
                        ELSE CAST(1 AS DOUBLE) END) AS cx,
         span_y * (CASE WHEN n > 1
                        THEN CAST(n + 1 AS DOUBLE) / (n - 1)
                        ELSE CAST(1 AS DOUBLE) END) AS cy
  FROM spans
),
globals AS (
  SELECT max(x) - min(x) + 1 AS rx, max(y) - min(y) + 1 AS ry FROM pts
),
per_dim AS (
  SELECT layout, 'l_partkey' AS dim,
         avg(least(cx, rx) / rx) AS avg_span_frac
  FROM corrected, globals GROUP BY layout, rx
  UNION ALL
  SELECT layout, 'l_suppkey', avg(least(cy, ry) / ry)
  FROM corrected, globals GROUP BY layout, ry
)
SELECT layout, dim,
       ROUND(avg_span_frac, 6) AS avg_span_frac,
       ROUND(1 - avg_span_frac, 6) AS est_skip_frac
FROM per_dim
ORDER BY layout, dim
""",
)
def zorder_skip_rate_sampled_wl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered (oracle-paired) form of
    :func:`zorder_skip_rate_sampled` at fraction=0.1 — a DIAGNOSTIC
    advisor row, deliberately not a bench headline. The deterministic
    md5 sample predicate is shared bit-for-bit with the DuckDB
    oracle, so the whole sampled measurement (sample -> quantize ->
    Morton interleave -> ntile files -> bias-corrected spans) is
    value-checked end to end, not just unit-toleranced against the
    full-table run (tests/test_layout_sample.py keeps that accuracy
    contract pinned separately)."""
    return zorder_skip_rate_sampled(spark, sf_dir, fraction=0.1)


# --------------------------------------------------------------------------
# Small-files compaction plan (sorted round-robin bin assignment).
# --------------------------------------------------------------------------

_CPT_TARGET = 32768  # target output file size (bytes; n_chars proxy)


@workload(
    "compaction_plan_advisor",
    oracle=f"""
WITH files AS (
  SELECT source, doc_id, n_chars AS bytes FROM documents
),
per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(bytes) AS BIGINT) AS total_bytes,
         greatest(CAST(ceil(sum(bytes) * 1.0 / {_CPT_TARGET}) AS BIGINT),
                  1) AS n_bins
  FROM files GROUP BY source
),
assigned AS (
  SELECT f.source, f.bytes, p.n_bins,
         (row_number() OVER (PARTITION BY f.source
                             ORDER BY f.bytes DESC, f.doc_id) - 1)
           % p.n_bins AS bin
  FROM files f JOIN per_src p ON p.source = f.source
),
loads AS (
  SELECT source, bin, CAST(sum(bytes) AS BIGINT) AS bin_bytes
  FROM assigned GROUP BY source, bin
)
SELECT p.source, p.n_files, p.total_bytes, p.n_bins,
       CAST(max(l.bin_bytes) AS BIGINT) AS max_bin_bytes,
       ROUND(max(l.bin_bytes) * 1.0 * p.n_bins / p.total_bytes, 4)
         AS balance_ratio
FROM per_src p JOIN loads l ON l.source = p.source
GROUP BY p.source, p.n_files, p.total_bytes, p.n_bins
ORDER BY p.source
""",
)
def compaction_plan_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction plan — the operational answer to the
    classic Spark/HDFS small-files problem: per ingest source,
    choose n_bins = ceil(total/target) output files and assign input
    files to bins ROUND-ROBIN IN SIZE-DESCENDING ORDER (the LPT-style
    greedy: big files spread first, small ones backfill), then report
    the worst bin's overshoot vs the ideal even split
    (balance_ratio → 1.0 = perfectly balanced compaction). This is
    the plan a compaction job executes with one
    repartitionByRange/custom-partitioner pass; the advisor costs
    one rank window + one aggregate.

    Determinism: sizes and bin ids are exact integers (rank has a
    doc_id tiebreak); the only division is the final reported ratio.
    Scale: per-source windows parallelize across sources; file
    MANIFESTS (not data) are what's ranked — even a 100 TB lake's
    manifest is millions of rows, trivially one executor's work per
    source. The data movement itself is the separate compaction job
    this plan feeds."""
    from pyspark.sql import Window

    files = t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").alias("bytes")
    )
    per_src = files.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.greatest(
            F.ceil(F.sum("bytes") * 1.0 / _CPT_TARGET).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("n_bins"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("bytes").desc(), "doc_id"
    )
    assigned = (
        # bound: <= |source| rows
        files.join(F.broadcast(per_src.select("source", "n_bins")), "source")
        .select(
            "source", "bytes", "n_bins",
            ((F.row_number().over(w) - 1) % F.col("n_bins")).alias("bin"),
        )
    )
    loads = assigned.groupBy("source", "bin").agg(
        F.sum("bytes").cast("bigint").alias("bin_bytes")
    )
    return (
        loads.join(F.broadcast(per_src), "source")  # bound: <= |source| rows
        .groupBy("source", "n_files", "total_bytes", "n_bins")
        .agg(
            F.max("bin_bytes").cast("bigint").alias("max_bin_bytes"),
            F.round(
                F.max("bin_bytes") * 1.0 * F.col("n_bins")
                / F.col("total_bytes"),
                4,
            ).alias("balance_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# First-fit-decreasing compaction packing (round 8) — the DO step
# after compaction_plan_advisor's WHICH step.
# --------------------------------------------------------------------------

_FFD_MAX_ITEMS = 24  # oracle unroll bound (sources are ~20 at any sf)


def _ffd_oracle() -> str:
    """Unrolled first-fit-decreasing: step i assigns the i-th largest
    item to the lowest-id bin with room (or opens a new bin). Same
    generated-CTE-chain technique as the k-center oracle
    (similarity._kc_oracle)."""
    steps = []
    for i in range(1, _FFD_MAX_ITEMS + 1):
        steps.append(f"""
a{i} AS MATERIALIZED (
  SELECT it.source, it.sz,
         coalesce((SELECT min(b.bin_id) FROM b{i - 1} b CROSS JOIN cap
                   WHERE b.load + it.sz <= cap.c),
                  (SELECT coalesce(max(bin_id), 0) + 1 FROM b{i - 1}))
           AS bin_id
  FROM (SELECT source, sz FROM items WHERE rn = {i}) it
),
b{i} AS MATERIALIZED (
  SELECT bin_id, CAST(sum(load) AS BIGINT) AS load FROM (
    SELECT bin_id, load FROM b{i - 1}
    UNION ALL
    SELECT bin_id, sz AS load FROM a{i}
  ) GROUP BY bin_id
)""")
    unions = "\nUNION ALL ".join(
        f"SELECT * FROM a{i}" for i in range(1, _FFD_MAX_ITEMS + 1)
    )
    return f"""
WITH items AS MATERIALIZED (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS sz,
         row_number() OVER (ORDER BY sum(n_chars) DESC, source) AS rn
  FROM documents GROUP BY source
),
cap AS MATERIALIZED (SELECT CAST(max(sz) * 2 AS BIGINT) AS c FROM items),
b0 AS (SELECT CAST(NULL AS BIGINT) AS bin_id,
              CAST(NULL AS BIGINT) AS load WHERE 1 = 0),{",".join(steps)},
assign AS ({unions}),
final_bins AS (SELECT * FROM b{_FFD_MAX_ITEMS}),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bins FROM final_bins)
SELECT a.source, CAST(a.sz AS BIGINT) AS sz,
       CAST(a.bin_id AS BIGINT) AS bin_id,
       fb.load AS bin_load, nb.n_bins
FROM assign a
JOIN final_bins fb ON fb.bin_id = a.bin_id
CROSS JOIN nb
ORDER BY a.source
"""


@workload("pack_ffd_compaction", oracle=_ffd_oracle())
def pack_ffd_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing of per-source byte totals
    into compaction targets of capacity 2·max(size) — the classic
    small-files compaction planner (FFD is the textbook 11/9·OPT+1
    heuristic): sort items by size descending, put each into the
    first bin with room. Reports every source's bin assignment, the
    final bin loads, and the bin count.

    Determinism: item sizes are exact BIGINT char totals; order is
    (size DESC, source); first-fit picks the LOWEST bin id — the
    whole run is integer arithmetic, and the oracle replays the
    identical sequential recurrence as an unrolled CTE chain (the
    k-center technique).

    Scale: the cluster does ONE combiner-friendly groupBy to the
    per-source totals; packing runs on the ≤|sources| driver rows
    (O(k) driver state, global rule 4 of docs/SCALE.md) — at 100 TB
    the items are file-group manifests (thousands), still driver
    trivia, while the data never moves until the plan executes."""
    sizes = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("sz"))
        .collect()  # bound: one row per source
    )
    items = sorted(sizes, key=lambda r: (-r["sz"], r["source"]))
    if len(items) > _FFD_MAX_ITEMS:
        raise ValueError(
            f"FFD oracle unrolls {_FFD_MAX_ITEMS} steps;"
            f" got {len(items)} sources"
        )
    cap = 2 * max(r["sz"] for r in items)
    loads: list[int] = []
    assign: list[tuple[str, int, int]] = []
    for r in items:
        placed = None
        for b, ld in enumerate(loads):
            if ld + r["sz"] <= cap:
                placed = b
                break
        if placed is None:
            loads.append(r["sz"])
            placed = len(loads) - 1
        else:
            loads[placed] += r["sz"]
        assign.append((r["source"], int(r["sz"]), placed + 1))
    n_bins = len(loads)
    out = spark.createDataFrame(
        [
            (s, sz, b, int(loads[b - 1]), n_bins)
            for (s, sz, b) in assign
        ],
        "source string, sz bigint, bin_id bigint,"
        " bin_load bigint, n_bins bigint",
    )
    return out.orderBy("source")


# --------------------------------------------------------------------------
# Hilbert curve vs Z-order: the liquid-clustering layout question.
# --------------------------------------------------------------------------

_HB_BITS = 8          # 8 bits/axis -> 256x256 grid, d in [0, 65536)
_HB_FILES = _ZL_FILES


def _hilbert_levels(bits: int = _HB_BITS) -> list[tuple[str, str, str]]:
    """Per-level (hd, hx, hy) transform texts for the standard Hilbert
    xy->d recurrence, unrolled over ``bits`` levels (s = 2^(bits-1)
    ... 1). PORTABLE SQL: only ``&`` on BIGINTs, literal arithmetic,
    and CASE — no shifts (DuckDB spells them >>/<<, Spark as
    functions), no xor (DuckDB's ^ is exponentiation), no lambdas
    (stale-exprId trap under the downstream ranking self-join), so
    ONE generated text drives both engines bit-for-bit. Quadrant code
    (3*rx)^ry and the ry=0 rotate/reflect are expanded into the CASE
    arms; validated cell-exhaustively against a reference
    implementation and by the defining locality property (every
    consecutive d step is Manhattan-adjacent) in
    tests/test_r11_properties.py."""
    lvls = []
    for i in range(bits):
        s = 2 ** (bits - 1 - i)
        hd = (
            f"hd + {s * s} * (CASE"
            f" WHEN (hx & {s}) > 0 AND (hy & {s}) > 0 THEN 2"
            f" WHEN (hx & {s}) > 0 THEN 3"
            f" WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        )
        hx = (
            f"CASE WHEN (hy & {s}) > 0 THEN hx"
            f" WHEN (hx & {s}) > 0 THEN {s - 1} - hy ELSE hy END"
        )
        hy = (
            f"CASE WHEN (hy & {s}) > 0 THEN hy"
            f" WHEN (hx & {s}) > 0 THEN {s - 1} - hx ELSE hx END"
        )
        lvls.append((hd, hx, hy))
    return lvls


#: 8-bit Morton z-value on the SAME 256x256 grid, as literal-arithmetic
#: portable SQL: (xq & 2^b) is 0 or 2^b; * 2^b lands it at bit 2b
#: (* 2^(b+1) at 2b+1 for y) — no shift operators, one text both engines.
_HB_Z = " + ".join(
    f"(xq & {1 << b}) * {1 << b} + (yq & {1 << b}) * {1 << (b + 1)}"
    for b in range(_HB_BITS)
)

_HB_QX = "((x - xlo) * 255) {div} greatest(xhi - xlo, 1) AS xq"
_HB_QY = "((y - ylo) * 255) {div} greatest(yhi - ylo, 1) AS yq"

#: Spark spelling of the SAME recurrence as ONE aggregate() fold over
#: the bit levels (s = 2^(bits-1-i)), struct accumulator (hx, hy, hd).
#: See the workload docstring for why the oracle's per-level unroll
#: cannot be used here (CollapseProject expression-tree explosion).
_HB_SPARK_H = (
    f"aggregate(sequence(0, {_HB_BITS - 1}),"
    " named_struct('hx', xq, 'hy', yq, 'hd', cast(0 as bigint)),"
    " (acc, i) -> named_struct("
    f"'hx', CASE WHEN (acc.hy & shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i)) > 0 THEN acc.hx"
    f" WHEN (acc.hx & shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i)) > 0"
    f" THEN shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i) - 1 - acc.hy ELSE acc.hy END,"
    f" 'hy', CASE WHEN (acc.hy & shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i)) > 0 THEN acc.hy"
    f" WHEN (acc.hx & shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i)) > 0"
    f" THEN shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i) - 1 - acc.hx ELSE acc.hx END,"
    f" 'hd', acc.hd + shiftleft(cast(1 as bigint), 2 * ({_HB_BITS - 1} - i)) * (CASE"
    f" WHEN (acc.hx & shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i)) > 0"
    f" AND (acc.hy & shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i)) > 0 THEN 2"
    f" WHEN (acc.hx & shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i)) > 0 THEN 3"
    f" WHEN (acc.hy & shiftleft(cast(1 as bigint), {_HB_BITS - 1} - i)) > 0 THEN 1 ELSE 0 END)),"
    " acc -> acc.hd)"
)


def _hb_oracle() -> str:
    hchain = ["h0 AS (SELECT x, y, ok, ln, xq AS hx, yq AS hy,"
              " 0 AS hd, " + _HB_Z + " AS z FROM quant)"]
    for i, (hd, hx, hy) in enumerate(_hilbert_levels()):
        hchain.append(
            f"h{i + 1} AS (SELECT x, y, ok, ln, z, {hd} AS hd,"
            f" {hx} AS hx, {hy} AS hy FROM h{i})"
        )
    return f"""
WITH pts AS (
  SELECT l_partkey AS x, l_suppkey AS y,
         l_orderkey AS ok, l_linenumber AS ln
  FROM lineitem
),
lims AS (
  SELECT min(x) AS xlo, max(x) AS xhi, min(y) AS ylo, max(y) AS yhi
  FROM pts
),
quant AS (
  SELECT x, y, ok, ln, {_HB_QX.format(div='//')},
         {_HB_QY.format(div='//')}
  FROM pts, lims
),
{','.join(hchain)},
assigned AS (
  SELECT x, y,
         ntile({_HB_FILES}) OVER (ORDER BY hd, ok, ln) AS f_h,
         ntile({_HB_FILES}) OVER (ORDER BY z, ok, ln) AS f_z
  FROM h{_HB_BITS}
),
spans AS (
  SELECT 'hilbert' AS layout, f_h AS f,
         max(x) - min(x) + 1 AS span_x,
         max(y) - min(y) + 1 AS span_y
  FROM assigned GROUP BY f_h
  UNION ALL
  SELECT 'zorder', f_z,
         max(x) - min(x) + 1, max(y) - min(y) + 1
  FROM assigned GROUP BY f_z
),
globals AS (
  SELECT max(x) - min(x) + 1 AS rx, max(y) - min(y) + 1 AS ry FROM pts
),
per_dim AS (
  SELECT layout, 'l_partkey' AS dim,
         avg(least(span_x, rx) * 1.0 / rx) AS avg_span_frac
  FROM spans, globals GROUP BY layout
  UNION ALL
  SELECT layout, 'l_suppkey',
         avg(least(span_y, ry) * 1.0 / ry)
  FROM spans, globals GROUP BY layout
)
SELECT layout, dim, round(avg_span_frac, 6) AS avg_span_frac,
       round(1 - avg_span_frac, 6) AS est_skip_frac
FROM per_dim
ORDER BY layout, dim
"""


@workload("hilbert_vs_zorder_skipping", oracle=_hb_oracle())
def hilbert_vs_zorder_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zone-map skip-rate comparison: HILBERT-curve vs Z-order file
    layout for lineitem clustered on (l_partkey, l_suppkey) — the
    measurement behind preferring Hilbert for multi-dimensional
    clustering (e.g. Delta's liquid clustering): both are
    space-filling curves, but every consecutive Hilbert step is
    Manhattan-adjacent while Morton takes long diagonal jumps at
    quadrant boundaries, so equal-row file cuts along Hilbert rank
    get tighter per-dimension min/max zone maps. Both layouts are
    computed on the SAME 256x256 quantized grid ({_HB_BITS} bits per
    axis) so the comparison isolates the curve, not the resolution.

    The Hilbert index is the textbook xy->d recurrence over
    {_HB_BITS} integer transform levels. The DuckDB oracle unrolls
    them into a CTE chain (_hilbert_levels); the Spark side folds
    them in ONE ``aggregate()`` higher-order expression (_HB_SPARK_H)
    carrying (hx, hy, hd) in a struct accumulator — NOT the same
    chained-projection unroll: CollapseProject inlines consecutive
    projections, and each level references the previous hx/hy in
    several CASE arms, so the unrolled chain builds a ~3^{_HB_BITS}
    expression tree (measured: analyzer OOM at sf0.01). The fold is
    linear-size and loops at runtime. Both spellings implement the
    identical integer recurrence — pinned cell-exhaustively against a
    reference implementation (tests/test_r11_properties.py); no
    floats anywhere before the final ratio.
    Ranking/ntile-ing into {_HB_FILES} files uses the distributed
    frozen-quantile ntile with ONE shared boundary scan for both
    layout keys. Scale: same diagnostic shape as
    zorder_file_skipping — at 100 TB run the measurement on the
    deterministic 1% hash sample (zorder_skip_rate_sampled's span
    bias correction applies unchanged to the Hilbert rank)."""
    from datanika_core_spark.operators.ranking import (
        global_ntile,
        quantile_boundaries,
    )

    pts = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("x"),
        F.col("l_suppkey").alias("y"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    lims = pts.agg(
        F.min("x").alias("xlo"), F.max("x").alias("xhi"),
        F.min("y").alias("ylo"), F.max("y").alias("yhi"),
    )
    quant = pts.crossJoin(lims).selectExpr(
        "x", "y", "ok", "ln",
        _HB_QX.format(div="div"), _HB_QY.format(div="div"),
    )
    keyed = quant.selectExpr(
        "x", "y", "ok", "ln",
        _HB_SPARK_H + " AS h", _HB_Z + " AS z",
    )
    bh, bz = quantile_boundaries(keyed, ["h", "z"])
    assigned = global_ntile(
        global_ntile(keyed, ["h", "ok", "ln"], _HB_FILES, "f_h",
                     boundaries=bh),
        ["z", "ok", "ln"], _HB_FILES, "f_z", boundaries=bz,
    ).select("x", "y", "f_h", "f_z")
    spans_h = assigned.groupBy("f_h").agg(
        (F.max("x") - F.min("x") + 1).alias("span_x"),
        (F.max("y") - F.min("y") + 1).alias("span_y"),
    ).select(F.lit("hilbert").alias("layout"), "span_x", "span_y")
    spans_z = assigned.groupBy("f_z").agg(
        (F.max("x") - F.min("x") + 1).alias("span_x"),
        (F.max("y") - F.min("y") + 1).alias("span_y"),
    ).select(F.lit("zorder").alias("layout"), "span_x", "span_y")
    g = pts.agg(
        (F.max("x") - F.min("x") + 1).alias("rx"),
        (F.max("y") - F.min("y") + 1).alias("ry"),
    )
    per_dim = (
        spans_h.unionAll(spans_z)
        .crossJoin(g)
        .groupBy("layout")
        .agg(
            F.avg(F.least("span_x", "rx") / F.col("rx")).alias("sx"),
            F.avg(F.least("span_y", "ry") / F.col("ry")).alias("sy"),
        )
        .select(
            "layout",
            F.explode(
                F.create_map(
                    F.lit("l_partkey"), F.col("sx"),
                    F.lit("l_suppkey"), F.col("sy"),
                )
            ).alias("dim", "avg_span_frac"),
        )
    )
    return per_dim.select(
        "layout", "dim",
        F.round("avg_span_frac", 6).alias("avg_span_frac"),
        F.round(1 - F.col("avg_span_frac"), 6).alias("est_skip_frac"),
    ).orderBy("layout", "dim")
