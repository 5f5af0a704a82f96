"""Data-quality constraint suite (Deequ-style, Schelter et al. 2018
"Automating Large-Scale Data Quality Verification"): declarative
constraints evaluated as ONE aggregation pass per table, emitted as
a (check_name, target, observed, threshold, passed) report frame.

This is the warehouse-scale generalization of the reference's
model-level data tests (datanika: dbt generic tests — unique /
not_null / accepted_values / relationships, see
plans/model_tests.py): the same four test semantics, but fused into
single-scan aggregate plans instead of one query per test, plus
range checks — the shape that audits a 100 TB table for the cost of
one scan.

Scale notes:
- Every per-table constraint compiles to ONE agg over ONE scan
  (conditional sums — map-side combinable, zero extra shuffles;
  Catalyst prunes the scan to exactly the referenced columns).
- The referential check (lineitem → orders) is the only join; it
  ships only the DISTINCT key projection of each side, and AQE
  picks broadcast when the dimension's key set fits.
- `stack()` pivots the 1-row metric frame into report rows
  driver-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload


@workload(
    "dq_constraint_report",
    oracle="""
WITH o AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS pk_dups,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_custkey,
         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS nonpos_price
  FROM orders
),
l AS (
  SELECT CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS qty_oob,
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                       THEN 1 ELSE 0 END) AS BIGINT) AS disc_oob
  FROM lineitem
),
orph AS (
  SELECT CAST(count(*) AS BIGINT) AS fk_orphans
  FROM (SELECT DISTINCT l_orderkey FROM lineitem) li
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) oo
    ON oo.o_orderkey = li.l_orderkey
  WHERE oo.o_orderkey IS NULL
)
SELECT * FROM (
  SELECT 'row_count_min' AS check_name, 'orders' AS target,
         n_rows AS observed, CAST(1 AS BIGINT) AS threshold,
         n_rows >= 1 AS passed FROM o
  UNION ALL
  SELECT 'pk_unique', 'orders.o_orderkey', pk_dups, 0, pk_dups <= 0 FROM o
  UNION ALL
  SELECT 'not_null', 'orders.o_custkey', null_custkey, 0,
         null_custkey <= 0 FROM o
  UNION ALL
  SELECT 'accepted_values', 'orders.o_orderstatus', bad_status, 0,
         bad_status <= 0 FROM o
  UNION ALL
  SELECT 'positive', 'orders.o_totalprice', nonpos_price, 0,
         nonpos_price <= 0 FROM o
  UNION ALL
  SELECT 'range_1_50', 'lineitem.l_quantity', qty_oob, 0,
         qty_oob <= 0 FROM l
  UNION ALL
  SELECT 'range_0_01', 'lineitem.l_discount', disc_oob, 0,
         disc_oob <= 0 FROM l
  UNION ALL
  SELECT 'fk_exists', 'lineitem.l_orderkey->orders', fk_orphans, 0,
         fk_orphans <= 0 FROM orph
)
ORDER BY check_name, target
""",
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint report over orders/lineitem: primary-key
    uniqueness, not-null, accepted values, positivity, value range,
    discount-range, and referential
    integrity — all BIGINT violation counts (exact, hash-stable),
    evaluated in one aggregation pass per table plus one
    distinct-key join for the FK check. The report is the engine's
    gate-a-load primitive: `passed = false` rows are what a pipeline
    run would fail on (reference parity: dbt's unique / not_null /
    accepted_values / relationships tests, plans/model_tests.py —
    here fused into per-table single scans for warehouse scale)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    o_m = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .cast("bigint").alias("pk_dups"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint").alias("null_custkey"),
        F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
              .otherwise(0)).cast("bigint").alias("bad_status"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint").alias("nonpos_price"),
    )
    l_m = li.agg(
        F.sum(F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
                     1).otherwise(0)).cast("bigint").alias("qty_oob"),
        F.sum(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
                     1).otherwise(0)).cast("bigint").alias("disc_oob"),
    )
    orph = (
        li.select("l_orderkey").distinct()
        .join(o.select("o_orderkey").distinct(),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fk_orphans"))
    )
    o_rows = o_m.select(F.expr(
        "stack(5,"
        " 'row_count_min', 'orders', n_rows, cast(1 as bigint),"
        " 'pk_unique', 'orders.o_orderkey', pk_dups, cast(0 as bigint),"
        " 'not_null', 'orders.o_custkey', null_custkey, cast(0 as bigint),"
        " 'accepted_values', 'orders.o_orderstatus', bad_status,"
        "   cast(0 as bigint),"
        " 'positive', 'orders.o_totalprice', nonpos_price,"
        "   cast(0 as bigint)"
        ") as (check_name, target, observed, threshold)"
    ))
    l_rows = l_m.select(F.expr(
        "stack(2,"
        " 'range_1_50', 'lineitem.l_quantity', qty_oob, cast(0 as bigint),"
        " 'range_0_01', 'lineitem.l_discount', disc_oob,"
        "   cast(0 as bigint)"
        ") as (check_name, target, observed, threshold)"
    ))
    f_rows = orph.select(
        F.lit("fk_exists").alias("check_name"),
        F.lit("lineitem.l_orderkey->orders").alias("target"),
        F.col("fk_orphans").alias("observed"),
        F.lit(0).cast("bigint").alias("threshold"),
    )
    rows = o_rows.unionByName(l_rows).unionByName(f_rows)
    passed = F.when(
        F.col("check_name") == "row_count_min",
        F.col("observed") >= F.col("threshold"),
    ).otherwise(F.col("observed") <= F.col("threshold"))
    return rows.withColumn("passed", passed).orderBy("check_name", "target")


# --------------------------------------------------------------------------
# Column profiling (the data-catalog statistics pass).
# --------------------------------------------------------------------------

#: stringified per-column representation. Doubles are BANDED to 100s
#: before stringifying (Java's Double.toString and DuckDB's double
#: formatting disagree on scientific notation — banded BIGINTs are
#: engine-exact and are also the representation a profile wants);
#: timestamps profile at DAY grain (ISO date strings agree).
_PROF_COLS = [
    ("o_orderkey", "cast(o_orderkey as string)",
     "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "cast(o_custkey as string)",
     "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
    ("o_totalprice",
     "cast(cast(floor(o_totalprice / 100) * 100 as bigint) as string)",
     "CAST(CAST(floor(o_totalprice / 100) * 100 AS BIGINT) AS VARCHAR)"),
    ("o_orderdate", "cast(cast(o_orderdate as date) as string)",
     "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"),
    ("o_orderpriority", "o_orderpriority", "o_orderpriority"),
]

_PROF_ORACLE_UNP = "\n  UNION ALL\n".join(
    f"  SELECT '{name}' AS col_name, {duck} AS val FROM orders"
    for name, _, duck in _PROF_COLS
)


@workload(
    "dq_profile_orders",
    oracle=f"""
WITH unp AS (
{_PROF_ORACLE_UNP}
),
grp AS (
  SELECT col_name, val, CAST(count(*) AS BIGINT) AS c
  FROM unp GROUP BY col_name, val
),
stats AS (
  SELECT col_name,
         CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN val IS NULL THEN c ELSE 0 END) AS BIGINT)
           AS n_nulls,
         CAST(sum(CASE WHEN val IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_distinct
  FROM grp GROUP BY col_name
),
top AS (
  SELECT col_name, val AS top_value, c AS top_count FROM (
    SELECT col_name, val, c,
           row_number() OVER (PARTITION BY col_name
                              ORDER BY c DESC, val) AS rn
    FROM grp WHERE val IS NOT NULL
  ) WHERE rn = 1
)
SELECT s.col_name, s.n_rows, s.n_nulls, s.n_distinct,
       t.top_value, t.top_count,
       ROUND(CAST(t.top_count AS DOUBLE) / s.n_rows, 6) AS top_share
FROM stats s JOIN top t ON t.col_name = s.col_name
ORDER BY s.col_name
""",
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of orders — row/null/distinct counts plus
    the modal value and its share — the statistics pass a data
    catalog (or an optimizer's ANALYZE) runs after every load, and
    the complement of dq_constraint_report: constraints assert, the
    profile DESCRIBES (and next round's constraint thresholds come
    from this round's profile). Doubles band to 100s and timestamps
    to days before profiling (engine-portable representations that
    are also the grain a human reads).

    Scale: ONE unpivot projection (stack — map-only) feeding ONE
    (column, value) groupBy with map-side combine; column count
    multiplies the projection, not the shuffle count. Value skew is
    absorbed by the combiner (heavy hitters pre-aggregate per
    partition); the per-column rollup and top-1 run on |cols|·|
    distinct| rows. For distinct counts past memory, swap the exact
    count for the HLL registers (operators/hll_store.py)."""
    o = t(spark, sf_dir, "orders")
    stack_expr = (
        f"stack({len(_PROF_COLS)}, "
        + ", ".join(f"'{name}', {sp}" for name, sp, _ in _PROF_COLS)
        + ") as (col_name, val)"
    )
    grp = (
        o.select(F.expr(stack_expr))
        .groupBy("col_name", "val")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    stats = grp.groupBy("col_name").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), F.col("c")).otherwise(0))
        .cast("bigint").alias("n_nulls"),
        F.sum(F.when(F.col("val").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_distinct"),
    )
    from pyspark.sql import Window

    win = Window.partitionBy("col_name").orderBy(
        F.col("c").desc(), F.col("val")
    )
    top = (
        grp.filter(F.col("val").isNotNull())
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("col_name", F.col("val").alias("top_value"),
                F.col("c").alias("top_count"))
    )
    return (
        stats.join(top, "col_name")
        .select(
            "col_name", "n_rows", "n_nulls", "n_distinct",
            "top_value", "top_count",
            F.round(F.col("top_count").cast("double") / F.col("n_rows"), 6)
            .alias("top_share"),
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# Benford first-digit audit (the forensic data-quality screen).
# --------------------------------------------------------------------------

import math as _math

#: Benford expected shares log10(1 + 1/d), Python-evaluated literals
#: inlined verbatim into both engines.
_BENFORD = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}

_BENFORD_O_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in _BENFORD.items()
) + " END"


@workload(
    "dq_benford_first_digit",
    oracle=f"""
WITH cents AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value > 0
),
dig AS (
  SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM cents WHERE c > 0
),
obs AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM dig GROUP BY digit
),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
SELECT o.digit, o.n_obs,
       ROUND(o.n_obs * 1.0 / t.n, 6) AS obs_share,
       ROUND({_BENFORD_O_CASE.replace("digit", "o.digit")}, 6)
         AS benford_share,
       ROUND(abs(o.n_obs * 1.0 / t.n
                 - {_BENFORD_O_CASE.replace("digit", "o.digit")}), 6)
         AS abs_gap
FROM obs o CROSS JOIN tot t
ORDER BY o.digit
""",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the event values (Newcomb
    1881, Benford 1938): the leading digit of naturally-occurring
    amounts follows log10(1+1/d), and a distribution that doesn't is
    the classic screen for fabricated, truncated, or unit-mangled
    numbers — the forensic complement to the constraint suite (which
    checks values are VALID; this checks they are PLAUSIBLE).
    Digits are extracted from the exact BIGINT cents' decimal string
    (integer→string agrees between engines; no float log10 at
    power-of-ten boundaries); expected shares are Python-literal
    doubles inlined verbatim in both engines. The per-digit absolute
    gap is the report — a synthetic uniform value column (as here)
    SHOULD flag, and does: the gap IS the detector output, not an
    assertion.

    Scale: one map-side digit projection into a 9-key combiner
    groupBy — the audit costs one scan regardless of table size,
    and composes per-partition (digit counts are additive, so the
    streaming twin is the DQ-monitor counter shape)."""
    return _benford_report(_benford_grid(t(spark, sf_dir, "events")))


def _benford_grid(events: DataFrame) -> DataFrame:
    """(digit, n_obs) first-digit counts of the positive event values
    — additive across any split of the rows, so the streaming twin
    (streaming/audit.py) folds it per micro-batch."""
    dig = events.filter(F.col("value") > 0).select(
        F.substring(
            F.round(F.col("value") * 100).cast("bigint").cast("string"),
            1, 1,
        ).cast("bigint").alias("digit")
    ).filter(F.col("digit") > 0)
    return dig.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )


def _benford_report(obs: DataFrame) -> DataFrame:
    """The audit readout from a (digit, n_obs) grid — shared by the
    batch workload and the streaming twin."""
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    benford = F.lit(None).cast("double")
    for d, p in _BENFORD.items():
        benford = F.when(F.col("digit") == d, F.lit(p)).otherwise(benford)
    return (
        obs.crossJoin(tot)
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") * 1.0 / F.col("n"), 6)
            .alias("obs_share"),
            F.round(benford, 6).alias("benford_share"),
            F.round(
                F.abs(F.col("n_obs") * 1.0 / F.col("n") - benford), 6
            ).alias("abs_gap"),
        )
        .orderBy("digit")
    )
