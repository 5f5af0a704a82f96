"""Core relational surface (SURVEY.md §2B): the analytic SQL the
reference delegates to destination warehouses, executed here by
Spark SQL / Catalyst. TPC-H-shaped queries over the driver tables
plus one query per SQL feature family (joins incl. semi/anti,
rollup/grouping sets, windows, set ops, correlated subqueries, JSON).

Scale notes: dimension joins (region/nation/customer/supplier/part)
are broadcast (they stay tiny relative to fact tables at any SF);
fact-side aggregations are partial-aggregated map-side by Catalyst;
all filters sit directly on the parquet scans (PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload

# --------------------------------------------------------------------------
# Q1-style pricing summary: the flagship scan+agg.
# --------------------------------------------------------------------------


@workload(
    "q1_pricing_summary",
    headline=True,
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + 8-way aggregate (TPC-H Q1 shape). Single shuffle on the
    two low-cardinality group keys; partial aggregation map-side."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q3-style shipping priority: fact-fact join + broadcast dim + top-k.
# --------------------------------------------------------------------------


@workload(
    "q3_shipping_priority",
    headline=True,
    oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈orders⋈lineitem with top-k. customer (dim) broadcasts
    while under the planner's threshold; orders⋈lineitem shuffles on
    orderkey; top-10 is a global
    TakeOrdered, no full sort."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q5-style local supplier volume: 6-table star join.
# --------------------------------------------------------------------------


@workload(
    "q5_local_supplier_volume",
    headline=True,
    oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: the dimensions (supplier/nation/region/customer)
    join the lineitem⋈orders fact join; the planner broadcasts each
    while its size estimate is under the broadcast threshold."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# --------------------------------------------------------------------------
# Q6-style revenue forecast: pure pushed-down filter + scalar agg.
# --------------------------------------------------------------------------


@workload(
    "q6_forecast_revenue",
    headline=True,
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four predicates push into the parquet scan; result is a
    single global aggregate (no shuffle beyond the final reduce)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# Q10-style returned items: join + group + top-k customers.
# --------------------------------------------------------------------------


@workload(
    "q10_returned_items",
    headline=True,
    oracle="""
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Semi/anti joins (EXISTS / NOT EXISTS — also the shape of the dbt
# `relationships` test, SURVEY.md §2B).
# --------------------------------------------------------------------------


@workload(
    "join_semi_anti_customers",
    oracle="""
SELECT c_mktsegment,
       count(*) FILTER (WHERE has_order)     AS customers_with_orders,
       count(*) FILTER (WHERE NOT has_order) AS customers_without_orders
FROM (
  SELECT c_custkey, c_mktsegment,
         EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
  FROM customer
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def join_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI join counts per segment."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = (
        cust.join(orders, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("customers_with_orders"))
    )
    anti = (
        cust.join(orders, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("customers_without_orders"))
    )
    return (
        semi.join(anti, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("customers_with_orders", F.lit(0)).alias(
                "customers_with_orders"
            ),
            F.coalesce("customers_without_orders", F.lit(0)).alias(
                "customers_without_orders"
            ),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# ROLLUP + GROUPING() — multi-grain aggregation in one pass.
# --------------------------------------------------------------------------


@workload(
    "agg_rollup_lineitem",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       grouping(l_returnflag) + grouping(l_linestatus) AS grouping_level,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY grouping_level, returnflag, linestatus
""",
)
def agg_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            (
                F.grouping("l_returnflag") + F.grouping("l_linestatus")
            ).alias("grouping_level"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            F.col("grouping_level").cast("long").alias("grouping_level"),
            "sum_qty",
            "n_rows",
        )
        .orderBy("grouping_level", "returnflag", "linestatus")
    )


@workload(
    "agg_groupingsets_part",
    oracle="""
SELECT coalesce(p_brand, 'ALL') AS brand,
       coalesce(p_type, 'ALL') AS ptype,
       grouping(p_brand) AS g_brand, grouping(p_type) AS g_type,
       count(*) AS n_parts,
       round(avg(p_retailprice), 2) AS avg_price
FROM part
GROUP BY GROUPING SETS ((p_brand), (p_type), ())
ORDER BY g_brand, g_type, brand, ptype
""",
)
def agg_groupingsets_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping() flags (§2B multi-dimensional
    aggregation surface) — one Expand + hash aggregate in Spark, no
    repeated scans of the input."""
    p = t(spark, sf_dir, "part")
    p.createOrReplaceTempView("wl_part_gs")
    return spark.sql("""
SELECT coalesce(p_brand, 'ALL') AS brand,
       coalesce(p_type, 'ALL') AS ptype,
       cast(grouping(p_brand) as bigint) AS g_brand,
       cast(grouping(p_type) as bigint) AS g_type,
       count(*) AS n_parts,
       round(avg(p_retailprice), 2) AS avg_price
FROM wl_part_gs
GROUP BY GROUPING SETS ((p_brand), (p_type), ())
ORDER BY g_brand, g_type, brand, ptype
""")


# --------------------------------------------------------------------------
# Window functions: top-k per group + running totals + lag.
# --------------------------------------------------------------------------


@workload(
    "window_topk_orders_per_priority",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey
         ) AS rn
  FROM orders
)
WHERE rn <= 3
ORDER BY o_orderpriority, rn
""",
)
def window_topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority class. One shuffle on the
    partition key; at scale, skewed priorities are split by AQE."""
    orders = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_orderpriority", "rn")
    )


@workload(
    "window_running_revenue_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS running_spend,
       round(o_totalprice - lag(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ), 2) AS delta_vs_prev
FROM orders
WHERE o_custkey <= 50
ORDER BY o_custkey, o_orderkey
""",
)
def window_running_revenue_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(
                F.sum("o_totalprice").over(
                    w.rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
                2,
            ).alias("running_spend"),
            F.round(
                F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2
            ).alias("delta_vs_prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Set operations.
# --------------------------------------------------------------------------


@workload(
    "setops_customer_cohorts",
    oracle="""
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     big_spenders AS (
       SELECT o_custkey AS c_custkey FROM orders
       GROUP BY o_custkey HAVING sum(o_totalprice) > 400000
     )
SELECT 'intersect' AS op, count(*) AS n FROM (
  SELECT * FROM building INTERSECT SELECT * FROM big_spenders)
UNION ALL
SELECT 'except' AS op, count(*) AS n FROM (
  SELECT * FROM building EXCEPT SELECT * FROM big_spenders)
UNION ALL
SELECT 'union' AS op, count(*) AS n FROM (
  SELECT * FROM building UNION SELECT * FROM big_spenders)
ORDER BY op
""",
)
def setops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
        .filter(F.col("spend") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    rows = [
        ("intersect", building.intersect(big)),
        ("except", building.exceptAll(big).distinct()),
        ("union", building.union(big).distinct()),
    ]
    out = None
    for op, df in rows:
        piece = df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "n"
        )
        out = piece if out is None else out.unionByName(piece)
    return out.orderBy("op")


# --------------------------------------------------------------------------
# Correlated scalar subquery (decorrelated by Catalyst).
# --------------------------------------------------------------------------


@workload(
    "subquery_parts_above_brand_avg",
    oracle="""
SELECT p_brand, count(*) AS n_above
FROM part p
WHERE p_retailprice > (
  SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
)
GROUP BY p_brand
ORDER BY p_brand
""",
)
def subquery_parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery via Spark SQL — Catalyst decorrelates
    it into an aggregate + join (verify with .explain())."""
    t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_brand, count(*) AS n_above
        FROM part p
        WHERE p_retailprice > (
          SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
        )
        GROUP BY p_brand
        ORDER BY p_brand
        """
    )


# --------------------------------------------------------------------------
# Scalar function surface: strings, dates, JSON (events.props).
# --------------------------------------------------------------------------


@workload(
    "scalar_functions_events",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(ts AS DATE)) AS first_day,
       max(upper(substr(event_type, 1, 3))) AS tag
FROM events
WHERE value > 10
GROUP BY event_type
ORDER BY event_type
""",
)
def scalar_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("value") > 10)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.get_json_object("props", "$.k").cast("bigint"))
            .cast("bigint")
            .alias("sum_k"),
            F.min(F.col("ts").cast("date")).alias("first_day"),
            F.max(F.upper(F.substring("event_type", 1, 3))).alias("tag"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Exact percentiles (interpolated) per group.
# --------------------------------------------------------------------------


@workload(
    "percentiles_event_value",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def percentiles_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event type —
    Spark's ``percentile`` == DuckDB's ``quantile_cont``. Exact
    percentile is a sort-based aggregate (one shuffle on the group
    key); at 100 TB swap in ``percentile_approx`` (t-digest sketch,
    mergeable map-side) when ±ε error is acceptable — noted here
    because the sketch has no bit-identical oracle."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# PIVOT: event counts by type × ISO weekday.
# --------------------------------------------------------------------------

_DOWS = list(range(1, 8))  # ISO: Mon=1 .. Sun=7


@workload(
    "pivot_events_weekday",
    oracle=f"""
SELECT event_type,
       {", ".join(
           f"CAST(sum(CASE WHEN isodow(ts) = {d} THEN 1 ELSE 0 END) AS BIGINT)"
           f" AS d{d}" for d in _DOWS)}
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def pivot_events_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long → wide): counts per event type × ISO weekday via
    Spark's relational pivot with an EXPLICIT value list — open-ended
    pivots need a distinct-values pass first; pinning the values keeps
    it one aggregation. Spark ``weekday()+1`` == DuckDB ``isodow``."""
    ev = t(spark, sf_dir, "events").withColumn(
        "dow", F.weekday("ts") + F.lit(1)
    )
    out = (
        ev.groupBy("event_type")
        .pivot("dow", _DOWS)
        .agg(F.count(F.lit(1)))
    )
    cleaned = out.select(
        "event_type",
        *[F.coalesce(F.col(str(d)), F.lit(0)).cast("bigint").alias(f"d{d}")
          for d in _DOWS],
    )
    return cleaned.orderBy("event_type")


@workload(
    "salted_join_revenue",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted fact-fact join, oracle-verified: lineitem ⋈ orders
    through `operators/skew.py::salted_join` (16-way deterministic
    whole-row salt on the fact side, 16× replication of the other
    side) must produce EXACTLY the plain join's aggregate — the
    oracle IS the plain join, so the salting layer is proven
    result-transparent, not just unit-shape-tested. Use on hot-key
    joins AQE can't split (streaming micro-batches, forced
    deterministic plans)."""
    from datanika_core_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = salted_join(li, orders, on="l_orderkey", n_salts=16)
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# UNPIVOT (wide metrics -> long) — the inverse of pivot_events_weekday.
# --------------------------------------------------------------------------


@workload(
    "unpivot_event_metrics",
    oracle="""
WITH wide AS (
  SELECT event_type,
         count(*)::DOUBLE AS n_events,
         round(sum(value), 2) AS total_value,
         round(avg(value), 4) AS avg_value,
         count(DISTINCT user_id)::DOUBLE AS n_users
  FROM events GROUP BY event_type
)
SELECT event_type, metric, val
FROM wide
UNPIVOT (val FOR metric IN (n_events, total_value, avg_value, n_users))
ORDER BY event_type, metric
""",
)
def unpivot_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: a wide per-type metrics table (count, sum, avg,
    distinct users) rotated to long (event_type, metric, val) — the
    §2B relational-surface complement of PIVOT
    (pivot_events_weekday), and the shape metric stores and plotting
    layers ingest.

    Scale: the agg is the only shuffle; unpivot itself is a map-side
    Expand (each input row emits 4, no exchange)."""
    ev = t(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.countDistinct("user_id").cast("double").alias("n_users"),
    )
    return (
        wide.unpivot(
            "event_type",
            ["n_events", "total_value", "avg_value", "n_users"],
            "metric",
            "val",
        )
        .orderBy("event_type", "metric")
    )


# --------------------------------------------------------------------------
# Order-to-ship lead-time analytics (synthetic schema: no
# l_shipmode/l_receiptdate — lead time is o_orderdate -> l_shipdate).
# --------------------------------------------------------------------------


@workload(
    "order_lead_time_profile",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       ROUND(avg(date_diff('day', o_orderdate, l_shipdate)), 4)
         AS avg_lead_days,
       CAST(quantile_cont(date_diff('day', o_orderdate, l_shipdate),
            0.5) AS DOUBLE) AS p50_lead,
       CAST(quantile_cont(date_diff('day', o_orderdate, l_shipdate),
            0.95) AS DOUBLE) AS p95_lead,
       CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                THEN 1 ELSE 0 END) AS BIGINT) AS n_over_90d
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def order_lead_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment lead-time profile per order priority: mean / p50 /
    p95 order→ship days and the >90-day tail count — the operational
    twin of q12's delay buckets, with exact interpolated percentiles
    (swap to percentile_approx at 100 TB; error measured in
    tests/test_approx_sketches.py).

    Scale: one fact-fact join on the order key (lineitem pre-bucketed
    by l_orderkey makes it shuffle-free), one agg keyed by priority
    (5 groups); datediff computes in the scan stage."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    lead = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg(lead), 4).alias("avg_lead_days"),
            F.expr(
                "cast(percentile(datediff(l_shipdate, o_orderdate),"
                " 0.5) as double)"
            ).alias("p50_lead"),
            F.expr(
                "cast(percentile(datediff(l_shipdate, o_orderdate),"
                " 0.95) as double)"
            ).alias("p95_lead"),
            F.sum((lead > 90).cast("int")).cast("bigint").alias(
                "n_over_90d"
            ),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Cohort LTV triangle over orders (first-order-year cohorts).
# --------------------------------------------------------------------------


@workload(
    "cohort_ltv_orders",
    oracle="""
WITH firsts AS (
  SELECT o_custkey, min(year(o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey
),
cells AS (
  SELECT f.cohort,
         year(o.o_orderdate) - f.cohort AS age,
         CAST(count(*) AS BIGINT) AS n_orders,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
  GROUP BY f.cohort, age
)
SELECT CAST(cohort AS BIGINT) AS cohort, CAST(age AS BIGINT) AS age,
       n_orders, ROUND(revenue, 2) AS revenue,
       ROUND(sum(revenue) OVER (PARTITION BY cohort ORDER BY age
             ROWS UNBOUNDED PRECEDING), 2) AS cum_revenue
FROM cells
ORDER BY cohort, age
""",
)
def cohort_ltv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value triangle on the warehouse schema:
    customers cohorted by first-order YEAR, revenue accumulated by
    years-since-first — the finance view of retention (the events
    cohort workload is its activity-count twin). Cumulative revenue
    sums the already-rounded cohort cells in deterministic age
    order, so both engines accumulate the identical sequence.

    Scale: one per-customer min (shuffle on custkey), one join back
    on the same key (co-partitioned), one cohort×age rollup (≤
    years² cells) + a window over those cells. The orders fact is
    touched twice on the same key — a bucketed layout makes the
    second pass shuffle-free."""
    orders = t(spark, sf_dir, "orders")
    firsts = (
        orders.groupBy("o_custkey")
        .agg(F.min(F.year("o_orderdate")).alias("cohort"))
    )
    cells = (
        orders.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            (F.year("o_orderdate") - F.col("cohort")).alias("age"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                / 100.0
            ).alias("revenue"),
        )
    )
    wcum = (
        W.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        cells.withColumn(
            "cum_revenue", F.round(F.sum("revenue").over(wcum), 2)
        )
        .withColumn("revenue", F.round("revenue", 2))
        .select(
            F.col("cohort").cast("bigint").alias("cohort"),
            F.col("age").cast("bigint").alias("age"),
            "n_orders", "revenue", "cum_revenue",
        )
        .orderBy("cohort", "age")
    )


# --------------------------------------------------------------------------
# ABC inventory classification (cumulative revenue share).
# --------------------------------------------------------------------------


@workload(
    "abc_part_classification",
    oracle="""
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS rev_c
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT sum(rev_c) AS total FROM per_part),
ranked AS (
  SELECT l_partkey, rev_c,
         sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) * 1.0 / t.total
           AS cum_share
  FROM per_part CROSS JOIN tot t
),
classed AS (
  SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
              WHEN cum_share <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class,
         rev_c
  FROM ranked
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       ROUND(sum(rev_c) / 100.0, 2) AS revenue
FROM classed
GROUP BY abc_class
ORDER BY abc_class
""",
)
def abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory analysis: parts ranked by revenue, classified by
    cumulative revenue share (A ≤ 80 %, B ≤ 95 %, C = tail) — the
    Pareto cut purchasing teams run weekly. Per-part revenue is
    rounded BEFORE the cumulative window, and the running sum
    accumulates in the identical (rev desc, partkey) order on both
    engines, so the class boundaries cannot drift.

    Scale: one groupBy(partkey) with map-side combine; the
    cumulative share needs a global order over PARTS (dimension-
    sized, not fact-sized). At true scale, bucket the cumulative
    step by revenue-range: partial sums per range + a driver prefix
    over ranges — the classic distributed prefix-sum decomposition."""
    li = t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("rev_c")
    )
    total = per_part.agg(F.sum("rev_c")).first()[0]  # bound: one aggregate row
    wcum = W.orderBy(F.col("rev_c").desc(), F.col("l_partkey")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    classed = per_part.select(
        "rev_c",
        (F.sum("rev_c").over(wcum) * F.lit(1.0) / F.lit(total)).alias(
            "cum_share"
        ),
    ).select(
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_c",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(F.sum("rev_c") / 100.0, 2).alias("revenue"),
        )
        .orderBy("abc_class")
    )


# --------------------------------------------------------------------------
# Window-function battery (the full §2B window surface in one query).
# --------------------------------------------------------------------------

_WB_DAY = "2024-01-05"


@workload(
    "window_function_battery",
    oracle=f"""
SELECT event_id,
       event_type,
       ROUND(lag(value) OVER w, 2) AS prev_value,
       ROUND(lead(value) OVER w, 2) AS next_value,
       ROUND(first_value(value) OVER w, 2) AS first_of_type,
       ROUND(nth_value(value, 3) OVER w, 2) AS third_of_type,
       CAST(dense_rank() OVER (PARTITION BY event_type
            ORDER BY user_id) AS BIGINT) AS user_dense_rank,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM events
WHERE ts >= TIMESTAMP '{_WB_DAY} 00:00:00'
  AND ts < TIMESTAMP '{_WB_DAY} 00:00:00' + INTERVAL 1 DAY
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
ORDER BY event_id
""",
)
def window_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full delegated window-function surface (SURVEY.md §2B) in
    one query: lag/lead, first/nth value, dense_rank, percent_rank,
    cume_dist and ntile over a per-type time-ordered frame, on one
    day of events. percent_rank/cume_dist are exact integer-rank
    ratios — deterministic; every value column rounds at 2–6 dp.

    Scale: ONE shuffle keyed by event_type with the day filter
    pushed to the parquet scan; all ten functions share the same
    window frame, so Catalyst evaluates them in a single Window
    operator pass."""
    ev = t(spark, sf_dir, "events")
    day = F.lit(f"{_WB_DAY} 00:00:00").cast("timestamp")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    wq = w  # same spec; named for readability
    filtered = ev.filter(
        (F.col("ts") >= day)
        & (F.col("ts") < day + F.expr("INTERVAL 1 DAY"))
    )
    return filtered.select(
        "event_id",
        "event_type",
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
        F.round(F.lead("value").over(w), 2).alias("next_value"),
        F.round(F.first("value").over(w), 2).alias("first_of_type"),
        F.round(F.nth_value("value", 3).over(w), 2).alias("third_of_type"),
        F.dense_rank()
        .over(W.partitionBy("event_type").orderBy("user_id"))
        .cast("bigint")
        .alias("user_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(wq).cast("bigint").alias("quartile"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Multiset set operations (INTERSECT ALL / EXCEPT ALL).
# --------------------------------------------------------------------------


@workload(
    "setops_all_variants",
    oracle="""
WITH a AS (SELECT l_partkey FROM lineitem WHERE l_quantity > 25),
     b AS (SELECT l_partkey FROM lineitem WHERE l_discount > 0.05)
SELECT 'except_all_ab' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT * FROM a EXCEPT ALL SELECT * FROM b)
UNION ALL
SELECT 'except_all_ba' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT * FROM b EXCEPT ALL SELECT * FROM a)
UNION ALL
SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT * FROM a INTERSECT ALL SELECT * FROM b)
UNION ALL
SELECT 'union_all' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT * FROM a UNION ALL SELECT * FROM b)
ORDER BY op
""",
)
def setops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) semantics of the set-operation surface:
    INTERSECT ALL / EXCEPT ALL preserve duplicate multiplicities
    (min / truncated-difference of per-value counts) — the variants
    the DISTINCT-flavored cohort workload doesn't exercise, and a
    place engines differ subtly enough that the counts themselves
    are the test.

    Scale: each variant is one hash shuffle on the value (Spark
    plans INTERSECT/EXCEPT ALL as count-aggregated joins under the
    hood); the four branches share the two filtered scans."""
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 25).select("l_partkey")
    b = li.filter(F.col("l_discount") > 0.05).select("l_partkey")
    rows = [
        ("except_all_ab", a.exceptAll(b)),
        ("except_all_ba", b.exceptAll(a)),
        ("intersect_all", a.intersectAll(b)),
        ("union_all", a.unionAll(b)),
    ]
    out = None
    for op, df in rows:
        piece = df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(op).alias("op"), "n"
        )
        out = piece if out is None else out.unionByName(piece)
    return out.orderBy("op")


# --------------------------------------------------------------------------
# Correlated LATERAL join (top-N-per-row subquery in the FROM clause).
# --------------------------------------------------------------------------


@workload(
    "lateral_topk_per_group",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) o
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY c.c_custkey, totalprice DESC, o.o_orderkey
""",
)
def lateral_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery in the FROM clause — top-2 orders
    per BUILDING customer — exercised through Spark SQL's
    LateralJoin operator (§2B surface the DataFrame API has no
    direct spelling for; the window-rank formulation is its
    planning twin and the optimizer rewrites LATERAL + LIMIT into
    exactly that ranked shape).

    Scale: Catalyst decorrelates the lateral into a ranked join on
    o_custkey — one shuffle keyed by customer, the same key the
    cohort/RFM family already buckets on."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    # createOrReplaceTempView: re-registered with THIS sf_dir's frame
    # on every call, so a rerun against a different sf_dir in the same
    # session cannot leak the previous registration
    cust.createOrReplaceTempView("__lat_customer")
    orders.createOrReplaceTempView("__lat_orders")
    return spark.sql("""
            SELECT c.c_custkey, o.o_orderkey,
                   round(o.o_totalprice, 2) AS totalprice
            FROM __lat_customer c,
            LATERAL (
              SELECT o_orderkey, o_totalprice
              FROM __lat_orders
              WHERE o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey
              LIMIT 2
            ) o
            WHERE c.c_mktsegment = 'BUILDING'
            ORDER BY c.c_custkey, totalprice DESC, o.o_orderkey
        """)


# --------------------------------------------------------------------------
# Skyline (Pareto frontier) per group: window algorithm vs NOT EXISTS.
# --------------------------------------------------------------------------


@workload(
    "skyline_parts_per_brand",
    oracle="""
SELECT a.p_brand, a.p_partkey,
       ROUND(a.p_retailprice, 2) AS price, a.p_size AS size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_brand = a.p_brand
    AND b.p_retailprice <= a.p_retailprice
    AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
ORDER BY p_brand, price, p_partkey
""",
)
def skyline_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand skyline (Pareto frontier) over (minimize price,
    maximize size): a part survives iff no same-brand part is at
    least as cheap AND at least as large with one strict — the
    preference-query operator behind 'show me the non-dominated
    options'. The oracle states the quadratic NOT-EXISTS definition;
    the engine computes the SAME set with the sort-based frontier
    algorithm: per (brand, price) only the max-size rows can
    survive, and a price level survives iff its max size strictly
    beats the running max over all strictly-cheaper levels — one
    aggregation plus one window pass, O(n log n) where the
    definitional self-join is O(n²) per brand.

    Scale: the groupBy and the window both partition by brand (one
    shuffle, reused by Spark's exchange reuse); price levels per
    brand are bounded by |price domain|, so the window input is the
    REDUCED level table, not the row stream. Equal (price, size)
    ties don't dominate each other, so every row achieving its
    level's max size survives together — both formulations agree on
    ties by construction."""
    from pyspark.sql import Window

    p = t(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    levels = p.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("gmax")
    )
    wprev = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = levels.withColumn(
        "mx_prev", F.max("gmax").over(wprev)
    ).filter(
        F.col("mx_prev").isNull() | (F.col("gmax") > F.col("mx_prev"))
    )
    return (
        p.join(
            frontier,
            ["p_brand", "p_retailprice"],
        )
        .filter(F.col("p_size") == F.col("gmax"))
        .select(
            "p_brand", "p_partkey",
            F.round("p_retailprice", 2).alias("price"),
            F.col("p_size").alias("size"),
        )
        .orderBy("p_brand", "price", "p_partkey")
    )


@workload(
    "shuffle_skew_advisor",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type
),
g AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_cnt
  FROM c
),
top AS (
  SELECT event_type, cnt FROM c ORDER BY cnt DESC, event_type LIMIT 5
)
SELECT t.event_type, t.cnt,
       ROUND(t.cnt * 1.0 / g.n_rows, 6) AS share,
       g.n_rows, g.n_keys,
       ROUND(g.max_cnt * 1.0 * g.n_keys / g.n_rows, 4) AS skew_ratio,
       CAST(least((g.max_cnt * g.n_keys + g.n_rows - 1) // g.n_rows, 32)
            AS BIGINT) AS recommended_salt
FROM top t CROSS JOIN g
ORDER BY t.cnt DESC, t.event_type
""",
)
def shuffle_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decide-WHEN-to-salt companion of `salted_join_revenue`:
    profiles the shuffle-key distribution (events.event_type — the
    low-cardinality key a groupBy/join would hash-partition on) and
    recommends a salt factor. skew_ratio = max key count over the
    mean key count; recommended_salt = ceil(that ratio) capped at
    the partition count (integer-exact ceiling — no float in the
    decision), because replicating the hot key ceil(max/avg)-ways
    levels its partition to the average. Reports the top-5 keys with
    their shares so the reader sees WHICH keys force the salt. At
    ratio ≈ 1 the advisor says don't salt (salt=1): salting
    un-skewed keys just multiplies the dimension side.

    Scale: one map-side-combinable groupBy over the key column
    (≤|keys| rows per partition survive the combiner), then
    constant-size arithmetic on a 1-row global frame cross-joined
    into the ≤5-row top list. The profile costs a fraction of the
    join it prices — the same buy-information-first economics as
    the CMS join-size estimate and the sampled z-order advisor."""
    c = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    g = c.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    top = c.orderBy(F.col("cnt").desc(), "event_type").limit(5)
    return (
        top.crossJoin(g)
        .select(
            "event_type",
            "cnt",
            F.round(F.col("cnt") * 1.0 / F.col("n_rows"), 6).alias("share"),
            "n_rows",
            "n_keys",
            F.round(
                F.col("max_cnt") * 1.0 * F.col("n_keys") / F.col("n_rows"), 4
            ).alias("skew_ratio"),
            F.least(
                F.expr("(max_cnt * n_keys + n_rows - 1) div n_rows"),
                F.lit(32),
            ).cast("bigint").alias("recommended_salt"),
        )
        .orderBy(F.col("cnt").desc(), "event_type")
    )


# --------------------------------------------------------------------------
# Join-order advisor from table statistics (System R Cout metric).
# --------------------------------------------------------------------------


@workload(
    "join_order_advisor",
    oracle="""
WITH ls AS (
  SELECT CAST(count(*) AS BIGINT) AS nl,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS dok
  FROM lineitem
),
os AS (
  SELECT CAST(count(*) AS BIGINT) AS no,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS dck
  FROM orders
),
cs AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM customer),
s AS (SELECT * FROM ls CROSS JOIN os CROSS JOIN cs),
est AS (
  SELECT nl * no // greatest(dok, no) AS e_lo,
         no * nc // greatest(dck, nc) AS e_oc,
         nl * nc AS e_lc,
         (nl * no // greatest(dok, no)) * nc
           // greatest(dck, nc) AS f_lo_c,
         (no * nc // greatest(dck, nc)) * nl
           // greatest(no, dok) AS f_oc_l,
         (nl * nc) * no
           // (greatest(dok, no) * greatest(nc, dck)) AS f_lc_o
  FROM s
),
plans AS (
  SELECT '(lineitem x orders) x customer' AS plan,
         e_lo AS est_intermediate, f_lo_c AS est_final,
         e_lo + f_lo_c AS cost_cout
  FROM est
  UNION ALL
  SELECT '(orders x customer) x lineitem',
         e_oc, f_oc_l, e_oc + f_oc_l FROM est
  UNION ALL
  SELECT '(lineitem x customer) x orders  -- cartesian start',
         e_lc, f_lc_o, e_lc + f_lc_o FROM est
)
SELECT plan,
       est_intermediate,
       est_final,
       cost_cout,
       CAST(row_number() OVER (ORDER BY cost_cout, plan) AS BIGINT)
         AS rank,
       (row_number() OVER (ORDER BY cost_cout, plan) = 1)
         AS recommended
FROM plans
ORDER BY rank
""",
)
def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-deep join-order advisor over the customer—orders—lineitem
    chain using the System R estimator |A⋈B| = |A|·|B|/max(d_k(A),
    d_k(B)) and the C_out cost (sum of intermediate sizes): ranks
    the two connected orders AND the cartesian-start trap, whose
    |L|·|C| intermediate is exactly the blowup a cost-based
    optimizer exists to avoid. The decide-BEFORE-running companion
    of join_size_estimate_cms (which measures one join's size from
    sketches) and shuffle_skew_advisor (which sizes the salt after
    the order is fixed) — together the planning-advisor toolkit.

    Determinism: all six inputs are exact BIGINT counts; every
    estimate is integer multiply/floor-divide — no floats anywhere.

    Scale: the stats are one combiner aggregate per table (the same
    NDV stats ANALYZE TABLE maintains — at 100 TB you'd read them
    from the catalog, or from the HLL store for fresh feeds); the
    enumeration is driver arithmetic on six integers. This is the
    engine explaining WHY a query should join orders before
    customer, using nothing but statistics."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    nl, dok = li.agg(
        F.count(F.lit(1)).cast("bigint"),
        F.countDistinct("l_orderkey").cast("bigint"),
    ).collect()[0]  # bound: one aggregate row
    no, dck = o.agg(
        F.count(F.lit(1)).cast("bigint"),
        F.countDistinct("o_custkey").cast("bigint"),
    ).collect()[0]  # bound: one aggregate row
    # bound: one aggregate row
    nc = c.agg(F.count(F.lit(1)).cast("bigint")).collect()[0][0]
    nl, dok, no, dck, nc = map(int, (nl, dok, no, dck, nc))
    e_lo = nl * no // max(dok, no)
    e_oc = no * nc // max(dck, nc)
    e_lc = nl * nc
    f_lo_c = e_lo * nc // max(dck, nc)
    f_oc_l = e_oc * nl // max(no, dok)
    f_lc_o = e_lc * no // (max(dok, no) * max(nc, dck))
    plans = [
        ("(lineitem x orders) x customer", e_lo, f_lo_c),
        ("(orders x customer) x lineitem", e_oc, f_oc_l),
        ("(lineitem x customer) x orders  -- cartesian start",
         e_lc, f_lc_o),
    ]
    ranked = sorted(
        [(p, ei, ef, ei + ef) for p, ei, ef in plans],
        key=lambda r: (r[3], r[0]),
    )
    out = spark.createDataFrame(
        [
            (p, ei, ef, cost, i + 1, i == 0)
            for i, (p, ei, ef, cost) in enumerate(ranked)
        ],
        "plan string, est_intermediate bigint, est_final bigint,"
        " cost_cout bigint, rank bigint, recommended boolean",
    )
    return out.orderBy("rank")


# --------------------------------------------------------------------------
# Equi-depth histogram (ANALYZE-style optimizer statistics).
# --------------------------------------------------------------------------

_EDH_BUCKETS = 16


@workload(
    "stats_equidepth_histogram",
    oracle=f"""
WITH ranked AS (
  SELECT l_extendedprice AS x,
         ntile({_EDH_BUCKETS}) OVER (
           ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
  FROM lineitem
)
SELECT bucket,
       min(x) AS lo,
       max(x) AS hi,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT x) AS BIGINT) AS ndv,
       ROUND(sum(CAST(round(x * 100) AS BIGINT)) * 1.0
             / count(*) / 100.0, 4) AS mean
FROM ranked
GROUP BY bucket
ORDER BY bucket
""",
)
def stats_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style equi-depth histogram of l_extendedprice in
    {B} buckets: per-bucket bounds, row count, NDV, and mean — the
    column-statistics artifact a cost-based optimizer consumes for
    selectivity estimation (the histogram feeding workloads like
    join_order_advisor; equi-DEPTH rather than equi-width so skewed
    value ranges can't starve buckets).

    Scale: the exact NTILE is a global sort here; the 100 TB form
    swaps it for approx-percentile boundary estimation (ONE combiner
    pass over a quantile sketch — see quantile_tdigest_export) plus
    a map-only bucket assignment against the 15 broadcast
    boundaries, with per-bucket NDV from an HLL register set
    (operators/hll_store.py) instead of exact COUNT DISTINCT. The
    output table is B rows either way. Determinism: the NTILE order
    carries the (orderkey, linenumber) total-order tiebreak; bounds
    pass through unrounded; the mean divides an exact decimal sum.
    """
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x"),
        "l_orderkey", "l_linenumber",
    )
    from datanika_core_spark.operators.ranking import global_ntile

    ranked = global_ntile(
        li, ["x", "l_orderkey", "l_linenumber"], _EDH_BUCKETS, "bucket"
    ).select("x", F.col("bucket").cast("bigint").alias("bucket"))
    return (
        ranked.groupBy("bucket")
        .agg(
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("x").cast("bigint").alias("ndv"),
            F.round(
                F.sum(F.round(F.col("x") * 100).cast("bigint")) * 1.0
                / F.count(F.lit(1)) / 100.0,
                4,
            ).alias("mean"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Skyline (Pareto dominance) — the preference-query operator class
# (round 9): minimize two attributes at once, return the undominated
# frontier.
# --------------------------------------------------------------------------


@workload(
    "skyline_price_size_parts",
    oracle="""
WITH g AS (
  SELECT p_retailprice AS price, CAST(p_size AS BIGINT) AS size,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1, 2
),
m AS (
  SELECT price, size, n_parts,
         min(size) OVER (ORDER BY price, size
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS prev_min
  FROM g
)
SELECT price, size, n_parts
FROM m WHERE prev_min IS NULL OR size < prev_min
ORDER BY price, size
""",
)
def skyline_price_size_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Börzsönyi 2001): the parts not DOMINATED on
    (retail price, size) — no other part is ≤ on both and < on at
    least one. The Pareto frontier is the classic preference query
    ("cheapest for its size") that no single ORDER BY expresses, and
    the degenerate-free sort-filter identity makes it exact: after
    collapsing to the distinct (price, size) grid (equal pairs never
    dominate each other), a point is on the skyline iff its size is
    strictly below the minimum size of every point sorting before it
    by (price, size) — one exclusive global prefix-min.

    Determinism: prices/sizes compare exactly (no arithmetic);
    grouping first makes ties well-defined on both engines.

    Scale: one corpus groupBy to the |distinct (price, size)| grid,
    then operators/ranking.global_prefix_min(exclusive=True) — the
    frozen-quantile-bucket prefix scan, so even a grid that stays
    corpus-sized never funnels through one task. The classic
    block-nested-loop skyline is quadratic; the sort-filter form is
    the 100 TB shape for 2-D (d>2 needs a partition-and-merge pass
    on top). Complements skyline_parts_per_brand: there the frontier
    is PER BRAND, so its windows partition by brand and stay bounded;
    here the frontier is GLOBAL and the prefix scan itself must
    distribute."""
    from datanika_core_spark.operators.ranking import global_prefix_min

    part = t(spark, sf_dir, "part")
    grid = part.groupBy(
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("bigint").alias("size"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    scan = global_prefix_min(
        grid, ["price", "size"], "size", "prev_min", exclusive=True
    )
    return (
        scan.filter(
            F.col("prev_min").isNull()
            | (F.col("size") < F.col("prev_min"))
        )
        .select("price", "size", "n_parts")
        .orderBy("price", "size")
    )


@workload(
    "skyline3d_parts_price_size_popularity",
    oracle="""
WITH pop AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM lineitem GROUP BY l_partkey
),
g AS (
  SELECT p_retailprice AS price, CAST(p_size AS BIGINT) AS size,
         n_orders, CAST(count(*) AS BIGINT) AS n_parts
  FROM part JOIN pop ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
)
SELECT price, size, n_orders, n_parts
FROM g a
WHERE NOT EXISTS (
  SELECT 1 FROM g b
  WHERE b.price <= a.price AND b.size <= a.size
    AND b.n_orders >= a.n_orders
    AND (b.price < a.price OR b.size < a.size
         OR b.n_orders > a.n_orders))
ORDER BY price, size, n_orders
""",
)
def skyline3d_parts_price_size_popularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """3-D skyline: parts undominated on (minimize retail price,
    minimize size, MAXIMIZE order count) — "as cheap, as small, and
    at least as proven-popular as anything else". From d=3 no single
    total order linearizes dominance (the 2-D exclusive-prefix-min
    identity of skyline_price_size_parts stops working), so this is
    the partition-and-merge shape the dimension jump actually
    requires: operators/skyline.skyline_3d — frozen-quantile grid
    cells on the (price, size) plane, cell-corner dominance pruning,
    per-cell local skyline on cell-id EQUI keys, then a cross-cell
    merge against a broadcast pair table enumerated from the ≤G²
    cell summary. Equi-joins end to end (no BroadcastNestedLoopJoin,
    no CartesianProduct — pinned); the quadratic factor is per-cell
    (corpus/G²)², never corpus².

    The maximize dim rides through negation (dominance is
    orientation-free); popularity is an exact bigint count so both
    engines compare identically — no float boundary risk.

    Scale: one fact-table groupBy for popularity, one broadcast dim
    join, one grid groupBy — then all pairing work is cell-bounded.
    Cross-cell dominated points exist (tests/test_skyline3d.py plants
    one), so the merge pass is load-bearing, not decoration."""
    from datanika_core_spark.operators.skyline import skyline_3d

    pop = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    pts = (
        t(spark, sf_dir, "part")
        .join(pop, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").cast("bigint").alias("size"),
            "n_orders",
        )
    )
    grid = pts.groupBy("price", "size", "n_orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    ).withColumn("neg_pop", -F.col("n_orders"))
    sky = skyline_3d(grid, "price", "size", "neg_pop")
    return sky.select("price", "size", "n_orders", "n_parts").orderBy(
        "price", "size", "n_orders"
    )


@workload(
    "skyline4d_parts_price_size_popularity_suppliers",
    oracle="""
WITH pop AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_sup
  FROM lineitem GROUP BY l_partkey
),
g AS (
  SELECT p_retailprice AS price, CAST(p_size AS BIGINT) AS size,
         n_orders, n_sup, CAST(count(*) AS BIGINT) AS n_parts
  FROM part JOIN pop ON l_partkey = p_partkey
  GROUP BY 1, 2, 3, 4
)
SELECT price, size, n_orders, n_sup, n_parts
FROM g a
WHERE NOT EXISTS (
  SELECT 1 FROM g b
  WHERE b.price <= a.price AND b.size <= a.size
    AND b.n_orders >= a.n_orders AND b.n_sup >= a.n_sup
    AND (b.price < a.price OR b.size < a.size
         OR b.n_orders > a.n_orders OR b.n_sup > a.n_sup))
ORDER BY price, size, n_orders, n_sup
""",
)
def skyline4d_parts_price_size_popularity_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """4-D skyline: parts undominated on (minimize retail price,
    minimize size, MAXIMIZE order count, MAXIMIZE distinct supplier
    count) — the r10 verdict's optional-depth lead made concrete: the
    grid machinery is dimension-agnostic past the two bucketed axes
    (operators/skyline.skyline_grid), so d = 4 costs exactly one more
    min/max pair in the O(G²) cell-corner summary and one more
    comparison per dominance probe. Cells are still cut on the
    (price, size) plane only — that is where bucket monotonicity
    lives; the two maximize dims ride through negation in the corner
    prune, the pair-reachability test, and the dominance predicate.

    Both extra dims are exact bigint counts (orders, distinct
    suppliers per part), so engine and oracle compare identically —
    no float boundary risk. The d = 4 skyline is a strict superset of
    the d = 3 one (adding a dim can only un-dominate points), which
    tests/test_skyline3d.py pins alongside a seeded brute-force
    equality.

    Scale: identical profile to the 3-D workload — one fact groupBy
    (now carrying a distinct-count), one dim join, one grid groupBy,
    then all pairing work cell-bounded; higher d weakens the corner
    PRUNE (strict dominance on all dims gets rarer), which is the
    known curse of skyline dimensionality, not a plan regression —
    the equi-join shape is unchanged."""
    from datanika_core_spark.operators.skyline import skyline_grid

    pop = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count_distinct("l_suppkey").cast("bigint").alias("n_sup"),
        )
    )
    pts = (
        t(spark, sf_dir, "part")
        .join(pop, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").cast("bigint").alias("size"),
            "n_orders", "n_sup",
        )
    )
    grid = (
        pts.groupBy("price", "size", "n_orders", "n_sup")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .withColumn("neg_pop", -F.col("n_orders"))
        .withColumn("neg_sup", -F.col("n_sup"))
    )
    sky = skyline_grid(grid, ("price", "size", "neg_pop", "neg_sup"))
    return sky.select(
        "price", "size", "n_orders", "n_sup", "n_parts"
    ).orderBy("price", "size", "n_orders", "n_sup")
