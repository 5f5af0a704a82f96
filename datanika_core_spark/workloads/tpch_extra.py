"""The remaining TPC-H query shapes (q2, q4, q7-q9, q11-q22), adapted
to the driver's slim schema (TESTDATA.md: no partsupp table, no
l_shipmode/l_commitdate/l_receiptdate, no p_container/p_mfgr).

Together with q1/q3/q5/q6/q10 in core_sql.py this covers every TPC-H
query shape: correlated min (q2), EXISTS semi-join (q4), nation-pair
volume (q7), market share ratio (q8), profit rollup (q9), value-
fraction scalar subquery (q11), delay buckets (q12), outer-join
distribution (q13), promo ratio (q14), top-revenue view (q15),
distinct-supplier counts with NOT IN (q16), correlated-avg filter
(q17), IN-aggregate large orders (q18), disjunctive predicates (q19),
grouped-HAVING IN (q20), double-correlated EXISTS/NOT EXISTS (q21),
anti-join + scalar-avg threshold (q22).

Subquery-shaped queries run as ONE shared SQL text on both Spark SQL
and DuckDB — the same passthrough path the engine's model layer uses
(SURVEY.md §2B: the reference delegates exactly this SQL surface to
warehouses); Catalyst decorrelates the subqueries. Join/agg-shaped
queries use the DataFrame API and leave the join strategy to the
planner. Corpus conventions apply: identical aliases both sides,
rounded double aggregates, total-order sorts on every LIMIT.

Scale notes: dimension joins broadcast while the planner's size
estimate is under the broadcast threshold and shuffle past it (no
static hint forces a growing dimension — supplier/part/customer —
into a broadcast); fact-fact joins (lineitem⋈orders) shuffle on
orderkey only; all date/brand filters sit on the parquet scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload


def _shared_sql(name: str, tables: list[str], sql: str, doc: str = "",
                headline: bool = False) -> None:
    """Register a workload whose Spark side runs the oracle SQL text
    verbatim via spark.sql over temp views — the engine's Q1/T-layer
    passthrough path (dialect-shared subset: ANSI joins, subqueries,
    CTEs, year(), INTERVAL n DAY)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        for tb in tables:
            t(spark, sf_dir, tb).createOrReplaceTempView(tb)
        return spark.sql(sql)

    fn.__name__ = name
    fn.__doc__ = doc
    workload(name, oracle=sql, headline=headline, doc=doc)(fn)


# -- q2: cheapest unit price per part in a region (correlated min) ---------

_shared_sql(
    "q2_min_cost_supplier",
    ["part", "lineitem", "supplier", "nation", "region"],
    """
SELECT DISTINCT p_partkey, p_name, s_name, n_name,
       round(l_extendedprice / l_quantity, 4) AS unit_price
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND p_type = 'LARGE'
  AND l_extendedprice / l_quantity = (
    SELECT min(l2.l_extendedprice / l2.l_quantity)
    FROM lineitem l2
    JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY unit_price, p_partkey, s_name
LIMIT 25
""",
    doc="TPC-H Q2 shape: correlated scalar-min subquery over the "
        "lineitem supplier bridge (no partsupp in the driver schema); "
        "Catalyst decorrelates into a per-part min aggregate + join.",
)


# -- q4: orders with a late lineitem (correlated EXISTS) -------------------

_shared_sql(
    "q4_order_priority",
    ["orders", "lineitem"],
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="TPC-H Q4 shape: EXISTS → left-semi join on orderkey "
        "('late' = shipped >90 days after order, replacing the "
        "missing commit/receipt dates).",
)


# -- q7: volume shipping between two nations -------------------------------


@workload(
    "q7_volume_shipping",
    oracle="""
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bidirectional nation-pair trade volume by year. One
    nation copy keeps a hint (the plan changes with none); the
    disjunctive pair filter is applied
    after the joins (it references both sides)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = t(spark, sf_dir, "orders")
    supp = t(spark, sf_dir, "supplier")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, supp.s_nationkey == F.col("n1_key"))
        # bound: one nation; plan changes if all four dims go unhinted
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# -- q8: market share of one supplier nation -------------------------------


@workload(
    "q8_market_share",
    oracle="""
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
GROUP BY o_year
ORDER BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of STANDARD-part revenue sold into
    AMERICA, by order year — conditional-sum ratio over a 7-table
    star join (the planner broadcasts the dims under its threshold)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, cust.c_nationkey == F.col("n1_key"))
        .join(region, F.col("n1_region") == region.r_regionkey)
        .join(n2, supp.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                    .otherwise(F.lit(0.0))
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# -- q9: product profit by supplier nation and year ------------------------


@workload(
    "q9_product_profit",
    headline=True,
    oracle="""
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.1 * p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%')
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit = revenue - 0.1·retailprice·qty (retail
    price stands in for the missing ps_supplycost), parts matched by
    name substring, rolled up by supplier nation × order year."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# -- q11: high-value parts vs a global-fraction threshold ------------------

_shared_sql(
    "q11_important_parts",
    ["lineitem", "supplier", "nation"],
    """
WITH vals AS (
  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
  GROUP BY l_partkey)
SELECT l_partkey, round(part_value, 2) AS part_value
FROM vals
WHERE part_value > (SELECT sum(part_value) * 0.002 FROM vals)
ORDER BY part_value DESC, l_partkey
""",
    doc="TPC-H Q11 shape: per-part value filtered against a global "
        "scalar-subquery fraction of the total (0.2%); the CTE is "
        "evaluated once and reused on both branches.",
)


# -- q12: shipping-delay buckets × order priority --------------------------


@workload(
    "q12_delay_priority",
    oracle="""
SELECT delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o_orderpriority,
         CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 120 THEN 'very_late'
              WHEN date_diff('day', o_orderdate, l_shipdate) > 60  THEN 'late'
              ELSE 'ontime' END AS delay_bucket
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
GROUP BY delay_bucket
ORDER BY delay_bucket
""",
)
def q12_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: ship-delay buckets (order→ship lag replaces
    the missing shipmode/commit/receipt columns) × priority-class
    line counts."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.when(delay > 120, "very_late")
            .when(delay > 60, "late")
            .otherwise("ontime")
            .alias("delay_bucket"),
            high.alias("is_high"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~F.col("is_high"), 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


# -- q13: distribution of orders-per-customer ------------------------------


@workload(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                   AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: left outer join keeping order-less customers (count
    0 bucket), double aggregation. The join-side filter lives in the
    join condition, not a WHERE (outer-join semantics)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "5-LOW"),
        "left",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# -- q14: promo revenue share ----------------------------------------------


@workload(
    "q14_promo_effect",
    oracle="""
SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
""",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: conditional-sum ratio; part joins by the planner's
    choice, one month of lineitem pruned at the scan."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


# -- q15: top supplier by quarterly revenue --------------------------------

_shared_sql(
    "q15_top_supplier",
    ["lineitem", "supplier"],
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
ORDER BY round(total_revenue, 2) DESC, s_suppkey
LIMIT 1
""",
    doc="TPC-H Q15 shape: quarterly revenue view, top supplier taken "
        "by rounded-revenue order with a key tiebreak (deterministic "
        "across engines, unlike max()-equality on float sums).",
)


# -- q16: distinct suppliers per part group, NOT IN exclusion --------------


@workload(
    "q16_part_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#11'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    size) through the lineitem bridge; the NOT IN becomes an
    anti-join against negative-balance suppliers."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#11")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
    )
    bad_supp = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_supp, "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


# -- q17: small-quantity revenue vs per-part average -----------------------

_shared_sql(
    "q17_small_qty_revenue",
    ["lineitem", "part"],
    """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
    SELECT 0.5 * avg(l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
    doc="TPC-H Q17 shape: correlated per-part average-quantity "
        "threshold (0.5× replaces 0.2× for the uniform 1-50 qty "
        "domain); Catalyst rewrites to aggregate + join.",
)


# -- q18: large-volume orders ----------------------------------------------


@workload(
    "q18_large_orders",
    headline=True,
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 190)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: the IN-aggregate becomes a semi-join against the
    grouped lineitem (sum(qty) exact on integer-valued doubles, so
    the >190 threshold is drift-free)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 190)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "__bk"),
                F.col("l_orderkey") == F.col("__bk"), "left_semi")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# -- q19: disjunctive brand/size/quantity predicates -----------------------


@workload(
    "q19_disjunctive_revenue",
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
       AND l_quantity BETWEEN 20 AND 45)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs across both join sides — the disjunction
    can't pre-filter either scan alone, but Catalyst derives the
    implied single-side filters (brand IN, qty range) for pushdown."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 15)
    )
    c2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 25)
        & F.col("l_quantity").between(10, 30)
    )
    c3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 40)
        & F.col("l_quantity").between(20, 45)
    )
    return j.filter(c1 | c2 | c3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# -- q20: suppliers with excess shipped volume -----------------------------

_shared_sql(
    "q20_excess_stock_suppliers",
    ["supplier", "nation", "lineitem"],
    """
SELECT s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 50)
ORDER BY s_name
""",
    doc="TPC-H Q20 shape: IN over a grouped-HAVING subquery (yearly "
        "shipped volume per supplier×part replaces the partsupp "
        "availqty threshold) → semi-join after partial aggregation.",
)


# -- q21: suppliers who were the sole late shipper -------------------------

_shared_sql(
    "q21_sole_late_suppliers",
    ["supplier", "lineitem", "orders", "nation"],
    """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND n_name = 'NATION_0'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
""",
    doc="TPC-H Q21 shape: double-correlated EXISTS / NOT EXISTS "
        "('late' = shipped >60 days after the order date) — the "
        "hardest decorrelation case in the corpus; Catalyst turns "
        "both into semi/anti joins on orderkey.",
)


# -- q22: idle high-balance customers --------------------------------------

_shared_sql(
    "q22_idle_customers",
    ["customer", "orders"],
    """
SELECT c_nationkey AS cntry, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
ORDER BY cntry
""",
    doc="TPC-H Q22 shape: above-average balances (uncorrelated scalar "
        "subquery) with no *recent* orders (date-windowed anti-join; "
        "every synthetic customer has some order, so the recency cutoff "
        "plays Q22's idle-customer role), grouped by nation (replacing "
        "the phone-prefix country codes).",
)
