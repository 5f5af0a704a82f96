"""SQL-model-layer workloads (T1-T14): the transformation layer run
end-to-end through the driver's oracle gate.

Each workload builds a fresh ModelRegistry, executes models via
ModelRunner / SnapshotRunner against catalog tables staged from the
sf_dir parquet, and returns a result DataFrame whose content is
reproducible in pure ANSI SQL (the DuckDB oracle).

Scale notes: models compile to plain Spark SQL, so Catalyst gets the
whole plan (pushdown through views/CTEs, broadcast of nation/customer
dims). The incremental path's is_incremental() filter prunes the
source scan; SCD2 touches only changed keys via anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.scd2 import (
    VALID_FROM,
    VALID_TO,
    SnapshotConfig,
    SnapshotRunner,
)
from datanika_core_spark.operators.writers import TableWriter, drop_table
from datanika_core_spark.plans.model_tests import run_test, violation_sql
from datanika_core_spark.plans.models import (
    ColumnTest,
    IncrementalConfig,
    Model,
    ModelRegistry,
)
from datanika_core_spark.plans.runner import ModelRunner
from datanika_core_spark.workloads import t, workload


def _stage(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    """Load raw parquet tables into the wl_src catalog database (the
    'sources' a dbt project would declare, T16)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS wl_src")
    writer = TableWriter(spark)
    for name in names:
        drop_table(spark, f"wl_src.{name}")
        writer.write(t(spark, sf_dir, name), f"wl_src.{name}", "replace")


# --------------------------------------------------------------------------
# T1/T2/T4/T6/T7/T8: ephemeral -> view -> table DAG built via
# ref()/source() with a `+name` selector.
# --------------------------------------------------------------------------


@workload(
    "model_build_star_revenue",
    oracle="""
WITH order_totals AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_totalprice > 50000
), customer_orders AS (
  SELECT c.c_custkey, c.c_nationkey, o.o_totalprice
  FROM order_totals o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT n.n_name AS nation, count(*) AS n_orders,
       round(sum(co.o_totalprice), 2) AS revenue
FROM customer_orders co JOIN nation n ON co.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY nation
""",
)
def model_build_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model DAG: ephemeral (CTE-spliced) -> view -> table, compiled
    via ref()/source() resolution and built in topo order with a
    `+name` upstream selector (dbt_project.py:141-191,285-295)."""
    _stage(spark, sf_dir, ["orders", "customer", "nation"])
    reg = ModelRegistry()
    reg.add_source("raw", "orders", "wl_src.orders")
    reg.add_source("raw", "customer", "wl_src.customer")
    reg.add_source("raw", "nation", "wl_src.nation")
    reg.add(Model(
        name="order_totals",
        materialization="ephemeral",
        schema="wl_models",
        sql_body="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM {{ source('raw', 'orders') }} WHERE o_totalprice > 50000
""",
    ))
    reg.add(Model(
        name="customer_orders",
        materialization="view",
        schema="wl_models",
        sql_body="""
SELECT c.c_custkey, c.c_nationkey, o.o_totalprice
FROM {{ ref('order_totals') }} o
JOIN {{ source('raw', 'customer') }} c ON o.o_custkey = c.c_custkey
""",
    ))
    reg.add(Model(
        name="revenue_by_nation",
        materialization="table",
        schema="wl_models",
        sql_body="""
SELECT n.n_name AS nation, count(*) AS n_orders,
       round(sum(co.o_totalprice), 2) AS revenue
FROM {{ ref('customer_orders') }} co
JOIN {{ source('raw', 'nation') }} n ON co.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    ))
    runner = ModelRunner(spark, reg)
    runner.invoke("build", selector="+revenue_by_nation", full_refresh=True)
    return spark.table("wl_models.revenue_by_nation").orderBy("nation")


# --------------------------------------------------------------------------
# T3: incremental model, merge strategy, two runs with an
# is_incremental() cursor filter.
# --------------------------------------------------------------------------


@workload(
    "model_incremental_merge_events",
    oracle="""
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def model_incremental_merge_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialization: run 1 = CTAS over the first half
    of the stream; run 2 compiles with is_incremental()=true, scans
    only rows past max(ts) of the target, and MERGEs on event_id
    (dbt_project.py:170-175). Final state == one batch over the full
    source, which is the oracle."""
    ev = t(spark, sf_dir, "events")
    # bound: one aggregate row
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cutoff = (lo + (hi - lo) / 2).isoformat(sep=" ")

    spark.sql("CREATE DATABASE IF NOT EXISTS wl_src")
    writer = TableWriter(spark)
    drop_table(spark, "wl_src.events_stage")
    drop_table(spark, "wl_models.events_inc")
    drop_table(spark, "wl_models.events_inc__stage")
    writer.write(
        ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp_ntz")),
        "wl_src.events_stage", "replace",
    )

    reg = ModelRegistry()
    reg.add_source("raw", "events_stage", "wl_src.events_stage")
    reg.add(Model(
        name="events_inc",
        materialization="incremental",
        schema="wl_models",
        incremental=IncrementalConfig(
            unique_key="event_id", strategy="merge", updated_at="ts",
        ),
        sql_body="""
SELECT event_id, ts, user_id, event_type, value
FROM {{ source('raw', 'events_stage') }}
{% if is_incremental() %}
WHERE ts > (SELECT max(ts) FROM {{ this }})
{% endif %}
""",
    ))
    runner = ModelRunner(spark, reg)
    runner.invoke("run")  # run 1: CTAS of the first half
    writer.write(ev, "wl_src.events_stage", "replace")
    runner.invoke("run")  # run 2: incremental merge of the rest
    return (
        spark.table("wl_models.events_inc")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# T5: SCD2 snapshot, timestamp strategy, two runs.
# --------------------------------------------------------------------------


@workload(
    "model_scd2_snapshot_orders",
    headline=True,
    oracle="""
SELECT o_orderkey, o_totalprice,
       o_orderdate AS valid_from,
       CASE WHEN o_orderkey % 7 = 0
            THEN o_orderdate + INTERVAL 30 DAY END AS valid_to
FROM orders
UNION ALL
SELECT o_orderkey, o_totalprice * 1.05 AS o_totalprice,
       o_orderdate + INTERVAL 30 DAY AS valid_from,
       NULL AS valid_to
FROM orders WHERE o_orderkey % 7 = 0
""",
)
def model_scd2_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot (SCD Type 2, dbt_project.py:529-610): run 1 seeds the
    history; run 2 sees ~1/7 of orders updated (+5% price, +30 days
    updated_at) -> those current rows close (valid_to set) and new
    versions insert. Unchanged rows untouched."""
    orders = t(spark, sf_dir, "orders")
    v1 = orders.select("o_orderkey", "o_totalprice",
                       F.col("o_orderdate").alias("updated_at"))
    changed = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 1.05).alias("o_totalprice"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("updated_at"),
        )
    )
    v2 = v1.join(changed.select("o_orderkey"), "o_orderkey", "left_anti") \
        .unionByName(changed)

    target = "wl_models.orders_snapshot"
    spark.sql("CREATE DATABASE IF NOT EXISTS wl_models")
    drop_table(spark, target)
    drop_table(spark, target + "__stage")
    cfg = SnapshotConfig(unique_key="o_orderkey", strategy="timestamp",
                         updated_at="updated_at")
    snap = SnapshotRunner(spark)
    snap.run(v1, target, cfg)
    snap.run(v2, target, cfg)
    return spark.table(target).select(
        "o_orderkey", "o_totalprice",
        F.col(VALID_FROM).alias("valid_from"),
        F.col(VALID_TO).alias("valid_to"),
    )


# --------------------------------------------------------------------------
# T13/T14: the data-test battery as violation counts.
# --------------------------------------------------------------------------

_TEST_BATTERY: list[tuple[str, str, str, dict]] = [
    ("customer", "c_custkey", "not_null", {}),
    ("customer", "c_custkey", "unique", {}),
    ("customer", "c_acctbal", "not_null_proportion", {"at_least": 0.5}),
    ("orders", "o_orderstatus", "accepted_values", {"values": ["O", "F"]}),
    ("orders", "o_custkey", "relationships",
     {"to": "customer", "field": "c_custkey"}),
    ("orders", "o_totalprice", "expression_is_true",
     {"expression": "o_totalprice > 0"}),
    ("orders", "o_orderstatus", "not_constant", {}),
    ("orders", "o_totalprice", "accepted_range",
     {"min_value": 0, "max_value": 100000}),
    ("nation", "n_nationkey", "sequential_values", {"interval": 1}),
]


def _battery_oracle() -> str:
    parts = []
    for table, column, test, params in _TEST_BATTERY:
        inner = violation_sql(table, column, test, params)
        parts.append(
            f"SELECT '{test}' AS test_name, '{table}.{column}' AS col_name,"
            f" CAST(v.violations AS BIGINT) AS violations FROM ({inner}) v"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY test_name, col_name"


@workload("model_tests_violations", oracle=_battery_oracle())
def model_tests_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic dbt tests (not_null/unique/accepted_values/
    relationships, dbt_project.py:349-435) + dbt_utils tests
    (model_detail_state.py:20-40) rendered as violation-count SQL.
    The identical ANSI strings run on Spark and on the DuckDB oracle."""
    for name in ("customer", "orders", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    rows = []
    for table, column, test, params in _TEST_BATTERY:
        tr = run_test(spark, table, column, test, params)
        rows.append((test, f"{table}.{column}", tr.violations))
    return spark.createDataFrame(
        rows, "test_name string, col_name string, violations bigint"
    ).orderBy("test_name", "col_name")
