"""E+L semantics workloads: row filters (null parity), incremental
cursor with persisted state, merge disposition, schema contracts,
nested flatten. Each runs the REAL engine operators (not re-derived
SQL) and is checked against a DuckDB oracle expressing the same
semantics independently.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.filters import FilterSpec, apply_filters
from datanika_core_spark.operators.flatten import normalize
from datanika_core_spark.operators.incremental import (
    CursorStateStore,
    apply_incremental,
)
from datanika_core_spark.operators.writers import (
    SchemaContract,
    TableWriter,
    drop_table,
)
from datanika_core_spark.specs import IncrementalSpec
from datanika_core_spark.workloads import t, workload

# --------------------------------------------------------------------------
# Filter ops with reference null semantics. The data has no NULLs, so
# inject them deterministically on both sides: status NULL where
# orderkey%5=0, totalprice NULL where orderkey%7=0.
# --------------------------------------------------------------------------


@workload(
    "filter_ops_null_semantics",
    oracle="""
WITH o AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS status,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS total,
         o_orderpriority
  FROM orders
)
SELECT status, count(*) AS n, round(sum(total), 2) AS sum_total
FROM o
WHERE (status <> 'F' OR status IS NULL)             -- ne: NULL kept
  AND total >= 50000                                 -- gte: NULL dropped
  AND (o_orderpriority NOT IN ('5-LOW', '4-NOT SPECIFIED')
       OR o_orderpriority IS NULL)                   -- not_in: NULL kept
GROUP BY status
ORDER BY status NULLS FIRST
""",
)
def filter_ops_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER_OPS compiled by the engine (ne/not_in keep NULLs,
    ordered ops drop them) — dlt_runner.py:46-55 parity."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("total"),
        "o_orderpriority",
    )
    filtered = apply_filters(
        o,
        [
            FilterSpec("status", "ne", "F"),
            FilterSpec("total", "gte", 50000),
            FilterSpec("o_orderpriority", "not_in", ["5-LOW", "4-NOT SPECIFIED"]),
        ],
    )
    return (
        filtered.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("total"), 2).alias("sum_total"),
        )
        .orderBy(F.col("status").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# Incremental cursor (S3): load everything up to a cut-off, commit the
# high-water mark, then incrementally read only newer rows.
# --------------------------------------------------------------------------


@workload(
    "incremental_cursor_events",
    oracle="""
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
WHERE ts > (SELECT max(ts) FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
GROUP BY event_type
ORDER BY event_type
""",
)
def incremental_cursor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two engine runs against a real CursorStateStore: run 1 loads
    the backfill and commits max(ts); run 2 reads only rows past the
    stored cursor — the filter is a pushdown predicate, so at 100 TB
    the second run scans only new row groups."""
    store = CursorStateStore(
        tempfile.mktemp(prefix="cursor_state_", suffix=".json")
    )
    ev = t(spark, sf_dir, "events")
    spec = IncrementalSpec(cursor_path="ts")

    # run 1: the historical backfill (everything ≤ cut-off)
    backfill = ev.filter(F.col("ts") <= F.lit("2024-01-15").cast("timestamp_ntz"))
    run1 = apply_incremental(backfill, spec, store, "evt_pipeline", "events")
    run1.commit()  # persists max(ts) of the backfill

    # run 2: the incremental read — engine applies the stored cursor
    run2 = apply_incremental(ev, spec, store, "evt_pipeline", "events")
    return (
        run2.df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Merge disposition (W3): replace-load a base, merge-upsert a batch.
# --------------------------------------------------------------------------


@workload(
    "merge_upsert_orders",
    oracle="""
WITH base AS (
  SELECT * FROM orders WHERE o_orderkey % 5 <> 4
), updates AS (
  -- NOTE: no per-row round() here — Spark rounds doubles via their
  -- shortest decimal rendering, DuckDB via the raw binary value, so
  -- values landing on a .005 boundary can round differently. Only
  -- aggregates get rounded.
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 3 = 0
), merged AS (
  SELECT * FROM base
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
  UNION ALL
  SELECT * FROM updates
)
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableWriter.merge: updated keys replaced, new keys inserted
    (Delta MERGE INTO equivalent; emulated via anti-join + staged
    swap on the parquet warehouse)."""
    writer = TableWriter(spark)
    orders = t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 5 != 4)
    updates = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    tbl = "wl_merge_orders"
    drop_table(spark, tbl)
    writer.write(base, tbl, "replace")
    writer.write(updates, tbl, "merge", primary_key="o_orderkey")
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Schema contracts (W5): type-drifted + extra columns through
# discard_row / discard_value.
# --------------------------------------------------------------------------


@workload(
    "schema_contract_discards",
    oracle="""
WITH target AS (
  SELECT * FROM part WHERE p_partkey % 2 = 0
), batch AS (
  SELECT p_partkey, p_name, p_brand, p_type, p_size,
         CASE WHEN p_partkey % 7 = 0 THEN 'N/A'
              ELSE CAST(p_retailprice AS VARCHAR) END AS p_retailprice
  FROM part WHERE p_partkey % 2 = 1
), kept AS (
  SELECT * FROM batch
  WHERE p_retailprice IS NULL OR TRY_CAST(p_retailprice AS DOUBLE) IS NOT NULL
), final AS (
  SELECT * FROM target
  UNION ALL
  SELECT p_partkey, p_name, p_brand, p_type, p_size,
         TRY_CAST(p_retailprice AS DOUBLE)
  FROM kept
)
SELECT count(*) AS n_rows, round(sum(p_retailprice), 2) AS total_price
FROM final
""",
)
def schema_contract_discards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """data_type=discard_row drops rows whose drifted value can't cast
    back to the table type; columns=discard_value drops unknown
    columns (upload_service.py:17-18,213-225 semantics)."""
    writer = TableWriter(spark)
    part = t(spark, sf_dir, "part")
    target = part.filter(F.col("p_partkey") % 2 == 0)
    batch = part.filter(F.col("p_partkey") % 2 == 1).select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        F.when(F.col("p_partkey") % 7 == 0, F.lit("N/A"))
        .otherwise(F.col("p_retailprice").cast("string"))
        .alias("p_retailprice"),
        F.lit("unexpected").alias("surprise_col"),
    )
    tbl = "wl_contract_part"
    drop_table(spark, tbl)
    writer.write(target, tbl, "replace")
    writer.write(
        batch,
        tbl,
        "append",
        contract=SchemaContract(columns="discard_value", data_type="discard_row"),
    )
    return spark.table(tbl).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("p_retailprice"), 2).alias("total_price"),
    )


# --------------------------------------------------------------------------
# Nested flatten (§1.2): struct → parent columns, array → child table
# with _dlt_parent_id/_dlt_list_idx linkage.
# --------------------------------------------------------------------------


@workload(
    "flatten_nested_customer",
    oracle="""
SELECT c_custkey, c_name || '@example.com' AS contacts__email,
       0 AS _dlt_list_idx, c_mktsegment AS value
FROM customer
UNION ALL
SELECT c_custkey, c_name || '@example.com', 1, 'vip'
FROM customer
ORDER BY c_custkey, _dlt_list_idx
""",
)
def flatten_nested_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize(): struct fields flatten to parent__child columns,
    array elements explode into a child table joined back via
    deterministic _dlt ids."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.struct(
            F.concat(F.col("c_name"), F.lit("@example.com")).alias("email"),
            F.col("c_nationkey").cast("string").alias("nation"),
        ).alias("contacts"),
        F.array(F.col("c_mktsegment"), F.lit("vip")).alias("tags"),
    )
    tables = dict(normalize(cust, "customers"))
    parent, child = tables["customers"], tables["customers__tags"]
    return (
        child.join(parent, child["_dlt_parent_id"] == parent["_dlt_id"])
        .select("c_custkey", "contacts__email", "_dlt_list_idx", "value")
        .orderBy("c_custkey", "_dlt_list_idx")
    )


# --------------------------------------------------------------------------
# Incremental view maintenance: merge partial aggregates == recompute.
# --------------------------------------------------------------------------

_IVM_CUT = "2024-02-01"


@workload(
    "ivm_additive_rollup",
    oracle="""
SELECT event_type,
       CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
         AS total,
       CAST(round(sum(CAST(round(value * 100) AS BIGINT)) * 100.0
                  / count(*)) AS BIGINT) / 10000.0 AS avg_value
FROM events
GROUP BY event_type, day
ORDER BY event_type, day
""",
)
def ivm_additive_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the daily rollup: the MATERIAL
    STATE (count + cent-sum per (type, day), aggregated from history
    before the cut) merges with the DELTA (same aggregate over the
    new arrivals) by key-wise addition, and the result must equal a
    full recompute — which is exactly what the oracle computes, so
    the check IS the IVM correctness property (count/sum form an
    abelian group under merge; avg is derived at read time from the
    stored sums — the 'never store averages' rule, since avg does
    not merge).

    Scale: this is how a 100 TB rollup stays fresh — the state table
    is |types|x|days| rows read back per refresh, and only the delta
    partition is scanned (here both halves scan the same parquet for
    the demonstration; in production the cut is the ingest
    high-water mark and the state is the previous refresh's output).
    The merge re-aggregates pre-aggregated rows: a shuffle of
    2x|groups| rows, independent of event volume."""
    ev = t(spark, sf_dir, "events")
    cents = F.sum(
        F.round(F.col("value") * 100).cast("bigint")
    ).alias("cents")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type",
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
        ).agg(F.count(F.lit(1)).alias("n"), cents)

    cut = F.lit(_IVM_CUT).cast("timestamp_ntz")
    state = rollup(ev.filter(F.col("ts") < cut))
    delta = rollup(ev.filter(F.col("ts") >= cut))
    merged = (
        state.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )
    return merged.select(
        "event_type", "day",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("cents") / 100.0, 2).alias("total"),
        # snap in integer 1e-4-dollar units: round(c*100/n) is an
        # exactly-representable midpoint when it hits .5, so both
        # engines round it away identically (a raw 4-dp ROUND of
        # c/n/100 can straddle a non-representable decimal midpoint)
        (
            F.round(F.col("cents") * 100.0 / F.col("n")).cast("bigint")
            / 10000.0
        ).alias("avg_value"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# Incremental view maintenance of a JOIN view (delta rules, both sides).
# --------------------------------------------------------------------------

_IVMJ_CUT = "1996-01-01"   # orders delta: o_orderdate >= cut
_IVMJ_NEWC = 5             # customer delta: c_custkey % 5 == 0


@workload(
    "ivm_join_delta",
    oracle=f"""
SELECT c.c_nationkey AS nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       ROUND(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0, 2)
         AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY nationkey
ORDER BY nationkey
""",
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view with deltas on BOTH
    sides — the delta-rule decomposition (Griffin & Libkin / the
    classic bag-algebra change propagation): with A = A₀ ∪ ΔA
    (orders split at an ingest cut) and B = B₀ ∪ ΔB (customers,
    every 5th key arriving 'late'),

        agg(A ⋈ B) = agg(A₀⋈B₀) ⊎ agg(ΔA⋈B₀) ⊎ agg(A₀⋈ΔB)
                     ⊎ agg(ΔA⋈ΔB)

    — the stored state plus three delta legs, merged by key-wise
    addition (count/cent-sum form an abelian group, the same
    never-store-averages rule as ivm_additive_rollup). The oracle
    recomputes the view from scratch, so the driver's hash-equality
    IS the maintenance-correctness property, checked at every run.

    Scale: the refresh cost is the three delta legs — ΔA⋈B₀ probes
    the dimension (broadcast for a dim that fits, else a shuffle of
    ΔA only), ΔA⋈ΔB is delta-sized, and A₀⋈ΔB is the one leg that
    rescans old facts: it prunes to the ΔB keys via a broadcast
    semi-join, and a fact table bucketed on the join key turns it
    into a per-bucket probe — the reason fact tables bucket by
    foreign key. No leg ever recomputes A₀⋈B₀; the state table is
    |groups| rows."""
    cents = F.sum(
        F.round(F.col("o_totalprice") * 100).cast("bigint")
    ).alias("cents")

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    cut = F.lit(_IVMJ_CUT).cast("date")
    a0 = orders.filter(F.col("o_orderdate") < cut)
    da = orders.filter(F.col("o_orderdate") >= cut)
    b0 = cust.filter(F.col("c_custkey") % _IVMJ_NEWC != 0)
    db = cust.filter(F.col("c_custkey") % _IVMJ_NEWC == 0)

    def leg(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("n"), cents)
        )

    state = leg(a0, b0)          # materialized before the cut
    legs = state.unionByName(leg(da, b0)) \
                .unionByName(leg(a0, db)) \
                .unionByName(leg(da, db))
    merged = legs.groupBy("nationkey").agg(
        F.sum("n").alias("n"), F.sum("cents").alias("cents")
    )
    return merged.select(
        "nationkey",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
    ).orderBy("nationkey")


# --------------------------------------------------------------------------
# IVM under DELETES for non-additive aggregates (min/max): the
# bounded-rescan repair.
# --------------------------------------------------------------------------


@workload(
    "ivm_minmax_delete_repair",
    oracle="""
WITH cents AS (
  SELECT event_id, event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(round(value * 100) AS BIGINT) AS c,
         CASE WHEN event_id % 50 = 0 THEN 1 ELSE 0 END AS del
  FROM events
),
surv AS (
  SELECT event_type, day,
         CAST(count(*) AS BIGINT) AS n,
         min(c) AS min_cents, max(c) AS max_cents
  FROM cents WHERE del = 0
  GROUP BY event_type, day
),
pre AS (
  SELECT event_type, day, min(c) AS mn, max(c) AS mx
  FROM cents GROUP BY event_type, day
),
dels AS (
  SELECT event_type, day, min(c) AS dmn, max(c) AS dmx
  FROM cents WHERE del = 1
  GROUP BY event_type, day
)
SELECT s.event_type, s.day, s.n, s.min_cents, s.max_cents,
       CASE WHEN d.event_type IS NOT NULL
                  AND (d.dmn = p.mn OR d.dmx = p.mx)
            THEN 1 ELSE 0 END AS rescanned
FROM surv s
JOIN pre p ON p.event_type = s.event_type AND p.day = s.day
LEFT JOIN dels d ON d.event_type = s.event_type AND d.day = s.day
ORDER BY s.event_type, s.day
""",
)
def ivm_minmax_delete_repair(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVM of a min/max view under DELETES — the case the additive
    rollup cannot express: count and sum are abelian-group aggregates
    (a delete is a negative merge), but min/max only form a
    SEMIGROUP — there is no inverse, so deleting the row that held a
    group's min forces a rescan. The repair is BOUNDED: merge the
    delete batch's per-group (d_n, d_min, d_max) into the state;
    groups where the deleted min/max does NOT touch the stored
    extreme keep their value (the common case — deletes are a 2%
    sample here); only groups whose stored extreme was deleted
    re-aggregate their SURVIVING base rows (a semi-join-pruned scan
    of just those groups). The output carries a `rescanned` flag per
    group so the bounded-repair claim is itself checked by the
    oracle, which derives the same flag analytically from the
    pre-delete and deleted-row aggregates.

    Scale: at 100 TB the rescan leg reads only the affected groups'
    partitions (day-partitioned layout makes the semi-join a
    partition prune); everything else is a |groups|-row merge. The
    delete set is every 50th event — deterministic, so both engines
    agree row-for-row."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    is_del = F.col("event_id") % 50 == 0
    base = ev  # pre-delete table (the materialized view's source)
    deletes = ev.filter(is_del)
    survivors = ev.filter(~is_del)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("c").alias("mn"),
            F.max("c").alias("mx"),
        )

    state = agg(base)
    d = agg(deletes).select(
        "event_type", "day",
        F.col("n").alias("dn"), F.col("mn").alias("dmn"),
        F.col("mx").alias("dmx"),
    )
    merged = state.join(d, ["event_type", "day"], "left").select(
        "event_type", "day",
        (F.col("n") - F.coalesce(F.col("dn"), F.lit(0)))
        .cast("bigint").alias("n2"),
        "mn", "mx", "dmn", "dmx",
    ).filter(F.col("n2") > 0)
    needs_rescan = merged.filter(
        (F.col("dmn") == F.col("mn")) | (F.col("dmx") == F.col("mx"))
    )
    clean = merged.filter(
        F.col("dmn").isNull()
        | ((F.col("dmn") != F.col("mn")) & (F.col("dmx") != F.col("mx")))
    ).select(
        "event_type", "day", F.col("n2").alias("n"),
        F.col("mn").alias("min_cents"), F.col("mx").alias("max_cents"),
        F.lit(0).alias("rescanned"),
    )
    # bounded repair: re-aggregate ONLY the affected groups' surviving
    # rows (left-semi prune before the scan-side aggregate)
    rescanned = agg(
        survivors.join(
            # bound: <= |event_type| x |days| groups
            F.broadcast(needs_rescan.select("event_type", "day")),
            ["event_type", "day"],
            "left_semi",
        )
    ).select(
        "event_type", "day", "n",
        F.col("mn").alias("min_cents"), F.col("mx").alias("max_cents"),
        F.lit(1).alias("rescanned"),
    )
    return clean.unionByName(rescanned).orderBy("event_type", "day")
