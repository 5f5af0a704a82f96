"""Entity resolution + data reconciliation (beyond-reference,
SURVEY.md §7 Phase 4): blocked fuzzy record linkage and a keyed
table diff — the two workhorses of ELT data-quality work.

- `entity_fuzzy_match` is the canonical record-linkage shape:
  **block, then compare**. Candidate pairs come from an equi-join on
  a cheap blocking key (here: 2-char name prefix), so the quadratic
  edit-distance comparison runs only within blocks — the same
  pattern as every dedup operator in this repo (LSH bands, simhash
  blocks, IVF clusters). Levenshtein is a JVM built-in on both
  engines, bit-identical by definition (it's integer DP).
- `table_diff_keyed` is dbt-audit-helper-style reconciliation: one
  full-outer join on the key classifies every row as added / removed
  / changed (with the exact changed-column list) — the check you run
  after a migration, a backfill, or a merge-strategy change. One
  shuffle on the key; at 100 TB both sides bucket by the key and the
  join is co-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload

_LEV_MAX = 2


@workload(
    "entity_fuzzy_match",
    oracle=f"""
WITH clean AS (
  SELECT p_partkey, p_name FROM part
), dirty AS (
  SELECT p_partkey + 10000 AS dirty_id,
         substring(p_name, 1, 2) || substring(p_name, 4) AS name
  FROM part WHERE p_partkey % 10 = 0
), cand AS (
  SELECT d.dirty_id, d.name, c.p_partkey, c.p_name,
         levenshtein(d.name, c.p_name) AS dist
  FROM dirty d JOIN clean c
    ON substring(d.name, 1, 2) = substring(c.p_name, 1, 2)
  WHERE levenshtein(d.name, c.p_name) <= {_LEV_MAX}
)
SELECT dirty_id, p_partkey AS matched_key, p_name AS matched_name,
       CAST(dist AS BIGINT) AS dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY dirty_id
                               ORDER BY dist, p_partkey) AS rn
  FROM cand
) WHERE rn = 1
ORDER BY dirty_id
""",
)
def entity_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution: a dirty batch (every 10th part name
    with its 3rd character deleted) links back to the clean entity
    table via 2-char-prefix blocking + Levenshtein <= 2, best match
    per dirty record (min distance, then min key). The edit distance
    runs only inside blocks — never the cross product."""
    from pyspark.sql import Window

    clean = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    dirty = clean.filter(F.col("p_partkey") % 10 == 0).select(
        (F.col("p_partkey") + 10000).alias("dirty_id"),
        F.concat(
            F.substring("p_name", 1, 2),
            F.expr("substring(p_name, 4)"),
        ).alias("name"),
    )
    cand = (
        dirty.join(
            clean,
            F.substring(dirty.name, 1, 2) == F.substring(clean.p_name, 1, 2),
        )
        .withColumn("dist", F.levenshtein("name", "p_name"))
        .filter(F.col("dist") <= _LEV_MAX)
    )
    w = Window.partitionBy("dirty_id").orderBy("dist", "p_partkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id",
            F.col("p_partkey").alias("matched_key"),
            F.col("p_name").alias("matched_name"),
            F.col("dist").cast("bigint").alias("dist"),
        )
        .orderBy("dirty_id")
    )


_DIFF_COLS = ("o_orderstatus", "o_totalprice", "o_orderpriority")


@workload(
    "table_diff_keyed",
    oracle=f"""
WITH left_t AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
), right_t AS (
  SELECT o_orderkey,
         o_orderstatus,
         CASE WHEN o_orderkey % 50 = 0
              THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice
         END AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 100 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT coalesce(l.o_orderkey, r.o_orderkey) AS key,
       CASE WHEN l.o_orderkey IS NULL THEN 'added'
            WHEN r.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       CASE WHEN l.o_orderkey IS NULL OR r.o_orderkey IS NULL
            THEN ''
            ELSE array_to_string(list_filter([
              {", ".join(
                  f"CASE WHEN NOT (l.{c} IS NOT DISTINCT FROM r.{c}) "
                  f"THEN '{c}' END" for c in _DIFF_COLS)}
            ], x -> x IS NOT NULL), ',') END AS changed_cols
FROM left_t l FULL OUTER JOIN right_t r USING (o_orderkey)
WHERE l.o_orderkey IS NULL OR r.o_orderkey IS NULL
   OR {" OR ".join(
       f"NOT (l.{c} IS NOT DISTINCT FROM r.{c})" for c in _DIFF_COLS)}
ORDER BY key
""",
)
def table_diff_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table diff (audit-helper shape): orders vs a mutated
    copy (every 100th row dropped, every 50th repriced +10%, every
    97th duplicated under a new key). ONE full-outer join on the key
    emits added / removed / changed rows with the exact changed
    column list; unchanged rows are filtered out so the report is
    proportional to the drift, not the table."""
    left = t(spark, sf_dir, "orders").select(
        "o_orderkey", *_DIFF_COLS
    )
    right = (
        left.filter(F.col("o_orderkey") % 100 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 50 == 0,
                   F.round(F.col("o_totalprice") * 1.1, 2))
            .otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            left.filter(F.col("o_orderkey") % 97 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10000000
            )
        )
    )
    l = left.alias("l")
    r = right.alias("r")
    joined = l.join(r, F.col("l.o_orderkey") == F.col("r.o_orderkey"),
                    "full_outer")
    l_null = F.col("l.o_orderkey").isNull()
    r_null = F.col("r.o_orderkey").isNull()
    diffs = [
        ~F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")) for c in _DIFF_COLS
    ]
    any_diff = diffs[0]
    for d in diffs[1:]:
        any_diff = any_diff | d
    changed_cols = F.filter(
        F.array(*[
            F.when(~F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")), F.lit(c))
            for c in _DIFF_COLS
        ]),
        lambda x: x.isNotNull(),
    )
    return (
        joined.filter(l_null | r_null | any_diff)
        .select(
            F.coalesce(F.col("l.o_orderkey"), F.col("r.o_orderkey"))
            .alias("key"),
            F.when(l_null, "added")
            .when(r_null, "removed")
            .otherwise("changed").alias("status"),
            # serialized (not array<string>): the driver harness
            # canonicalizes via pandas factorize, which cannot hash
            # list cells — a comma-joined string is order-stable
            # (column order is the fixed _DIFF_COLS order both sides)
            F.when(l_null | r_null, F.lit(""))
            .otherwise(F.array_join(changed_cols, ","))
            .alias("changed_cols"),
        )
        .orderBy("key")
    )


# --------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (m/u log-weight scoring).
# --------------------------------------------------------------------------

_FS_UNIT = 100000000  # per-field ln weight snapped to 1e-8 BIGINT units

_FS_FIELDS = ("name", "brand", "size", "type")


def _fs_w_units(field: str) -> str:
    """Per-field Fellegi-Sunter log weight in 1e-8 integer units —
    SHARED SQL text (Spark F.expr + DuckDB parse the same string, so
    the IEEE op tree is identical). Agreement earns ln(m/u),
    disagreement ln((1-m)/(1-u)); m and u are Laplace-smoothed from
    the labeled candidate pairs: m = (t+1)/(n_t+2), u = (f+1)/(n_f+2).
    Columns: a_{field} BOOLEAN, t_{field}/f_{field} agree counts,
    n_t/n_f class totals."""
    m = (f"((t_{field} + cast(1.0 as double))"
         f" / (n_t + cast(2.0 as double)))")
    u = (f"((f_{field} + cast(1.0 as double))"
         f" / (n_f + cast(2.0 as double)))")
    m1 = (f"((n_t - t_{field} + cast(1.0 as double))"
          f" / (n_t + cast(2.0 as double)))")
    u1 = (f"((n_f - f_{field} + cast(1.0 as double))"
          f" / (n_f + cast(2.0 as double)))")
    return (
        f"cast(round(ln(case when a_{field} then {m} / {u}"
        f" else {m1} / {u1} end) * {_FS_UNIT}) as bigint)"
    )


_FS_SCORE = " + ".join(_fs_w_units(f) for f in _FS_FIELDS)

#: Decision bands on the total log-likelihood ratio (natural-log
#: units): >= 4.0 nats -> match, >= 0 -> possible, else non-match.
_FS_HI = 4 * _FS_UNIT

_FS_BAND = (
    f"case when ({_FS_SCORE}) >= {_FS_HI} then 'match' "
    f"when ({_FS_SCORE}) >= 0 then 'possible' "
    f"else 'non_match' end"
)

_O_FS_CAND = """
  SELECT (c.p_partkey = d.orig_key) AS is_true,
         levenshtein(d.name, c.p_name) <= 1 AS a_name,
         d.brand = c.p_brand AS a_brand,
         d.size = c.p_size AS a_size,
         d.type = c.p_type AS a_type
  FROM (
    SELECT p_partkey AS orig_key,
           CASE WHEN p_partkey % 14 = 0
                THEN substring(p_name, 1, 2) || substring(p_name, 4)
                ELSE p_name END AS name,
           p_brand AS brand,
           CASE WHEN p_partkey % 21 = 0 THEN p_size + 1
                ELSE p_size END AS size,
           CASE WHEN p_partkey % 35 = 0 THEN 'MUTANT TYPE'
                ELSE p_type END AS type
    FROM part WHERE p_partkey % 7 = 0
  ) d
  JOIN part c
    ON substring(d.name, 1, 2) = substring(c.p_name, 1, 2)
"""


@workload(
    "record_linkage_fellegi_sunter",
    oracle=f"""
WITH cand AS ({_O_FS_CAND}),
stats AS (
  SELECT
    CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
    CAST(sum(CASE WHEN is_true THEN 0 ELSE 1 END) AS BIGINT) AS n_f,
    {", ".join(
        f"CAST(sum(CASE WHEN is_true AND a_{f} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS t_{f}, "
        f"CAST(sum(CASE WHEN NOT is_true AND a_{f} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS f_{f}"
        for f in _FS_FIELDS)}
  FROM cand
)
SELECT band, is_true, CAST(count(*) AS BIGINT) AS n_pairs,
       ROUND(sum(score_units) * 1.0 / count(*) / {_FS_UNIT}, 4) AS avg_llr
FROM (
  SELECT c.is_true,
         {_FS_SCORE} AS score_units,
         {_FS_BAND} AS band
  FROM cand c CROSS JOIN stats
)
GROUP BY band, is_true
ORDER BY band, is_true
""",
)
def record_linkage_fellegi_sunter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage: a dirty batch
    (every 7th part, with deterministic field corruptions — name
    char-drop on 1/2 of them, size off-by-one on 1/3, type replaced
    on 1/5) links against the clean part table within 2-char name
    prefix blocks; each candidate pair gets a comparison vector over
    (name≈, brand=, size=, type=), per-field m/u probabilities are
    estimated from the labeled pairs (Laplace-smoothed), and the pair
    score is the classic sum of log-likelihood-ratio weights, banded
    into match / possible / non-match. Output: pair counts and mean
    LLR per (band, truth) cell — the linker's quality readout.

    Determinism: m/u are exact rational counts evaluated through ONE
    shared expression text on both engines; each field weight snaps
    to 1e-8 BIGINT units before the 4-term sum, so banding compares
    exact integers. Scale: candidates come only from the blocking
    equi-join (never all-pairs); the m/u stats are ONE aggregate row
    broadcast to the scoring pass — two scans of the candidate
    stream total, no iteration (supervised FS; an EM fit would add
    bounded re-scoring rounds of the same shape)."""
    part = t(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("orig_key"),
        F.when(
            F.col("p_partkey") % 14 == 0,
            F.concat(
                F.substring("p_name", 1, 2), F.expr("substring(p_name, 4)")
            ),
        ).otherwise(F.col("p_name")).alias("name"),
        F.col("p_brand").alias("brand"),
        F.when(F.col("p_partkey") % 21 == 0, F.col("p_size") + 1)
        .otherwise(F.col("p_size")).alias("size"),
        F.when(F.col("p_partkey") % 35 == 0, F.lit("MUTANT TYPE"))
        .otherwise(F.col("p_type")).alias("type"),
    )
    cand = (
        dirty.join(
            part,
            F.substring(F.col("name"), 1, 2)
            == F.substring(F.col("p_name"), 1, 2),
        )
        .select(
            (F.col("p_partkey") == F.col("orig_key")).alias("is_true"),
            (F.levenshtein("name", "p_name") <= 1).alias("a_name"),
            (F.col("brand") == F.col("p_brand")).alias("a_brand"),
            (F.col("size") == F.col("p_size")).alias("a_size"),
            (F.col("type") == F.col("p_type")).alias("a_type"),
        )
    )
    aggs = [
        F.sum(F.when(F.col("is_true"), 1).otherwise(0))
        .cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("is_true"), 0).otherwise(1))
        .cast("bigint").alias("n_f"),
    ]
    for f in _FS_FIELDS:
        aggs.append(
            F.sum(F.when(F.col("is_true") & F.col(f"a_{f}"), 1).otherwise(0))
            .cast("bigint").alias(f"t_{f}")
        )
        aggs.append(
            F.sum(F.when(~F.col("is_true") & F.col(f"a_{f}"), 1).otherwise(0))
            .cast("bigint").alias(f"f_{f}")
        )
    stats = cand.agg(*aggs)
    scored = cand.crossJoin(stats).select(
        "is_true",
        F.expr(_FS_SCORE).alias("score_units"),
        F.expr(_FS_BAND).alias("band"),
    )
    return (
        scored.groupBy("band", "is_true")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("score_units") * 1.0 / F.count(F.lit(1)) / _FS_UNIT,
                4,
            ).alias("avg_llr"),
        )
        .orderBy("band", "is_true")
    )


# --------------------------------------------------------------------------
# Reciprocal best match: mutual-nearest-neighbor entity resolution.
# --------------------------------------------------------------------------


@workload(
    "linkage_reciprocal_best",
    oracle=f"""
WITH clean AS (
  SELECT p_partkey, p_name FROM part
), dirty AS (
  SELECT p_partkey + 10000 AS dirty_id, p_partkey AS orig_key,
         substring(p_name, 1, 2) || substring(p_name, 4) AS name
  FROM part WHERE p_partkey % 10 = 0
), cand AS (
  SELECT d.dirty_id, d.orig_key, c.p_partkey,
         levenshtein(d.name, c.p_name) AS dist
  FROM dirty d JOIN clean c
    ON substring(d.name, 1, 2) = substring(c.p_name, 1, 2)
  WHERE levenshtein(d.name, c.p_name) <= {_LEV_MAX}
),
best_dc AS (
  SELECT dirty_id, orig_key, p_partkey FROM (
    SELECT *, row_number() OVER (PARTITION BY dirty_id
               ORDER BY dist, p_partkey) AS rn
    FROM cand
  ) WHERE rn = 1
),
best_cd AS (
  SELECT p_partkey, dirty_id FROM (
    SELECT *, row_number() OVER (PARTITION BY p_partkey
               ORDER BY dist, dirty_id) AS rn
    FROM cand
  ) WHERE rn = 1
),
mutual AS (
  SELECT b.dirty_id, b.orig_key, b.p_partkey
  FROM best_dc b
  JOIN best_cd r ON r.p_partkey = b.p_partkey
                AND r.dirty_id = b.dirty_id
)
SELECT CAST((SELECT count(*) FROM dirty) AS BIGINT) AS n_dirty,
       CAST((SELECT count(*) FROM best_dc) AS BIGINT) AS n_one_way,
       CAST(count(*) AS BIGINT) AS n_mutual,
       CAST(sum(CASE WHEN p_partkey = orig_key THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       ROUND(sum(CASE WHEN p_partkey = orig_key THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS precision,
       ROUND(sum(CASE WHEN p_partkey = orig_key THEN 1 ELSE 0 END)
             * 1.0 / (SELECT count(*) FROM dirty), 6) AS recall
FROM mutual
""",
)
def linkage_reciprocal_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-best-match entity resolution — the
    mutual-nearest-neighbor tightening of entity_fuzzy_match: a link
    survives only if the dirty record's best clean match ALSO picks
    that dirty record as ITS best within the block, which kills the
    one-to-many collisions a one-way argmin happily emits. Reports
    one-way vs mutual match counts and (truth is known by
    construction) the mutual set's precision/recall — the
    self-measuring convention.

    Scale: candidates come only from the 2-char-prefix blocking
    equi-join; both argmins are windows over the SAME candidate
    frame (scanned once per direction); the mutual filter is an
    equi-join of two ≤|entities|-row frames. Determinism: integer
    edit distances, key tiebreaks on both windows."""
    from pyspark.sql import Window

    clean = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    dirty = clean.filter(F.col("p_partkey") % 10 == 0).select(
        (F.col("p_partkey") + 10000).alias("dirty_id"),
        F.col("p_partkey").alias("orig_key"),
        F.concat(
            F.substring("p_name", 1, 2), F.expr("substring(p_name, 4)")
        ).alias("name"),
    )
    cand = (
        dirty.join(
            clean,
            F.substring(dirty.name, 1, 2) == F.substring(clean.p_name, 1, 2),
        )
        .withColumn("dist", F.levenshtein("name", "p_name"))
        .filter(F.col("dist") <= _LEV_MAX)
        .select("dirty_id", "orig_key", "p_partkey", "dist")
    )
    w_dc = Window.partitionBy("dirty_id").orderBy("dist", "p_partkey")
    best_dc = (
        cand.withColumn("rn", F.row_number().over(w_dc))
        .filter(F.col("rn") == 1)
        .select("dirty_id", "orig_key", "p_partkey")
    )
    w_cd = Window.partitionBy("p_partkey").orderBy("dist", "dirty_id")
    best_cd = (
        cand.withColumn("rn", F.row_number().over(w_cd))
        .filter(F.col("rn") == 1)
        .select(
            F.col("p_partkey").alias("r_key"),
            F.col("dirty_id").alias("r_dirty"),
        )
    )
    mutual = best_dc.join(
        best_cd,
        (F.col("p_partkey") == F.col("r_key"))
        & (F.col("dirty_id") == F.col("r_dirty")),
    )
    n_dirty = dirty.agg(F.count(F.lit(1)).cast("bigint").alias("n_dirty"))
    n_oneway = best_dc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_one_way")
    )
    correct = F.sum(
        F.when(F.col("p_partkey") == F.col("orig_key"), 1).otherwise(0)
    )
    return (
        mutual.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_mutual"),
            correct.cast("bigint").alias("n_correct"),
        )
        .crossJoin(n_dirty)
        .crossJoin(n_oneway)
        .select(
            "n_dirty", "n_one_way", "n_mutual", "n_correct",
            F.round(F.col("n_correct") * 1.0 / F.col("n_mutual"), 6)
            .alias("precision"),
            F.round(F.col("n_correct") * 1.0 / F.col("n_dirty"), 6)
            .alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood blocking (round 11): the classic windowed
# alternative to equality blocking (Hernández & Stolfo, SIGMOD 1995).
# --------------------------------------------------------------------------

_SN_W = 10  # neighborhood window, in global sort positions


@workload(
    "linkage_sorted_neighborhood",
    oracle=f"""
WITH clean AS (
  SELECT p_partkey AS uid, p_partkey AS orig_key, 0 AS is_dirty,
         p_name AS name
  FROM part
), dirty AS (
  SELECT p_partkey + 1000000 AS uid, p_partkey AS orig_key, 1 AS is_dirty,
         substring(p_name, 1, length(p_name) - 2)
           || substring(p_name, length(p_name)) AS name
  FROM part WHERE p_partkey % 10 = 0
),
allrec AS (SELECT * FROM clean UNION ALL SELECT * FROM dirty),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY name, uid) AS r FROM allrec
),
cand AS (
  SELECT d.uid AS dirty_uid, d.orig_key AS dirty_key,
         c.orig_key AS clean_key,
         levenshtein(d.name, c.name) AS dist,
         abs(d.r - c.r) AS rank_gap
  FROM ranked d JOIN ranked c
    ON c.r BETWEEN d.r - {_SN_W} AND d.r + {_SN_W}
  WHERE d.is_dirty = 1 AND c.is_dirty = 0
    AND levenshtein(d.name, c.name) <= {_LEV_MAX}
)
SELECT dirty_key, clean_key AS matched_key,
       CAST(dist AS BIGINT) AS dist,
       CAST(rank_gap AS BIGINT) AS rank_gap
FROM (
  SELECT *, row_number() OVER (PARTITION BY dirty_uid
                               ORDER BY dist, rank_gap, clean_key) AS rn
  FROM cand
) WHERE rn = 1
ORDER BY dirty_key
""",
)
def linkage_sorted_neighborhood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): clean
    and dirty records sort TOGETHER by name, and candidate pairs are
    records within ±{w} global sort positions — no equality blocking
    key at all, which is the method's point: a LATE-position typo
    (here: second-to-last char deleted) that would break an equality
    block on the full name leaves the record sorted near its source.
    Candidates verify with Levenshtein <= 2; best clean match per
    dirty record (min dist, then min rank gap, then min key). part
    names are heavily duplicated (~64 distinct among 2000 at sf0.01),
    so the match target is A clean record carrying the source's name
    — key identity is unknowable when names tie, exactly real-world
    linkage semantics. Dirty records pushed out of the window by a
    long run of tied names stay unmatched (~15/200 at sf0.01) — the
    documented single-pass SN miss mode (production runs multi-pass
    with rotated keys; one pass is the operator).

    Scale: the global sort position comes from the distributed
    frozen-quantile rank (operators/ranking.global_row_number) with a
    numeric 4-char-prefix bucket key (monotone along the name order,
    so bucketing stays order-contiguous; strings can't feed
    approxQuantile directly). The window join is a BAND join, not a
    range scan: each dirty record probes exactly 3 rank tiles of
    width {w} (its own ± 1), so the join is EQUI on the tile id with
    the (every-10th-part) dirty side — candidates per dirty
    record are <= 2·{w}+1 regardless of corpus size. The oracle says
    BETWEEN (DuckDB IEJoins it); the engine never does.

    The clean and dirty join sides are each built from an INDEPENDENT
    plan over fresh scans (global_row_number already self-joins its
    input against its own bucket offsets; filtering ONE ranked frame
    into both join sides nests that self-join and trips the stale
    exprId binding bug — docs/SCALE.md rule 7 / NEXT.md gotcha). Both
    rankings are deterministic (total order, frozen shared boundaries)
    so the two computations agree rank-for-rank; the one
    quantile_boundaries scan is shared across them."""
    from pyspark.sql import Window

    from datanika_core_spark.operators.ranking import (
        global_row_number,
        quantile_boundaries,
    )

    def _ranked(bounds=None):
        """allrec + global rank r, built from a FRESH part scan so the
        two call sites share zero exprIds (see docstring)."""
        part = t(spark, sf_dir, "part").select("p_partkey", "p_name")
        clean = part.select(
            F.col("p_partkey").alias("uid"),
            F.col("p_partkey").alias("orig_key"),
            F.lit(0).alias("is_dirty"),
            F.col("p_name").alias("name"),
        )
        dirty = part.filter(F.col("p_partkey") % 10 == 0).select(
            (F.col("p_partkey") + 1000000).alias("uid"),
            F.col("p_partkey").alias("orig_key"),
            F.lit(1).alias("is_dirty"),
            F.expr(
                "concat(substring(p_name, 1, length(p_name) - 2),"
                " substring(p_name, length(p_name)))"
            ).alias("name"),
        )
        allrec = clean.unionByName(dirty)
        # numeric prefix code, monotone non-decreasing along
        # (name, uid): lexicographic ASCII order agrees with the
        # base-128 value of the first 4 chars (missing chars read as
        # 0 — prefixes sort first)
        code = sum(
            F.ascii(F.substring("name", i, 1)) * (128 ** (4 - i))
            for i in range(1, 5)
        ).cast("double")
        if bounds is None:
            [bounds] = quantile_boundaries(allrec, [code])
        return (
            global_row_number(
                allrec, ["name", "uid"], "r",
                bucket_by=code, boundaries=bounds,
            ),
            bounds,
        )

    ranked_c, bounds = _ranked()
    ranked_d, _ = _ranked(bounds)
    tile = lambda c: F.expr(f"({c} - 1) div {_SN_W}")  # noqa: E731
    cleanr = ranked_c.filter(F.col("is_dirty") == 0).select(
        F.col("orig_key").alias("clean_key"),
        F.col("name").alias("cname"),
        F.col("r").alias("rc"),
        tile("r").alias("g"),
    )
    dirtyr = ranked_d.filter(F.col("is_dirty") == 1).select(
        F.col("uid").alias("dirty_uid"),
        F.col("orig_key").alias("dirty_key"),
        F.col("name").alias("dname"),
        F.col("r").alias("rd"),
        F.explode(
            F.array(tile("r") - 1, tile("r"), tile("r") + 1)
        ).alias("g"),
    )
    cand = (
        dirtyr
        .join(cleanr, "g")
        .filter(F.abs(F.col("rd") - F.col("rc")) <= _SN_W)
        .withColumn("dist", F.levenshtein("dname", "cname"))
        .filter(F.col("dist") <= _LEV_MAX)
        .withColumn("rank_gap", F.abs(F.col("rd") - F.col("rc")))
    )
    w = Window.partitionBy("dirty_uid").orderBy(
        "dist", "rank_gap", "clean_key"
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_key",
            F.col("clean_key").alias("matched_key"),
            F.col("dist").cast("bigint").alias("dist"),
            F.col("rank_gap").cast("bigint").alias("rank_gap"),
        )
        .orderBy("dirty_key")
    )


linkage_sorted_neighborhood.__doc__ = (
    linkage_sorted_neighborhood.__doc__.replace("{w}", str(_SN_W))
)


# --------------------------------------------------------------------------
# Blocking quality: reduction ratio vs pairs completeness (the
# standard blocking-scheme evaluation, e.g. Christen 2012).
# --------------------------------------------------------------------------


@workload(
    "linkage_blocking_quality",
    oracle=f"""
WITH clean AS (
  SELECT p_partkey AS uid, p_name AS name FROM part
), dirty AS (
  SELECT p_partkey + 1000000 AS uid, p_name AS src_name,
         CASE WHEN p_partkey % 20 = 0 THEN substring(p_name, 2)
              ELSE substring(p_name, 1, length(p_name) - 2)
                   || substring(p_name, length(p_name)) END AS name
  FROM part WHERE p_partkey % 10 = 0
),
counts AS (
  SELECT (SELECT count(*) FROM dirty) AS nd,
         (SELECT count(*) FROM clean) AS nc
),
truth AS (
  SELECT d.uid AS duid, d.name AS dname, d.src_name,
         c.uid AS cuid, c.name AS cname
  FROM dirty d JOIN clean c ON c.name = d.src_name
),
allrec AS (
  SELECT uid, 0 AS is_dirty, name FROM clean
  UNION ALL SELECT uid, 1, name FROM dirty
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY name, uid) AS r FROM allrec
),
p2_cand AS (
  SELECT sum(d.n * c.n) AS cand FROM
    (SELECT substring(name, 1, 2) AS blk, count(*) AS n
     FROM dirty GROUP BY 1) d
  JOIN
    (SELECT substring(name, 1, 2) AS blk, count(*) AS n
     FROM clean GROUP BY 1) c
  USING (blk)
),
p2_cov AS (
  SELECT count(*) AS cov, (SELECT count(*) FROM truth) AS tp
  FROM truth WHERE substring(dname, 1, 2) = substring(cname, 1, 2)
),
sn_cand AS (
  SELECT count(*) AS cand
  FROM ranked d JOIN ranked c
    ON c.r BETWEEN d.r - {_SN_W} AND d.r + {_SN_W}
  WHERE d.is_dirty = 1 AND c.is_dirty = 0
),
sn_cov AS (
  SELECT count(*) AS cov, (SELECT count(*) FROM truth) AS tp
  FROM truth t
  JOIN ranked rd ON rd.uid = t.duid AND rd.is_dirty = 1
  JOIN ranked rc ON rc.uid = t.cuid AND rc.is_dirty = 0
  WHERE abs(rd.r - rc.r) <= {_SN_W}
)
SELECT blocker, CAST(cand AS BIGINT) AS candidates,
       CAST(tp AS BIGINT) AS truth_pairs,
       round(cov * 1.0 / tp, 6) AS pairs_completeness,
       round(1.0 - cand * 1.0 / (nd * nc), 6) AS reduction_ratio
FROM (
  SELECT 'prefix2' AS blocker, cand, cov, tp
  FROM p2_cand, p2_cov
  UNION ALL
  SELECT 'sorted_neighborhood', cand, cov, tp
  FROM sn_cand, sn_cov
) CROSS JOIN counts
ORDER BY blocker
""",
)
def linkage_blocking_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocking-scheme evaluation (Christen's reduction ratio /
    pairs completeness): score two blockers — 2-char-prefix equality
    vs ±{w} sorted-neighborhood — against name-level ground truth on
    a mixed-typo corpus: every 10th part is dirtied, HALF with the
    second-to-last char deleted (prefix intact, sorts adjacent) and
    half with the FIRST char deleted (prefix broken, sorts far away),
    so neither blocker dominates: prefix2 keeps every end-typo truth
    pair and loses every first-char one; the sort window trades some
    of each. truth = (dirty, clean) pairs where the clean name equals
    the dirty record's SOURCE name. RR = 1 - candidates/(|dirty| x
    |clean|); PC = truth pairs the blocker co-blocks / all truth.

    Scale: NO pair set is materialized for RR — prefix2 candidates
    are Σ_block |dirty_b| x |clean_b| from two grouped counts, and
    the SN window count probes 3 rank tiles per dirty record exactly
    like linkage_sorted_neighborhood (EQUI on tile id). PC joins the
    truth set only (bounded by name-duplicate fan-out, not corpus²).
    The SN ranking reuses
    operators/ranking.global_row_number with both join sides built
    from independent plans + one shared boundary scan (the SCALE.md
    rule-7 discipline)."""
    from datanika_core_spark.operators.ranking import (
        global_row_number,
        quantile_boundaries,
    )

    dirt = (
        "CASE WHEN p_partkey % 20 = 0 THEN substring(p_name, 2)"
        " ELSE substring(p_name, 1, length(p_name) - 2)"
        " || substring(p_name, length(p_name)) END"
    )

    def _clean():
        return t(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("uid"),
            F.col("p_name").alias("name"),
        )

    def _dirty():
        return (
            t(spark, sf_dir, "part")
            .filter(F.col("p_partkey") % 10 == 0)
            .select(
                (F.col("p_partkey") + 1000000).alias("uid"),
                F.col("p_name").alias("src_name"),
                F.expr(dirt).alias("name"),
            )
        )

    def _ranked(bounds=None):
        allrec = _clean().select(
            "uid", F.lit(0).alias("is_dirty"), "name"
        ).unionByName(
            _dirty().select("uid", F.lit(1).alias("is_dirty"), "name")
        )
        code = sum(
            F.ascii(F.substring("name", i, 1)) * (128 ** (4 - i))
            for i in range(1, 5)
        ).cast("double")
        if bounds is None:
            [bounds] = quantile_boundaries(allrec, [code])
        return (
            global_row_number(
                allrec, ["name", "uid"], "r",
                bucket_by=code, boundaries=bounds,
            ),
            bounds,
        )

    nd = _dirty().count()
    nc = _clean().count()
    truth = _dirty().select(
        F.col("uid").alias("duid"), F.col("name").alias("dname"),
        "src_name",
    ).join(
        _clean().select(
            F.col("uid").alias("cuid"), F.col("name").alias("cname")
        ),
        F.col("cname") == F.col("src_name"),
    )
    tp = truth.count()

    # --- prefix2: grouped-count candidate arithmetic, truth overlap
    p2d = _dirty().groupBy(
        F.substring("name", 1, 2).alias("blk")
    ).agg(F.count(F.lit(1)).alias("n_d"))
    p2c = _clean().groupBy(
        F.substring("name", 1, 2).alias("blk")
    ).agg(F.count(F.lit(1)).alias("n_c"))
    p2_cand = (
        p2d.join(p2c, "blk")
        .agg(F.sum(F.col("n_d") * F.col("n_c")).alias("cand"))
        .first()["cand"]  # bound: one aggregate row
    )
    p2_cov = truth.filter(
        F.substring("dname", 1, 2) == F.substring("cname", 1, 2)
    ).count()

    # --- sorted neighborhood: tile-join window count + truth ranks
    ranked_c, bounds = _ranked()
    ranked_d, _ = _ranked(bounds)
    tile = lambda c: F.expr(f"({c} - 1) div {_SN_W}")  # noqa: E731
    cleanr = ranked_c.filter(F.col("is_dirty") == 0).select(
        F.col("uid").alias("cuid"), F.col("r").alias("rc"),
        tile("r").alias("g"),
    )
    dirtyr = ranked_d.filter(F.col("is_dirty") == 1).select(
        F.col("uid").alias("duid"), F.col("r").alias("rd"),
        F.explode(
            F.array(tile("r") - 1, tile("r"), tile("r") + 1)
        ).alias("g"),
    )
    sn_cand = (
        dirtyr
        .join(cleanr, "g")
        .filter(F.abs(F.col("rd") - F.col("rc")) <= _SN_W)
        .count()
    )
    sn_cov = (
        truth.select("duid", "cuid")
        .join(dirtyr.select("duid", "rd").distinct(), "duid")
        .join(cleanr.select("cuid", "rc"), "cuid")
        .filter(F.abs(F.col("rd") - F.col("rc")) <= _SN_W)
        .count()
    )

    rows = [
        ("prefix2", int(p2_cand), int(tp), p2_cov),
        ("sorted_neighborhood", int(sn_cand), int(tp), sn_cov),
    ]
    out = spark.createDataFrame(
        [
            (
                b, cand, tpn,
                round(cov / tpn, 6),
                round(1.0 - cand / (nd * nc), 6),
            )
            for (b, cand, tpn, cov) in rows
        ],
        "blocker string, candidates bigint, truth_pairs bigint,"
        " pairs_completeness double, reduction_ratio double",
    )
    return out.orderBy("blocker")


# --------------------------------------------------------------------------
# Multi-pass sorted neighborhood (the production SN shape: rotated
# sort keys union their windows — Hernández & Stolfo run 2-3 passes).
# --------------------------------------------------------------------------


@workload(
    "linkage_sn_multipass",
    oracle=f"""
WITH clean AS (
  SELECT p_partkey AS uid, p_name AS name FROM part
), dirty AS (
  SELECT p_partkey + 1000000 AS uid, p_name AS src_name,
         CASE WHEN p_partkey % 20 = 0 THEN substring(p_name, 2)
              ELSE substring(p_name, 1, length(p_name) - 2)
                   || substring(p_name, length(p_name)) END AS name
  FROM part WHERE p_partkey % 10 = 0
),
allrec AS (
  SELECT uid, 0 AS is_dirty, name FROM clean
  UNION ALL SELECT uid, 1, name FROM dirty
),
r1 AS (
  SELECT *, row_number() OVER (ORDER BY name, uid) AS r FROM allrec
),
r2 AS (
  SELECT *, row_number() OVER (ORDER BY reverse(name), uid) AS r
  FROM allrec
),
cand AS (
  SELECT d.uid AS duid, c.uid AS cuid, 1 AS pass
  FROM r1 d JOIN r1 c ON c.r BETWEEN d.r - {_SN_W} AND d.r + {_SN_W}
  WHERE d.is_dirty = 1 AND c.is_dirty = 0
  UNION
  SELECT d.uid, c.uid, 2
  FROM r2 d JOIN r2 c ON c.r BETWEEN d.r - {_SN_W} AND d.r + {_SN_W}
  WHERE d.is_dirty = 1 AND c.is_dirty = 0
),
passes AS (
  SELECT duid, cuid,
         CAST(CASE WHEN min(pass) = max(pass) THEN min(pass)
                   ELSE 3 END AS BIGINT) AS passes
  FROM cand GROUP BY duid, cuid
),
scored AS (
  SELECT p.duid, p.cuid, p.passes,
         levenshtein(d.name, c.name) AS dist
  FROM passes p
  JOIN dirty d ON d.uid = p.duid
  JOIN clean c ON c.uid = p.cuid
  WHERE levenshtein(d.name, c.name) <= {_LEV_MAX}
)
SELECT duid - 1000000 AS dirty_key, cuid AS matched_key,
       CAST(dist AS BIGINT) AS dist, passes
FROM (
  SELECT *, row_number() OVER (PARTITION BY duid
                               ORDER BY dist, cuid) AS rn
  FROM scored
) WHERE rn = 1
ORDER BY dirty_key
""",
)
def linkage_sn_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PASS sorted neighborhood: two rotated sort keys — the
    name forward (catches late-position typos) and the name REVERSED
    (a first-char deletion leaves the reversed string's prefix
    intact, so the record sorts next to its source under the second
    key) — each contributing a ±{w} window of candidates; the union
    verifies with Levenshtein <= {lev} and keeps the best match per
    dirty record (min dist, then min key). The mixed-typo corpus is
    linkage_blocking_quality's: half end deletions, half FIRST-char
    deletions, so each pass has a typo class only it can catch —
    measured at sf0.01: 194/200 matched vs 185/200 for the
    single-pass forward key, with `passes` (1/2/3 bitmask) showing
    which window(s) produced the winning pair. Some first-char
    matches land on a same-distance DIFFERENT name (tie broken by
    key) — the documented false-match mode of aggressive fuzzy
    thresholds, visible in the output rather than hidden.

    Scale: each pass is the linkage_sorted_neighborhood shape —
    global rank via frozen-quantile ranking (monotone base-128
    prefix code of the pass's sort key), window join EQUI on rank
    tiles; all four ranked frames
    build from independent plans (rule-7), one boundary scan per
    pass. Candidates stay <= 2 passes x (2·{w}+1) per dirty record
    regardless of corpus size."""
    from pyspark.sql import Window

    from datanika_core_spark.operators.ranking import (
        global_row_number,
        quantile_boundaries,
    )

    dirt = (
        "CASE WHEN p_partkey % 20 = 0 THEN substring(p_name, 2)"
        " ELSE substring(p_name, 1, length(p_name) - 2)"
        " || substring(p_name, length(p_name)) END"
    )

    def _allrec():
        clean = t(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("uid"),
            F.lit(0).alias("is_dirty"),
            F.col("p_name").alias("name"),
        )
        dirty = (
            t(spark, sf_dir, "part")
            .filter(F.col("p_partkey") % 10 == 0)
            .select(
                (F.col("p_partkey") + 1000000).alias("uid"),
                F.lit(1).alias("is_dirty"),
                F.expr(dirt).alias("name"),
            )
        )
        return clean.unionByName(dirty)

    def _code(key_col):
        return sum(
            F.ascii(F.substring(key_col, i, 1)) * (128 ** (4 - i))
            for i in range(1, 5)
        ).cast("double")

    def _ranked(rev: bool, bounds=None):
        allrec = _allrec()
        key = F.reverse(F.col("name")) if rev else F.col("name")
        allrec = allrec.withColumn("_k", key)
        code = _code("_k")
        if bounds is None:
            [bounds] = quantile_boundaries(allrec, [code])
        return (
            global_row_number(
                allrec, ["_k", "uid"], "r",
                bucket_by=code, boundaries=bounds,
            ).drop("_k"),
            bounds,
        )

    tile = lambda c: F.expr(f"({c} - 1) div {_SN_W}")  # noqa: E731

    def _window_pairs(rev: bool, pass_id: int):
        rc, bounds = _ranked(rev)
        rd, _ = _ranked(rev, bounds)
        cleanr = rc.filter(F.col("is_dirty") == 0).select(
            F.col("uid").alias("cuid"), F.col("r").alias("rc"),
            tile("r").alias("g"),
        )
        dirtyr = rd.filter(F.col("is_dirty") == 1).select(
            F.col("uid").alias("duid"), F.col("r").alias("rd"),
            F.explode(
                F.array(tile("r") - 1, tile("r"), tile("r") + 1)
            ).alias("g"),
        )
        return (
            dirtyr
            .join(cleanr, "g")
            .filter(F.abs(F.col("rd") - F.col("rc")) <= _SN_W)
            .select("duid", "cuid", F.lit(pass_id).alias("pass"))
        )

    cand = _window_pairs(False, 1).unionAll(
        _window_pairs(True, 2)
    ).distinct()
    passes = cand.groupBy("duid", "cuid").agg(
        F.when(F.min("pass") == F.max("pass"), F.min("pass"))
        .otherwise(F.lit(3)).cast("bigint").alias("passes")
    )
    dnames = _allrec().filter(F.col("is_dirty") == 1).select(
        F.col("uid").alias("duid"), F.col("name").alias("dname")
    )
    cnames = _allrec().filter(F.col("is_dirty") == 0).select(
        F.col("uid").alias("cuid"), F.col("name").alias("cname")
    )
    scored = (
        passes.join(dnames, "duid")
        .join(cnames, "cuid")
        .withColumn("dist", F.levenshtein("dname", "cname"))
        .filter(F.col("dist") <= _LEV_MAX)
    )
    w = Window.partitionBy("duid").orderBy("dist", "cuid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            (F.col("duid") - 1000000).alias("dirty_key"),
            F.col("cuid").alias("matched_key"),
            F.col("dist").cast("bigint").alias("dist"),
            "passes",
        )
        .orderBy("dirty_key")
    )


linkage_sn_multipass.__doc__ = (
    linkage_sn_multipass.__doc__
    .replace("{w}", str(_SN_W)).replace("{lev}", str(_LEV_MAX))
)
