"""Positional inverted index + phrase search — the IR primitive
underneath exact-phrase retrieval (complements the BM25/TF-IDF
scoring in workloads/retrieval.py, which rank but cannot enforce
adjacency).

Index shape: (term, doc_id, positions array) — the classic postings
list with positions. A phrase "a b" matches where position(b) =
position(a) + 1, computed by intersecting the two terms' postings
per doc and checking adjacency with a set-membership lambda.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload

# the queried phrases: (left term, right term) — chosen from the
# synthetic vocabulary so matches exist at every sf
_PHRASES = [
    ("fast", "merge"),
    ("hash", "join"),
    ("window", "sort"),
    ("table", "scan"),
]

_PHRASE_VALUES_DUCK = ", ".join(f"('{a}', '{b}')" for a, b in _PHRASES)


@workload(
    "phrase_search_positional",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, t.tok, t.pos
  FROM (
    SELECT doc_id,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
    FROM documents
  ), LATERAL (
    SELECT unnest(arr) AS tok,
           generate_subscripts(arr, 1) AS pos
  ) AS t
),
postings AS (
  SELECT tok, doc_id, list(pos ORDER BY pos) AS positions
  FROM toks GROUP BY tok, doc_id
),
phrases(a, b) AS (VALUES {_PHRASE_VALUES_DUCK}),
matches AS (
  SELECT p.a, p.b, pa.doc_id,
         len(list_filter(pa.positions,
             x -> list_contains(pb.positions, x + 1))) AS n_hits
  FROM phrases p
  JOIN postings pa ON pa.tok = p.a
  JOIN postings pb ON pb.tok = p.b AND pb.doc_id = pa.doc_id
)
SELECT a || ' ' || b AS phrase,
       CAST(count(*) FILTER (WHERE n_hits > 0) AS BIGINT) AS n_docs,
       CAST(sum(n_hits) AS BIGINT) AS n_occurrences
FROM matches
GROUP BY phrase
ORDER BY phrase
""",
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over a positional inverted index: per
    phrase, the number of matching docs and total adjacent-pair
    occurrences. Adjacency = intersecting the left term's positions
    with (right term's positions − 1) inside each doc.

    Scale: the index build is ONE explode + groupBy(term, doc) —
    at 100 TB this is the persisted artifact (bucketed by term), and
    a phrase query touches only its two terms' postings (partition-
    pruned), never the corpus. The per-doc adjacency check is an
    array-lambda on the two (short) position lists; query fan-out is
    |phrases| broadcast rows."""
    toks = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos0", "tok"),
        )
        # 1-based positions to match the oracle's generate_subscripts
        .select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    )
    postings = toks.groupBy("tok", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )
    phrases = spark.createDataFrame(_PHRASES, "a string, b string")
    pa = postings.select(
        F.col("tok").alias("a"), "doc_id",
        F.col("positions").alias("pos_a"),
    )
    pb = postings.select(
        F.col("tok").alias("b"), "doc_id",
        F.col("positions").alias("pos_b"),
    )
    matches = (
        F.broadcast(phrases)  # bound: literal phrase list, driver-built
        .join(pa, "a")
        .join(pb, ["b", "doc_id"])
        .withColumn(
            "n_hits",
            F.expr(
                "size(filter(pos_a,"
                " x -> array_contains(pos_b, x + 1)))"
            ),
        )
    )
    return (
        matches.groupBy(
            F.concat(F.col("a"), F.lit(" "), F.col("b")).alias("phrase")
        )
        .agg(
            F.sum((F.col("n_hits") > 0).cast("int"))
            .cast("bigint")
            .alias("n_docs"),
            F.sum("n_hits").cast("bigint").alias("n_occurrences"),
        )
        .orderBy("phrase")
    )


# --------------------------------------------------------------------------
# K-way phrase search (3-term phrases; positions k-way intersect).
# --------------------------------------------------------------------------

_PHRASES3 = [
    ("fast", "merge", "batch"),
    ("hash", "value", "table"),
    ("table", "scan", "slow"),
]

_PHRASE3_VALUES_DUCK = ", ".join(
    f"('{a}', '{b}', '{c}')" for a, b, c in _PHRASES3
)


@workload(
    "phrase_search_threeway",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, t.tok, t.pos
  FROM (
    SELECT doc_id,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
    FROM documents
  ), LATERAL (
    SELECT unnest(arr) AS tok,
           generate_subscripts(arr, 1) AS pos
  ) AS t
),
postings AS (
  SELECT tok, doc_id, list(pos ORDER BY pos) AS positions
  FROM toks GROUP BY tok, doc_id
),
phrases(a, b, c) AS (VALUES {_PHRASE3_VALUES_DUCK}),
matches AS (
  SELECT p.a, p.b, p.c, pa.doc_id,
         len(list_filter(pa.positions,
             x -> list_contains(pb.positions, x + 1)
              AND list_contains(pc.positions, x + 2))) AS n_hits
  FROM phrases p
  JOIN postings pa ON pa.tok = p.a
  JOIN postings pb ON pb.tok = p.b AND pb.doc_id = pa.doc_id
  JOIN postings pc ON pc.tok = p.c AND pc.doc_id = pa.doc_id
)
SELECT a || ' ' || b || ' ' || c AS phrase,
       CAST(count(*) FILTER (WHERE n_hits > 0) AS BIGINT) AS n_docs,
       CAST(sum(n_hits) AS BIGINT) AS n_occurrences
FROM matches
GROUP BY phrase
ORDER BY phrase
""",
)
def phrase_search_threeway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-term exact-phrase search: the adjacency check becomes a
    k-way position intersect — the left anchor's position x matches
    iff x+1 is in term 2's postings AND x+2 is in term 3's. The
    generalization to k terms is the same fold; candidate docs must
    appear in ALL k postings before any position math runs (the
    joins are the pruning).

    Scale: identical index build to phrase_search_positional (shared
    persisted artifact at scale); per-phrase cost is bounded by the
    RAREST term's postings — the standard term-ordering optimization
    falls out of the join ordering."""
    toks = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos0", "tok"),
        )
        .select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    )
    postings = toks.groupBy("tok", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )
    phrases = spark.createDataFrame(
        _PHRASES3, "a string, b string, c string"
    )
    pa = postings.select(
        F.col("tok").alias("a"), "doc_id",
        F.col("positions").alias("pos_a"),
    )
    pb = postings.select(
        F.col("tok").alias("b"), "doc_id",
        F.col("positions").alias("pos_b"),
    )
    pc = postings.select(
        F.col("tok").alias("c"), "doc_id",
        F.col("positions").alias("pos_c"),
    )
    matches = (
        F.broadcast(phrases)  # bound: literal phrase list, driver-built
        .join(pa, "a")
        .join(pb, ["b", "doc_id"])
        .join(pc, ["c", "doc_id"])
        .withColumn(
            "n_hits",
            F.expr(
                "size(filter(pos_a,"
                " x -> array_contains(pos_b, x + 1)"
                " and array_contains(pos_c, x + 2)))"
            ),
        )
    )
    return (
        matches.groupBy(
            F.concat_ws(" ", "a", "b", "c").alias("phrase")
        )
        .agg(
            F.sum((F.col("n_hits") > 0).cast("int"))
            .cast("bigint")
            .alias("n_docs"),
            F.sum("n_hits").cast("bigint").alias("n_occurrences"),
        )
        .orderBy("phrase")
    )


# --------------------------------------------------------------------------
# Generic k-way phrase search (parameterized fold; k=4 fixture).
# --------------------------------------------------------------------------

_PHRASES4 = [
    ("filter", "value", "small", "value"),
    ("slow", "small", "scan", "key"),
    ("value", "slow", "hash", "data"),
]
_K4 = 4

_T4_COLS = [f"t{i}" for i in range(_K4)]

_PHRASE4_VALUES_DUCK = ", ".join(
    "(" + ", ".join(f"'{w}'" for w in ph) + ")" for ph in _PHRASES4
)

# adjacency condition folded over terms 1..k-1 (term 0 anchors)
_COND4_DUCK = " AND ".join(
    f"list_contains(p{i}.positions, x + {i})" for i in range(1, _K4)
)
_JOINS4_DUCK = "\n".join(
    f"  JOIN postings p{i} ON p{i}.tok = p.t{i}"
    f" AND p{i}.doc_id = p0.doc_id"
    for i in range(1, _K4)
)
_PHRASE4_CONCAT_DUCK = " || ' ' || ".join(f"p.t{i}" for i in range(_K4))


@workload(
    "phrase_search_kway",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, t.tok, t.pos
  FROM (
    SELECT doc_id,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
    FROM documents
  ), LATERAL (
    SELECT unnest(arr) AS tok,
           generate_subscripts(arr, 1) AS pos
  ) AS t
),
postings AS (
  SELECT tok, doc_id, list(pos ORDER BY pos) AS positions
  FROM toks GROUP BY tok, doc_id
),
phrases({', '.join(_T4_COLS)}) AS (VALUES {_PHRASE4_VALUES_DUCK}),
matches AS (
  SELECT {_PHRASE4_CONCAT_DUCK} AS phrase, p0.doc_id,
         len(list_filter(p0.positions, x -> {_COND4_DUCK})) AS n_hits
  FROM phrases p
  JOIN postings p0 ON p0.tok = p.t0
{_JOINS4_DUCK}
)
SELECT phrase,
       CAST(count(*) FILTER (WHERE n_hits > 0) AS BIGINT) AS n_docs,
       CAST(sum(n_hits) AS BIGINT) AS n_occurrences
FROM matches
GROUP BY phrase
ORDER BY phrase
""",
)
def phrase_search_kway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search for ARBITRARY phrase length, built as a
    programmatic fold over the terms: term 0's postings anchor, each
    further term i joins the same positional index on (term, doc)
    and contributes an `x + i ∈ positions_i` conjunct to the
    position-intersect lambda. The 2- and 3-way workloads are this
    fold at fixed k; here k=4, and nothing in the plan shape depends
    on k except the join count.

    Scale: one shared positional index (the persisted artifact);
    per-phrase cost stays bounded by the rarest term's postings —
    candidate docs must survive ALL k equi-joins before any position
    math runs. Phrase list broadcasts; k-1 co-keyed joins on
    (term, doc_id) follow the first term's partitioning."""
    toks = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos0", "tok"),
        )
        .select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    )
    postings = toks.groupBy("tok", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )
    phrases = spark.createDataFrame(
        _PHRASES4, ", ".join(f"{c} string" for c in _T4_COLS)
    )
    # bound: literal phrase list, driver-built
    out = F.broadcast(phrases).join(
        postings.select(
            F.col("tok").alias("t0"), "doc_id",
            F.col("positions").alias("pos_0"),
        ),
        "t0",
    )
    for i in range(1, _K4):
        out = out.join(
            postings.select(
                F.col("tok").alias(f"t{i}"), "doc_id",
                F.col("positions").alias(f"pos_{i}"),
            ),
            [f"t{i}", "doc_id"],
        )
    cond = " and ".join(
        f"array_contains(pos_{i}, x + {i})" for i in range(1, _K4)
    )
    matches = out.withColumn(
        "n_hits", F.expr(f"size(filter(pos_0, x -> {cond}))")
    )
    return (
        matches.groupBy(
            F.concat_ws(" ", *_T4_COLS).alias("phrase")
        )
        .agg(
            F.sum((F.col("n_hits") > 0).cast("int"))
            .cast("bigint")
            .alias("n_docs"),
            F.sum("n_hits").cast("bigint").alias("n_occurrences"),
        )
        .orderBy("phrase")
    )
