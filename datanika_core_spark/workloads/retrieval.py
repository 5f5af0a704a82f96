"""Lexical retrieval scoring over the `documents` table — BM25
top-k, the classic retrieval-based curation/filter primitive for
training-data pipelines (beyond-reference, SURVEY.md §7 Phase 4).

Shape at 100 TB: term frequencies are per-row array folds (map-only,
inside the scan stage); the corpus statistics (N, avgdl, per-term
document frequencies) reduce to ONE tiny row that is broadcast back,
and the final top-k is `orderBy().limit()` → Spark's TakeOrdered —
a per-partition heap + driver merge, never a global sort shuffle.
So the whole query is: scan → 1-row aggregate → scan again with the
broadcast row → heap top-k. Two scans, zero wide shuffles.

Determinism: tf/df/N/dl are exact integers; avgdl, idf and the BM25
ratio are evaluated with the identical operation order on both
engines, so scores agree bit-for-bit before the 6-dp output rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.minhash import TOKS_PATTERN as _TOKS
from datanika_core_spark.workloads import t, workload

_O_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"

_BM25_TERMS = ("spark", "vector", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 15


def _score_sql(tf: str, df_: str) -> str:
    """One term's BM25 contribution; identical text evaluates on both
    engines (ln/least/greatest are common), so op order matches."""
    idf = f"ln(1.0 + (nn - {df_} + 0.5) / ({df_} + 0.5))"
    return (
        f"{idf} * ({tf} * ({_BM25_K1} + 1.0)) / "
        f"({tf} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    )


_SCORE_EXPR = " + ".join(
    _score_sql(f"tf_{i}", f"df_{i}") for i in range(len(_BM25_TERMS))
)


@workload(
    "bm25_topk_docs",
    headline=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_O_TOKS} AS toks,
         CAST(len({_O_TOKS}) AS BIGINT) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id, dl,
         {", ".join(
             f"CAST(len(list_filter(toks, x -> x = '{w}')) AS BIGINT)"
             f" AS tf_{i}"
             for i, w in enumerate(_BM25_TERMS))}
  FROM tok
),
stats AS (
  SELECT count(*) AS nn, sum(dl) * 1.0 / count(*) AS avgdl,
         {", ".join(
             f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS df_{i}"
             for i in range(len(_BM25_TERMS)))}
  FROM tf
)
SELECT doc_id, round({_SCORE_EXPR}, 6) AS bm25
FROM tf CROSS JOIN stats
WHERE {" + ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))} > 0
ORDER BY {_SCORE_EXPR} DESC, doc_id
LIMIT {_BM25_TOPK}
""",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25(k1=1.2, b=0.75) of a 3-term query against every document;
    top-15. Term frequency = per-row array fold; corpus stats = one
    broadcast row; top-k = TakeOrdered (no global sort)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks")
    )
    tf = docs.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.expr(f"size(filter(toks, x -> x = '{w}'))")
            .cast("bigint")
            .alias(f"tf_{i}")
            for i, w in enumerate(_BM25_TERMS)
        ],
    )
    stats = tf.agg(
        F.count(F.lit(1)).alias("nn"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = tf.join(stats).filter(
        sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))) > 0
    )
    return (
        scored.select("doc_id", F.expr(_SCORE_EXPR).alias("_s"))
        .orderBy(F.col("_s").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .select("doc_id", F.round("_s", 6).alias("bm25"))
    )


_TFIDF_TOPK = 25


@workload(
    "tfidf_topk_terms",
    headline=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_O_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS nn FROM documents
)
SELECT doc_id, term, tf, df,
       round(tf * ln((1.0 + nn) / (1.0 + df)), 6) AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN stats
ORDER BY tf * ln((1.0 + nn) / (1.0 + df)) DESC, doc_id, term
LIMIT {_TFIDF_TOPK}
""",
)
def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide TF-IDF (smooth idf = ln((1+N)/(1+df))) with the
    global top-25 (doc, term) cells. The canonical explode →
    partial-agg shape: term counting shuffles once on (doc_id, term)
    with map-side combine, document frequencies reduce the tf table
    (already term-bucketed) a second time, N is a 1-row broadcast,
    and the top-k is TakeOrdered — no global sort. At 100 TB the tf
    table is the working set; bucketing it by term makes the df agg
    and the join co-partitioned (shuffle-free)."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), _TOKS)
        ).alias("term"),
    )
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    stats = docs.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    scored = (
        tf.join(df_, "term")
        .join(stats)
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((1.0 + F.col("nn")) / (1.0 + F.col("df"))),
        )
    )
    return (
        scored.orderBy(F.col("tfidf").desc(), "doc_id", "term")
        .limit(_TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df",
                F.round("tfidf", 6).alias("tfidf"))
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and embedding KNN.
# --------------------------------------------------------------------------

_RRF_K = 60       # the standard RRF damping constant
_RRF_DEPTH = 30   # per-branch candidate depth
_RRF_TOPK = 15

from datanika_core_spark.workloads.similarity import (  # noqa: E402
    _o_cos as _rrf_o_cos,
)


@workload(
    "hybrid_search_rrf",
    headline=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_O_TOKS} AS toks,
         CAST(len({_O_TOKS}) AS BIGINT) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id, dl,
         {", ".join(
             f"CAST(len(list_filter(toks, x -> x = '{w}')) AS BIGINT)"
             f" AS tf_{i}"
             for i, w in enumerate(_BM25_TERMS))}
  FROM tok
),
stats AS (
  SELECT count(*) AS nn, sum(dl) * 1.0 / count(*) AS avgdl,
         {", ".join(
             f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS df_{i}"
             for i in range(len(_BM25_TERMS)))}
  FROM tf
),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY {_SCORE_EXPR} DESC, doc_id) AS r_lex
  FROM tf CROSS JOIN stats
  WHERE {" + ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))} > 0
  QUALIFY r_lex <= {_RRF_DEPTH}
),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
sem AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY {_rrf_o_cos('v', 'qv')} DESC,
                            vec_id) AS r_sem
  FROM vecs CROSS JOIN q
  WHERE vec_id <> 0
  QUALIFY r_sem <= {_RRF_DEPTH}
),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         coalesce(1.0 / ({_RRF_K} + lex.r_lex), 0)
           + coalesce(1.0 / ({_RRF_K} + sem.r_sem), 0) AS rrf,
         lex.r_lex, sem.r_sem
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, ROUND(rrf, 6) AS rrf,
       CAST(coalesce(r_lex, 0) AS BIGINT) AS r_lex,
       CAST(coalesce(r_sem, 0) AS BIGINT) AS r_sem
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT {_RRF_TOPK}
""",
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack 2009):
    the BM25 lexical branch and an embedding-cosine semantic branch
    (query = vector 0, docs joined on doc_id = vec_id) each produce
    a top-30 ranking; fusion score = Σ 1/(60 + rank), absent-in-a-
    branch contributes 0 — the standard way modern search stacks
    combine keyword and vector retrieval without score calibration.

    Scale: each branch is its existing shape (BM25: two scans + a
    broadcast stats row + TakeOrdered; cosine: map-only fold against
    a broadcast query). Fusion joins two ≤depth-row lists — driver
    noise. Ranks are integers, so the fused score is a fixed-order
    sum of two exact divisions: bit-identical across engines."""
    from datanika_core_spark.workloads.similarity import _S_DOT, _vectors

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks")
    )
    tf = docs.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.expr(f"size(filter(toks, x -> x = '{w}'))")
            .cast("bigint")
            .alias(f"tf_{i}")
            for i, w in enumerate(_BM25_TERMS)
        ],
    )
    stats = tf.agg(
        F.count(F.lit(1)).alias("nn"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    from pyspark.sql import Window

    lex = (
        tf.join(stats)
        .filter(
            sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))) > 0
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.expr(_SCORE_EXPR).desc(), F.col("doc_id")))
            .alias("r_lex"),
        )
        .filter(F.col("r_lex") <= _RRF_DEPTH)
    )
    vecs = _vectors(spark, sf_dir)
    # bound: one vec_id
    qv = [float(x) for x in vecs.filter(F.col("vec_id") == 0).first().v]
    q_lit = "array(" + ", ".join(repr(x) + "d" for x in qv) + ")"
    cos = (
        f"{_S_DOT.format(a='v', b=q_lit)} / "
        f"(sqrt({_S_DOT.format(a='v', b='v')}) * "
        f"sqrt({_S_DOT.format(a=q_lit, b=q_lit)}))"
    )
    sem = (
        vecs.filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"), F.expr(cos).alias("_cos")
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("_cos").desc(), F.col("doc_id")))
            .alias("r_sem"),
        )
        .filter(F.col("r_sem") <= _RRF_DEPTH)
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("r_sem")), F.lit(0.0))
            ).alias("rrf"),
            "r_lex",
            "r_sem",
        )
    )
    # order by the ROUNDED score: the oracle's `ORDER BY rrf` resolves
    # to its rounded output alias, so Spark must rank the same 6-dp
    # value or a rounding-induced tie sorts differently at the LIMIT
    # boundary
    return (
        fused.select(
            "doc_id",
            F.round("rrf", 6).alias("rrf"),
            F.coalesce("r_lex", F.lit(0)).cast("bigint").alias("r_lex"),
            F.coalesce("r_sem", F.lit(0)).cast("bigint").alias("r_sem"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_TOPK)
    )


# --------------------------------------------------------------------------
# Rank-biased overlap between the two retrieval branches.
# --------------------------------------------------------------------------

_RBO_P = 0.9
_RBO_D = 20
# Per-shared-doc weight: a doc first present in both prefixes at
# depth m contributes W(m) = sum_{d=m..D} p^(d-1)/d to the truncated
# RBO sum (Webber, Moffat & Zobel 2010, eq. 4 rearranged per doc).
# Precomputed in Python and embedded as IDENTICAL double literals in
# both engines, so no transcendental is ever evaluated engine-side.
_RBO_W = [
    sum(_RBO_P ** (d - 1) / d for d in range(m, _RBO_D + 1))
    for m in range(1, _RBO_D + 1)
]
_RBO_W_SPARK = "array(" + ", ".join(f"{w!r}d" for w in _RBO_W) + ")"
_RBO_W_DUCK = ("[" + ", ".join(f"CAST({w!r} AS DOUBLE)"
                               for w in _RBO_W) + "]")

# Classic tf-idf scorer over the SAME (tf_i, df_i, nn) columns BM25
# reads: score = sum_i tf_i * ln(nn / df_i) — no length
# normalization, no tf saturation. Identical formula text in both
# engines (ln over the same doubles).
_TFIDF_SCORE = " + ".join(
    f"tf_{i} * ln(nn * 1.0 / df_{i})" for i in range(len(_BM25_TERMS))
)


@workload(
    "eval_rbo_rankings",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_O_TOKS} AS toks,
         CAST(len({_O_TOKS}) AS BIGINT) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id, dl,
         {", ".join(
             f"CAST(len(list_filter(toks, x -> x = '{w}')) AS BIGINT)"
             f" AS tf_{i}"
             for i, w in enumerate(_BM25_TERMS))}
  FROM tok
),
stats AS (
  SELECT count(*) AS nn, sum(dl) * 1.0 / count(*) AS avgdl,
         {", ".join(
             f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS df_{i}"
             for i in range(len(_BM25_TERMS)))}
  FROM tf
),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY {_SCORE_EXPR} DESC, doc_id) AS r_lex
  FROM tf CROSS JOIN stats
  WHERE {" + ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))} > 0
  QUALIFY r_lex <= {_RBO_D}
),
alt AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY {_TFIDF_SCORE} DESC, doc_id) AS r_alt
  FROM tf CROSS JOIN stats
  WHERE {" + ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))} > 0
  QUALIFY r_alt <= {_RBO_D}
),
shared AS (
  SELECT greatest(lex.r_lex, alt.r_alt) AS m
  FROM lex JOIN alt ON lex.doc_id = alt.doc_id
)
SELECT CAST({_RBO_D} AS BIGINT) AS depth,
       CAST((SELECT count(*) FROM shared) AS BIGINT) AS n_shared,
       ROUND((SELECT count(*) FROM shared) * 1.0 / {_RBO_D}, 6)
         AS overlap_at_depth,
       ROUND((1 - CAST({_RBO_P} AS DOUBLE)) * coalesce(
         (SELECT sum({_RBO_W_DUCK}[m]) FROM shared),
         CAST(0 AS DOUBLE)), 6) AS rbo
""",
)
def eval_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010)
    between BM25 and classic tf-idf rankings of the SAME query,
    both at depth {_RBO_D}, persistence p = {_RBO_P} — the scorer-
    swap A/B: same terms, same tf/df statistics, different scoring
    function (tf saturation + length normalization vs raw tf·idf).
    RBO is the principled way to ask "how similar are two rankings"
    when (a) only prefixes are available and (b) the top matters
    more than the tail — exactly where Kendall/Spearman are
    wrong-shaped (undefined on non-conjoint lists, uniform depth
    weighting). The answer here is mid-range by construction: the
    scorers agree on which docs matter (high prefix overlap) but
    disagree on order — RBO prices exactly how much a scorer swap
    would reshuffle what users see first.

    Determinism: the truncated RBO sum is regrouped PER SHARED DOC —
    a doc entering both prefixes at depth m = max(r_lex, r_sem)
    contributes W(m) = sum_(d=m..D) p^(d-1)/d — so the engine-side
    math is one array-literal lookup per shared doc (the W table is
    precomputed in Python and embedded as identical double literals
    in both engines) and a <= {_RBO_D}-term sum rounded at 6 dp.
    Ranks tie-break on doc_id on both sides.

    Scale: both branch rankings are TakeOrdered({_RBO_D}) shapes
    (BM25: scan + broadcast stats row; cosine: map-only fold against
    a broadcast query vector); the RBO join touches two
    {_RBO_D}-row frames — driver noise. Comparing rankings over a
    100 TB corpus costs exactly two top-k passes, never a global
    sort."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks")
    )
    tf = docs.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.expr(f"size(filter(toks, x -> x = '{w}'))")
            .cast("bigint")
            .alias(f"tf_{i}")
            for i, w in enumerate(_BM25_TERMS)
        ],
    )
    stats = tf.agg(
        F.count(F.lit(1)).alias("nn"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    from pyspark.sql import Window

    lex = (
        tf.join(stats)
        .filter(
            sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))) > 0
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.expr(_SCORE_EXPR).desc(), F.col("doc_id")))
            .alias("r_lex"),
        )
        .filter(F.col("r_lex") <= _RBO_D)
    )
    alt = (
        tf.join(stats)
        .filter(
            sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))) > 0
        )
        .select(
            "doc_id",
            F.row_number()
            .over(
                Window.orderBy(F.expr(_TFIDF_SCORE).desc(), F.col("doc_id"))
            )
            .alias("r_alt"),
        )
        .filter(F.col("r_alt") <= _RBO_D)
    )
    shared = lex.join(alt, "doc_id").select(
        F.greatest("r_lex", "r_alt").alias("m")
    )
    return shared.agg(
        F.lit(_RBO_D).cast("bigint").alias("depth"),
        F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        F.round(F.count(F.lit(1)) * 1.0 / _RBO_D, 6)
        .alias("overlap_at_depth"),
        F.round(
            (1 - _RBO_P)
            * F.coalesce(
                F.sum(F.expr(f"element_at({_RBO_W_SPARK}, m)")), F.lit(0.0)
            ),
            6,
        ).alias("rbo"),
    )


# --------------------------------------------------------------------------
# Rocchio pseudo-relevance feedback (two-pass BM25 query expansion).
# --------------------------------------------------------------------------

_PRF_FEEDBACK = 10   # pseudo-relevant depth (stage-1 top-k)
_PRF_EXPAND = 3      # expansion terms adopted
_PRF_W_EXP = 0.5     # Rocchio beta: expansion-term weight
_PRF_TOPK = 15
_PRF_UNIT = 100000000  # score contributions snapped to 1e-8 units

#: Generalized per-(doc, query-term) BM25 contribution in integer
#: units — ONE shared text (identical IEEE tree on both engines).
#: Columns: tf, dfq (term document frequency), nn (corpus size),
#: dl, avgdl, w (query-term weight).
_PRF_CONTRIB = (
    f"cast(round(w * ln(1.0 + (nn - dfq + 0.5) / (dfq + 0.5))"
    f" * (tf * ({_BM25_K1} + 1.0))"
    f" / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    f" * {_PRF_UNIT}) as bigint)"
)
#: Expansion-term evidence: tf·idf snapped to units.
_PRF_TFIDF = (
    f"cast(round(tf * ln(nn * cast(1.0 as double) / dfq)"
    f" * {_PRF_UNIT}) as bigint)"
)

_PRF_BASE_SQL = ", ".join(f"('{w}')" for w in _BM25_TERMS)
_PRF_NOT_BASE_T = " AND ".join(
    f"t.term <> '{w}'" for w in _BM25_TERMS)


@workload(
    "search_prf_rocchio",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_O_TOKS}) AS term FROM documents
),
tf_all AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
dls AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf_all GROUP BY doc_id
),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS nn,
         sum(dl) * 1.0 / count(*) AS avgdl
  FROM dls
),
dfs AS (
  SELECT term, CAST(count(*) AS BIGINT) AS dfq
  FROM tf_all GROUP BY term
),
qbase AS (SELECT term, cast(1.0 as double) AS w
          FROM (VALUES {_PRF_BASE_SQL}) b(term)),
score1 AS (
  SELECT t.doc_id,
         CAST(sum({_PRF_CONTRIB}) AS BIGINT) AS units
  FROM tf_all t
  JOIN qbase q ON q.term = t.term
  JOIN dfs ON dfs.term = t.term
  JOIN dls ON dls.doc_id = t.doc_id
  CROSS JOIN corpus
  GROUP BY t.doc_id
),
feedback AS (
  SELECT doc_id FROM score1
  ORDER BY units DESC, doc_id LIMIT {_PRF_FEEDBACK}
),
expansion AS (
  SELECT term, cast({_PRF_W_EXP} as double) AS w
  FROM (
    SELECT t.term,
           CAST(sum({_PRF_TFIDF}) AS BIGINT) AS ev
    FROM tf_all t
    JOIN feedback f ON f.doc_id = t.doc_id
    JOIN dfs ON dfs.term = t.term
    CROSS JOIN corpus
    WHERE length(t.term) >= 4 AND {_PRF_NOT_BASE_T}
    GROUP BY t.term
    ORDER BY ev DESC, t.term LIMIT {_PRF_EXPAND}
  )
),
q2 AS (SELECT * FROM qbase UNION ALL SELECT * FROM expansion),
score2 AS (
  SELECT t.doc_id,
         CAST(sum({_PRF_CONTRIB}) AS BIGINT) AS units
  FROM tf_all t
  JOIN q2 q ON q.term = t.term
  JOIN dfs ON dfs.term = t.term
  JOIN dls ON dls.doc_id = t.doc_id
  CROSS JOIN corpus
  GROUP BY t.doc_id
)
SELECT doc_id,
       ROUND(units * 1.0 / {_PRF_UNIT}, 6) AS score,
       CAST(row_number() OVER (ORDER BY units DESC, doc_id) AS BIGINT)
         AS rank
FROM score2
ORDER BY units DESC, doc_id
LIMIT {_PRF_TOPK}
""",
)
def search_prf_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback — the classic two-pass
    query expansion: BM25 with the base query finds the top-{fb}
    pseudo-relevant docs, the {ex} highest summed-tf·idf terms of
    those docs (length ≥ 4, base terms excluded) join the query at
    Rocchio weight β = {beta}, and the expanded query re-scores the
    corpus. Unlike bm25_topk_docs' compile-time term columns, the
    scoring kernel here is the GENERALIZED inverted-index form —
    (doc, term, tf) equi-joined against a dynamic weighted term
    table — which is the shape a real query engine runs for
    arbitrary queries.

    Determinism: every per-(doc, term) BM25 contribution and every
    expansion tf·idf snaps to 1e-8 BIGINT units through ONE shared
    expression text, so the per-doc sums and both top-k cutoffs
    compare exact integers with doc_id / term tiebreaks.

    Scale: tf_all is the inverted index (one explode+groupBy — the
    thing you'd persist); each pass is an equi-join of that index
    against a ≤6-row broadcast term table, partial-aggregated
    map-side. df lookups join only the query terms. The feedback
    set never leaves the cluster (semi-join restricts the expansion
    scan); two index scans total, zero cartesians."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks"),
    )
    tf_all = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dls = tf_all.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("dl")
    )
    corpus = dls.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )
    dfs = tf_all.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("dfq")
    )

    def _score(qterms: DataFrame) -> DataFrame:
        return (
            # bound: |_BM25_TERMS| + _PRF_EXPAND term rows
            tf_all.join(F.broadcast(qterms), "term")
            .join(dfs, "term")
            .join(dls, "doc_id")
            .crossJoin(corpus)
            .select("doc_id", F.expr(_PRF_CONTRIB).alias("c"))
            .groupBy("doc_id")
            .agg(F.sum("c").cast("bigint").alias("units"))
        )

    qbase = spark.createDataFrame(
        [(w, 1.0) for w in _BM25_TERMS], "term string, w double"
    )
    feedback = (
        _score(qbase)
        .orderBy(F.col("units").desc(), "doc_id")
        .limit(_PRF_FEEDBACK)
        .select("doc_id")
    )
    expansion = (
        tf_all.join(feedback, "doc_id", "left_semi")
        .filter(
            (F.length("term") >= 4)
            & ~F.col("term").isin(*_BM25_TERMS)
        )
        .join(dfs, "term")
        .crossJoin(corpus)
        .select("term", F.expr(_PRF_TFIDF).alias("ev_u"))
        .groupBy("term")
        .agg(F.sum("ev_u").cast("bigint").alias("ev"))
        .orderBy(F.col("ev").desc(), "term")
        .limit(_PRF_EXPAND)
        .select("term", F.lit(_PRF_W_EXP).cast("double").alias("w"))
    )
    q2 = qbase.unionAll(expansion)
    from pyspark.sql import Window as _W

    return (
        _score(q2)
        .orderBy(F.col("units").desc(), "doc_id")
        .limit(_PRF_TOPK)
        .select(
            "doc_id",
            F.round(F.col("units") * 1.0 / _PRF_UNIT, 6).alias("score"),
            F.row_number()
            .over(_W.orderBy(F.col("units").desc(), "doc_id"))
            .cast("bigint")
            .alias("rank"),
        )
    )
