"""Statistical diagnostics over corpus and event data
(beyond-reference, SURVEY.md §7 Phase 4): rank correlation,
contingency-table independence, and population-stability drift — the
hypothesis-test / monitoring layer a data platform runs ON the data
the ELT layer lands (complements the KL-divergence and z-score/MAD
anomaly workloads).

Determinism conventions (cross-engine hash parity):
- Spearman runs on ROW-NUMBER ranks with a doc_id tiebreak (the
  deterministic tie-broken variant; the classic midrank form differs
  only when ties exist, and the tiebreak is stated in the output
  contract) — the whole statistic is integer arithmetic until one
  final division.
- chi² and PSI sum their per-cell terms in integer 1e-8 units
  (`sum(round(term * 1e8))`), the same order-independent summation
  convention as the attribution credits — double addition order can
  never flip a bit of the output.
- PSI bin boundaries are exact h1 deciles rounded to 6 dp before any
  comparison, so both engines bin against identical literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.operators.minhash import (
    spark_hash_expr as _spark_hash,
)
from datanika_core_spark.workloads import t, workload

# --------------------------------------------------------------------------
# Spearman rank correlation: doc length vs stopword count.
# --------------------------------------------------------------------------

_SP_STOP = ("size(filter(split(lower(trim(text)), '\\\\s+'),"
            " x -> x IN ('the', 'a', 'of', 'and')))")
_SP_STOP_DUCK = ("len(list_filter(regexp_split_to_array(lower(trim(text)),"
                 " '\\s+'), x -> x IN ('the', 'a', 'of', 'and')))")


@workload(
    "corr_spearman_length_stopwords",
    oracle=f"""
WITH base AS (
  SELECT doc_id, n_chars AS x, {_SP_STOP_DUCK} AS y FROM documents
),
ranked AS (
  SELECT row_number() OVER (ORDER BY x, doc_id) AS rx,
         row_number() OVER (ORDER BY y, doc_id) AS ry
  FROM base
)
SELECT CAST(count(*) AS BIGINT) AS n,
       ROUND(1 - 6.0 * sum((rx - ry) * (rx - ry))
               / (count(*) * (count(*) * count(*) - 1)), 6) AS spearman
FROM ranked
""",
)
def corr_spearman_length_stopwords(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between document length and
    stopword count — the monotone-association check behind 'is this
    quality feature just length in disguise?'. Tie-broken variant:
    ranks are row_number over (value, doc_id), so the statistic is
    exact integer arithmetic (ρ = 1 − 6Σd²/(n(n²−1))) until one
    final division.

    Scale: two global ranks via operators/ranking.global_row_number
    (range-repartition + per-partition rank + broadcast offsets —
    never a single-partition window). At 100 TB swap ranks for
    B-bucket histogram CDFs exactly like eval_auc_histogram — rank
    statistics degrade gracefully to binned forms; this exact form
    is their ground truth."""
    from datanika_core_spark.operators.ranking import (
        global_row_number,
        quantile_boundaries,
    )

    base = t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("x"), F.expr(_SP_STOP).alias("y")
    )
    # one boundary scan serves both rank frames — without it the outer
    # frame's eager quantile pass executes the inner ranking pipeline
    bx, by = quantile_boundaries(base, ["x", "y"])
    ranked = global_row_number(
        global_row_number(base, ["x", "doc_id"], "rx", boundaries=bx),
        ["y", "doc_id"], "ry", boundaries=by,
    ).select("rx", "ry")
    n = F.count(F.lit(1))
    d2 = F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry")))
    return ranked.agg(
        n.cast("bigint").alias("n"),
        F.round(1 - 6.0 * d2 / (n * (n * n - 1)), 6).alias("spearman"),
    )


# --------------------------------------------------------------------------
# Chi-squared independence: language × source contingency.
# --------------------------------------------------------------------------


@workload(
    "chi2_lang_source_independence",
    oracle="""
WITH obs AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
),
lt AS (SELECT lang, sum(o) AS row_tot FROM obs GROUP BY lang),
st AS (SELECT source, sum(o) AS col_tot FROM obs GROUP BY source),
n AS (SELECT sum(o) AS total FROM obs),
cells AS (
  SELECT lt.lang, st.source,
         coalesce(obs.o, 0) AS o,
         lt.row_tot * st.col_tot * 1.0 / n.total AS e
  FROM lt CROSS JOIN st CROSS JOIN n
  LEFT JOIN obs ON obs.lang = lt.lang AND obs.source = st.source
)
SELECT CAST((SELECT count(*) FROM lt) AS BIGINT) AS n_langs,
       CAST((SELECT count(*) FROM st) AS BIGINT) AS n_sources,
       CAST(((SELECT count(*) FROM lt) - 1)
          * ((SELECT count(*) FROM st) - 1) AS BIGINT) AS dof,
       ROUND(sum(CAST(round((o - e) * (o - e) / e * 100000000) AS BIGINT))
             / 100000000.0, 4) AS chi2
FROM cells
""",
)
def chi2_lang_source_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson chi-squared test of independence on the language ×
    source contingency table (χ² = Σ (O−E)²/E over ALL cells,
    including structural zeros) — 'does this source have the same
    language mix as the rest of the corpus?', the categorical twin
    of the per-source unigram-KL workload. Reports the statistic and
    its degrees of freedom; the per-cell terms sum in integer 1e-8
    units so double addition order cannot flip a bit.

    Scale: one groupBy(lang, source) over the corpus; everything
    after runs on the |langs|×|sources| marginal tables (broadcast
    cross join of two tiny frames — the only sanctioned cross
    product in the repo, k² rows by construction)."""
    docs = t(spark, sf_dir, "documents")
    # cache the tiny contingency table: every driver action and every
    # branch of the final plan would otherwise re-run the corpus
    # groupBy (Spark does not reuse un-exchanged subplans) — with the
    # cache the corpus is scanned exactly once, as the docstring says
    obs = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
        .cache()
    )
    lt = obs.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    st = obs.groupBy("source").agg(F.sum("o").alias("col_tot"))
    total = obs.agg(F.sum("o")).first()[0]  # bound: one aggregate row
    n_langs = lt.count()
    n_sources = st.count()
    cells = (
        lt.crossJoin(F.broadcast(st))  # bound: <= |source| rows
        .join(obs, ["lang", "source"], "left")
        .select(
            F.coalesce("o", F.lit(0)).alias("o"),
            (
                F.col("row_tot") * F.col("col_tot") * F.lit(1.0)
                / F.lit(total)
            ).alias("e"),
        )
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return cells.agg(
        F.lit(n_langs).cast("bigint").alias("n_langs"),
        F.lit(n_sources).cast("bigint").alias("n_sources"),
        F.lit((n_langs - 1) * (n_sources - 1)).cast("bigint").alias("dof"),
        F.round(
            F.sum(F.round(term * 100000000).cast("bigint")) / 100000000.0,
            4,
        ).alias("chi2"),
    )


# --------------------------------------------------------------------------
# Mutual information: language × source (effect size for chi²).
# --------------------------------------------------------------------------


@workload(
    "mi_lang_source",
    oracle="""
WITH obs AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
),
lt AS (SELECT lang, sum(o) AS row_tot FROM obs GROUP BY lang),
st AS (SELECT source, sum(o) AS col_tot FROM obs GROUP BY source),
n AS (SELECT sum(o) AS total FROM obs),
cells AS (
  SELECT obs.lang, obs.source, obs.o,
         ln(obs.o * CAST(n.total AS DOUBLE)
            / (lt.row_tot * st.col_tot)) AS pmi,
         CAST(round(
             (obs.o * 1.0 / n.total)
             * ln(obs.o * CAST(n.total AS DOUBLE)
                  / (lt.row_tot * st.col_tot)) * 100000000
         ) AS BIGINT) AS contrib_units
  FROM obs
  JOIN lt ON lt.lang = obs.lang
  JOIN st ON st.source = obs.source
  CROSS JOIN n
)
SELECT lang, source, o AS n_docs,
       ROUND(pmi, 6) AS pmi_nats,
       ROUND(contrib_units / 100000000.0, 6) AS mi_contrib_nats,
       ROUND(sum(contrib_units) OVER () / 100000000.0, 6)
         AS mi_total_nats
FROM cells
ORDER BY lang, source
""",
)
def mi_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information of the language × source pair, per-cell
    PMI plus each cell's MI contribution and the corpus total — the
    EFFECT-SIZE companion to the chi² independence test (chi² says
    whether the mix differs; MI in nats says by HOW MUCH, and the
    per-cell PMI says WHERE: which source over/under-represents
    which language — the number a mixture-rebalancing pass acts on).
    Zero cells contribute 0 to MI by the p·ln p → 0 limit, so only
    observed cells appear. Contributions sum in integer 1e-8 units.

    Scale: identical shape to chi² — one groupBy(lang, source) scan,
    then joins among the |langs|+|sources|+1 marginal frames; the
    window total runs over |cells| ≤ |langs|×|sources| rows."""
    docs = t(spark, sf_dir, "documents")
    obs = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .cache()
    )
    lt = obs.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    st = obs.groupBy("source").agg(F.sum("o").alias("col_tot"))
    total = obs.agg(F.sum("o")).first()[0]  # bound: one aggregate row
    pmi = F.log(
        F.col("o") * F.lit(float(total))
        / (F.col("row_tot") * F.col("col_tot"))
    )
    cells = (
        obs.join(F.broadcast(lt), "lang")  # bound: <= |lang| rows
        .join(F.broadcast(st), "source")  # bound: <= |source| rows
        .select(
            "lang",
            "source",
            F.col("o").alias("n_docs"),
            pmi.alias("pmi"),
            F.round((F.col("o") * F.lit(1.0) / F.lit(total)) * pmi * 100000000)
            .cast("bigint")
            .alias("contrib_units"),
        )
    )
    from pyspark.sql import Window as _W

    return cells.select(
        "lang",
        "source",
        "n_docs",
        F.round("pmi", 6).alias("pmi_nats"),
        F.round(F.col("contrib_units") / 100000000.0, 6)
        .alias("mi_contrib_nats"),
        F.round(
            F.sum("contrib_units").over(
                _W.rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
            )
            / 100000000.0,
            6,
        ).alias("mi_total_nats"),
    ).orderBy("lang", "source")


# --------------------------------------------------------------------------
# Population Stability Index: event-value drift between window halves.
# --------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16 00:00:00"
_PSI_ROUND = 6  # boundary rounding (dp) before bin assignment


@workload(
    "psi_event_value_drift",
    oracle=f"""
WITH h1 AS (
  SELECT value AS v FROM events WHERE ts < TIMESTAMP '{_PSI_SPLIT}'
),
h2 AS (
  SELECT value AS v FROM events WHERE ts >= TIMESTAMP '{_PSI_SPLIT}'
),
bounds AS (
  SELECT list_transform(
           quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           b -> round(b, {_PSI_ROUND})) AS bs
  FROM h1
),
b1 AS (
  SELECT len(list_filter(b.bs, x -> v > x)) AS bin, count(*) AS c
  FROM h1 CROSS JOIN bounds b GROUP BY bin
),
b2 AS (
  SELECT len(list_filter(b.bs, x -> v > x)) AS bin, count(*) AS c
  FROM h2 CROSS JOIN bounds b GROUP BY bin
),
n1 AS (SELECT sum(c) AS n FROM b1),
n2 AS (SELECT sum(c) AS n FROM b2),
bins AS (SELECT unnest(range(0, 10)) AS bin),
terms AS (
  SELECT bins.bin,
         (coalesce(b1.c, 0) + 0.5) / (n1.n + 5.0) AS p1,
         (coalesce(b2.c, 0) + 0.5) / (n2.n + 5.0) AS p2
  FROM bins
  LEFT JOIN b1 ON b1.bin = bins.bin
  LEFT JOIN b2 ON b2.bin = bins.bin
  CROSS JOIN n1 CROSS JOIN n2
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       ROUND(sum(CAST(round((p2 - p1) * ln(p2 / p1) * 100000000) AS BIGINT))
             / 100000000.0, 6) AS psi
FROM terms
""",
)
def psi_event_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event `value` distribution
    between the first and second half of the window: decile bins of
    the FIRST half (the reference period) score how far the second
    half drifted — the monitoring metric scorecards alarm on
    (PSI < 0.1 stable, 0.1–0.25 shifting, > 0.25 drifted).
    Laplace-smoothed (+0.5/bin) so empty bins can't produce ±inf.

    Scale: boundaries are nine exact deciles of the reference half
    (percentile_approx at real scale — the same trade documented for
    the percentile filters), snapped half-away-from-zero to 6 dp
    (DuckDB's round() convention — NOT Python's half-even round())
    and entering both engines' plans as literals; each half then
    bins map-side and
    aggregates to 10 rows. Terms sum in integer 1e-8 units."""
    import math

    ev = t(spark, sf_dir, "events")
    split = F.lit(_PSI_SPLIT).cast("timestamp")
    h1 = ev.filter(F.col("ts") < split).select(F.col("value").alias("v"))
    h2 = ev.filter(F.col("ts") >= split).select(F.col("value").alias("v"))

    def _snap(b: float) -> float:
        # half-AWAY-from-zero in integer micro-units, matching DuckDB
        # round(); Python round() is half-even and can emit a
        # different literal when a decile lands on a 1e-6 midpoint
        unit = 10 ** _PSI_ROUND
        return math.copysign(math.floor(abs(b) * unit + 0.5), b) / unit

    qs = [_snap(b) for b in h1.agg(
        F.expr(
            "percentile(v, array(0.1, 0.2, 0.3, 0.4, 0.5,"
            " 0.6, 0.7, 0.8, 0.9))"
        )
    ).first()[0]]  # bound: one aggregate row
    bs = F.array(*[F.lit(float(b)) for b in qs])

    def binned(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.size(F.filter(bs, lambda x: F.col("v") > x)).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    # cache the 10-row bin tables: the totals and the final join
    # branches then reuse them instead of re-scanning events (3 event
    # scans total: the decile sketch + one per half)
    b1 = binned(h1).cache()
    b2 = binned(h2).cache()
    n1 = b1.agg(F.sum("c")).first()[0]  # bound: one aggregate row
    n2 = b2.agg(F.sum("c")).first()[0]  # bound: one aggregate row
    bins = spark.range(0, 10).select(F.col("id").cast("int").alias("bin"))
    terms = (
        bins.join(b1, "bin", "left")
        .withColumnRenamed("c", "c1")
        .join(b2, "bin", "left")
        .withColumnRenamed("c", "c2")
        .select(
            ((F.coalesce("c1", F.lit(0)) + 0.5) / F.lit(n1 + 5.0))
            .alias("p1"),
            ((F.coalesce("c2", F.lit(0)) + 0.5) / F.lit(n2 + 5.0))
            .alias("p2"),
        )
    )
    term = (F.col("p2") - F.col("p1")) * F.log(F.col("p2") / F.col("p1"))
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(
            F.sum(F.round(term * 100000000).cast("bigint")) / 100000000.0,
            6,
        ).alias("psi"),
    )


# --------------------------------------------------------------------------
# Zipf slope of the term-frequency distribution.
# --------------------------------------------------------------------------

_ZIPF_V = 500  # top-V terms entering the fit


@workload(
    "zipf_slope_terms",
    oracle=f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
freq AS (
  SELECT tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY tok
),
ranked AS (
  SELECT row_number() OVER (ORDER BY c DESC, tok) AS r, c
  FROM freq
  QUALIFY r <= {_ZIPF_V}
),
pts AS (SELECT ln(r) AS x, ln(c) AS y FROM ranked),
sums AS (
  SELECT count(*) AS n,
         sum(CAST(round(x * 100000000) AS BIGINT)) / 100000000.0 AS sx,
         sum(CAST(round(y * 100000000) AS BIGINT)) / 100000000.0 AS sy,
         sum(CAST(round(x * x * 100000000) AS BIGINT)) / 100000000.0 AS sxx,
         sum(CAST(round(x * y * 100000000) AS BIGINT)) / 100000000.0 AS sxy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM sums
""",
)
def zipf_slope_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: OLS slope of ln(freq) on
    ln(rank) over the top-{v} terms — natural text sits near −1, and
    a flat slope flags synthetic/templated corpora (the same
    'does this look like language?' screen the Gopher-rule and
    entropy filters approach from other angles).

    Scale: term counting is one combiner-friendly groupBy; the
    top-{v} cut is a TakeOrdered; the regression consumes {v} points
    via closed-form sums accumulated in integer 1e-8 units (addition
    order can't flip a bit), so no ML library and no driver math
    beyond the final two divisions.""".replace("{v}", str(_ZIPF_V))
    toks = (
        t(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked = (
        freq.select(
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("tok")))
            .alias("r"),
            "c",
        )
        .filter(F.col("r") <= _ZIPF_V)
    )
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )

    def isum(e):
        return F.sum(F.round(e * 100000000).cast("bigint")) / 100000000.0

    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        isum(F.col("x")).alias("sx"),
        isum(F.col("y")).alias("sy"),
        isum(F.col("x") * F.col("x")).alias("sxx"),
        isum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"),
    )


# --------------------------------------------------------------------------
# Histogram Spearman — the no-global-sort variant, with measured error.
# --------------------------------------------------------------------------

_SPH_B = 64  # fixed bins per variable


@workload(
    "corr_spearman_histogram",
    oracle=f"""
WITH base AS (
  SELECT doc_id, n_chars AS x, {_SP_STOP_DUCK} AS y FROM documents
),
bounds AS (
  SELECT min(x) AS xlo, max(x) AS xhi, min(y) AS ylo, max(y) AS yhi
  FROM base
),
binned AS (
  SELECT doc_id,
         least(CAST(floor((x - b.xlo) * {_SPH_B} * 1.0
                          / (b.xhi - b.xlo)) AS BIGINT),
               {_SPH_B - 1}) AS bx,
         least(CAST(floor((y - b.ylo) * {_SPH_B} * 1.0
                          / (b.yhi - b.ylo)) AS BIGINT),
               {_SPH_B - 1}) AS by
  FROM base CROSS JOIN bounds b
),
xhist AS (SELECT bx, count(*) AS c FROM binned GROUP BY bx),
yhist AS (SELECT by, count(*) AS c FROM binned GROUP BY by),
xrank AS (
  SELECT bx,
         coalesce(sum(c) OVER (ORDER BY bx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (c + 1) / 2.0 AS r
  FROM xhist
),
yrank AS (
  SELECT by,
         coalesce(sum(c) OVER (ORDER BY by
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (c + 1) / 2.0 AS r
  FROM yhist
),
ranked AS (
  SELECT xr.r AS rx, yr.r AS ry
  FROM binned b
  JOIN xrank xr ON xr.bx = b.bx
  JOIN yrank yr ON yr.by = b.by
),
sums AS (
  SELECT count(*) AS n,
         sum(CAST(round(rx * 100) AS BIGINT)) / 100.0 AS sx,
         sum(CAST(round(ry * 100) AS BIGINT)) / 100.0 AS sy,
         sum(CAST(round(rx * rx * 100) AS BIGINT)) / 100.0 AS sxx,
         sum(CAST(round(ry * ry * 100) AS BIGINT)) / 100.0 AS syy,
         sum(CAST(round(rx * ry * 100) AS BIGINT)) / 100.0 AS sxy
  FROM ranked
),
approx AS (
  SELECT (n * sxy - sx * sy)
         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rho_hist
  FROM sums
),
exact_ranked AS (
  SELECT row_number() OVER (ORDER BY x, doc_id) AS rx,
         row_number() OVER (ORDER BY y, doc_id) AS ry
  FROM base
),
exact AS (
  SELECT 1 - 6.0 * sum((rx - ry) * (rx - ry))
           / (count(*) * (count(*) * count(*) - 1)) AS rho_exact
  FROM exact_ranked
)
SELECT CAST({_SPH_B} AS BIGINT) AS n_bins,
       ROUND(a.rho_hist, 6) AS rho_hist,
       ROUND(e.rho_exact, 6) AS rho_exact,
       ROUND(abs(a.rho_hist - e.rho_exact), 6) AS abs_err
FROM approx a CROSS JOIN exact e
""",
)
def corr_spearman_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram Spearman — the no-global-sort form the exact
    workload documents as its 100 TB swap: each variable buckets
    into {b} fixed bins, every row takes its bin's MIDRANK from the
    bin-count CDF, and Pearson over midranks approximates ρ; the
    same row carries the exact rank statistic and the absolute
    error, so the bin count is self-measuring (the
    eval_auc_histogram pattern applied to correlation).

    Scale: bounds are one min/max agg; two {b}-row histograms with
    cumulative midranks; rank assignment is a broadcast join back —
    no global sort anywhere in the approximate path. Midranks snap
    at 1e-2 units (they are integers or .5 exactly), products at
    1e-2 — every sum is order-independent.""".replace(
        "{b}", str(_SPH_B)
    )
    base = t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("x"), F.expr(_SP_STOP).alias("y")
    )
    xlo, xhi, ylo, yhi = base.agg(
        F.min("x"), F.max("x"), F.min("y"), F.max("y")
    ).first()  # bound: one aggregate row

    def bin_col(c, lo, hi):
        return F.least(
            F.floor((F.col(c) - F.lit(lo)) * _SPH_B * F.lit(1.0)
                    / F.lit(hi - lo)).cast("bigint"),
            F.lit(_SPH_B - 1),
        )

    binned = base.select(
        "doc_id",
        bin_col("x", xlo, xhi).alias("bx"),
        bin_col("y", ylo, yhi).alias("by"),
    ).cache()
    wb = Window.orderBy("bx").rowsBetween(Window.unboundedPreceding, -1)
    xrank = (
        binned.groupBy("bx").agg(F.count(F.lit(1)).alias("c"))
        .select(
            "bx",
            (F.coalesce(F.sum("c").over(wb), F.lit(0))
             + (F.col("c") + 1) / 2.0).alias("rx_mid"),
        )
    )
    wy = Window.orderBy("by").rowsBetween(Window.unboundedPreceding, -1)
    yrank = (
        binned.groupBy("by").agg(F.count(F.lit(1)).alias("c"))
        .select(
            "by",
            (F.coalesce(F.sum("c").over(wy), F.lit(0))
             + (F.col("c") + 1) / 2.0).alias("ry_mid"),
        )
    )
    ranked = (
        binned.join(F.broadcast(xrank), "bx")  # bound: <= _SPH_B bin rows
        .join(F.broadcast(yrank), "by")  # bound: <= _SPH_B bin rows
        .select(F.col("rx_mid").alias("rx"), F.col("ry_mid").alias("ry"))
    )

    def snap(e):
        return F.sum(F.round(e * 100).cast("bigint")) / 100.0

    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        snap(F.col("rx")).alias("sx"),
        snap(F.col("ry")).alias("sy"),
        snap(F.col("rx") * F.col("rx")).alias("sxx"),
        snap(F.col("ry") * F.col("ry")).alias("syy"),
        snap(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    rho_hist = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    approx = sums.select(rho_hist.alias("rho_hist"))
    from datanika_core_spark.operators.ranking import (
        global_row_number,
        quantile_boundaries,
    )

    bx, by = quantile_boundaries(base, ["x", "y"])
    exact_ranked = global_row_number(
        global_row_number(base, ["x", "doc_id"], "rx", boundaries=bx),
        ["y", "doc_id"], "ry", boundaries=by,
    ).select("rx", "ry")
    n = F.count(F.lit(1))
    exact = exact_ranked.agg(
        (
            1
            - 6.0
            * F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry")))
            / (n * (n * n - 1))
        ).alias("rho_exact")
    )
    return approx.crossJoin(exact).select(
        F.lit(_SPH_B).cast("bigint").alias("n_bins"),
        F.round("rho_hist", 6).alias("rho_hist"),
        F.round("rho_exact", 6).alias("rho_exact"),
        F.round(F.abs(F.col("rho_hist") - F.col("rho_exact")), 6)
        .alias("abs_err"),
    )


# --------------------------------------------------------------------------
# A/B experiment readout: hash assignment + Welch z on integer moments.
# --------------------------------------------------------------------------


@workload(
    "abtest_welch_readout",
    oracle="""
WITH assign AS (
  SELECT user_id,
         ('0x'||substring(md5('ab-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS variant,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS cents
  FROM events GROUP BY user_id
),
arm AS (
  SELECT variant,
         count(*) AS n,
         sum(cents) AS s,
         sum(cents * cents) AS ss
  FROM assign GROUP BY variant
),
wide AS (
  SELECT
    max(CASE WHEN variant = 0 THEN n END) AS n0,
    max(CASE WHEN variant = 1 THEN n END) AS n1,
    max(CASE WHEN variant = 0 THEN s END) AS s0,
    max(CASE WHEN variant = 1 THEN s END) AS s1,
    max(CASE WHEN variant = 0 THEN ss END) AS ss0,
    max(CASE WHEN variant = 1 THEN ss END) AS ss1
  FROM arm
)
SELECT CAST(n0 AS BIGINT) AS n_control,
       CAST(n1 AS BIGINT) AS n_treatment,
       ROUND(s0 * 1.0 / n0 / 100.0, 4) AS mean_control,
       ROUND(s1 * 1.0 / n1 / 100.0, 4) AS mean_treatment,
       ROUND((s1 * 1.0 / n1 - s0 * 1.0 / n0) / 100.0, 4) AS lift,
       ROUND((s1 * 1.0 / n1 - s0 * 1.0 / n0)
             / sqrt((n0 * ss0 - s0 * s0) * 1.0 / (n0 * n0 * (n0 - 1))
                    + (n1 * ss1 - s1 * s1) * 1.0 / (n1 * n1 * (n1 - 1))),
             4) AS z
FROM wide
""",
)
def abtest_welch_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over per-user purchase revenue: users
    assign to control/treatment by the engine-portable md5 bucket
    (stable under reruns and late-arriving data — the property
    rand() assignment lacks), the metric is each user's total
    purchase cents, and the readout is the Welch z statistic
    (mean difference over sqrt of the summed standard errors).
    Every moment (n, Σx, Σx²) is an exact BIGINT; the sample
    variances use the n-scaled form (n·Σx² − (Σx)²)/(n²(n−1)), so
    both engines reach z through the identical IEEE sequence —
    sqrt is correctly rounded by spec, making even the test
    statistic bit-deterministic before display rounding.

    Scale: one map-side assignment expression + one user groupBy
    (the natural key) + a two-row arm aggregate — experiment
    readouts at any corpus size are a single combiner-friendly
    pass; CUPED or covariate adjustments add moments to the same
    aggregate, never a second scan."""
    ev = t(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("cents")
    ).select(
        F.expr(
            "pmod("
            + _spark_hash("concat('ab-', cast(user_id as string))")
            + ", 2)"
        ).alias("variant"),
        "cents",
    )
    arm = assign.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )

    def pick(v: int, c: str, alias: str):
        return F.max(F.when(F.col("variant") == v, F.col(c))).alias(alias)

    wide = arm.agg(
        pick(0, "n", "n0"), pick(1, "n", "n1"),
        pick(0, "s", "s0"), pick(1, "s", "s1"),
        pick(0, "ss", "ss0"), pick(1, "ss", "ss1"),
    )
    m0 = F.col("s0") * 1.0 / F.col("n0")
    m1 = F.col("s1") * 1.0 / F.col("n1")
    var0 = (
        (F.col("n0") * F.col("ss0") - F.col("s0") * F.col("s0")) * 1.0
        / (F.col("n0") * F.col("n0") * (F.col("n0") - 1))
    )
    var1 = (
        (F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")) * 1.0
        / (F.col("n1") * F.col("n1") * (F.col("n1") - 1))
    )
    return wide.select(
        F.col("n0").cast("bigint").alias("n_control"),
        F.col("n1").cast("bigint").alias("n_treatment"),
        F.round(m0 / 100.0, 4).alias("mean_control"),
        F.round(m1 / 100.0, 4).alias("mean_treatment"),
        F.round((m1 - m0) / 100.0, 4).alias("lift"),
        F.round((m1 - m0) / F.sqrt(var0 + var1), 4).alias("z"),
    )


# --------------------------------------------------------------------------
# Split-conformal prediction intervals with measured coverage.
# --------------------------------------------------------------------------

_CP_SPLIT = "2024-01-16 00:00:00"  # calibration < split <= evaluation
_CP_ALPHA = 0.1  # target miscoverage → q90 of calibration residuals


@workload(
    "conformal_interval_events",
    oracle=f"""
WITH cal AS (
  SELECT event_type, value FROM events
  WHERE ts < TIMESTAMP '{_CP_SPLIT}'
),
ev AS (
  SELECT event_type, value FROM events
  WHERE ts >= TIMESTAMP '{_CP_SPLIT}'
),
center AS (
  SELECT event_type, avg(value) AS mu, CAST(count(*) AS BIGINT) AS n_cal
  FROM cal GROUP BY event_type
),
qhat AS (
  SELECT c.event_type, c.mu, c.n_cal,
         quantile_cont(abs(cal.value - c.mu), {1 - _CP_ALPHA}) AS q
  FROM cal JOIN center c USING (event_type)
  GROUP BY c.event_type, c.mu, c.n_cal
),
cov AS (
  SELECT q.event_type, q.mu, q.n_cal, q.q,
         CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN abs(ev.value - q.mu) <= q.q
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM ev JOIN qhat q USING (event_type)
  GROUP BY q.event_type, q.mu, q.n_cal, q.q
)
SELECT event_type, n_cal, n_eval,
       ROUND(mu, 6) AS center,
       ROUND(q, 6) AS q90_abs_resid,
       ROUND(n_covered * 1.0 / n_eval, 6) AS coverage
FROM cov
ORDER BY event_type
""",
)
def conformal_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al. 2005;
    Papadopoulos 2002) per event type: fit a trivial predictor (the
    calibration-window mean), take the 90th percentile of
    calibration absolute residuals as the conformal radius, and
    MEASURE the empirical coverage on the held-out window — the
    distribution-free uncertainty primitive every monitoring
    threshold secretly wants (the alarm band with a guaranteed
    false-alarm rate, no normality assumption — compare the z-score
    and MAD anomaly workloads, which assume a shape). Coverage ≈
    90% by the conformal guarantee; its exact value is part of the
    checked result.

    Scale: two filtered scans (calibration twice — mean then
    residual quantile — and evaluation once), each a
    combiner-friendly groupBy(event_type); the exact residual
    quantile is per-group sort-based here — at 100 TB swap in the
    bottom-k / t-digest sketch quantiles (workloads/sketches.py)
    for the same pipeline shape without the sort."""
    ev_all = t(spark, sf_dir, "events")
    cal = ev_all.filter(F.col("ts") < _CP_SPLIT).select("event_type", "value")
    ev = ev_all.filter(F.col("ts") >= _CP_SPLIT).select("event_type", "value")
    center = cal.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
    )
    qhat = (
        # bound: <= |event_type| rows
        cal.join(F.broadcast(center), "event_type")
        .groupBy("event_type", "mu", "n_cal")
        .agg(
            F.expr(f"percentile(abs(value - mu), {1 - _CP_ALPHA})").alias("q")
        )
    )
    cov = (
        ev.join(F.broadcast(qhat), "event_type")  # bound: <= |event_type| rows
        .groupBy("event_type", "mu", "n_cal", "q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("mu")) <= F.col("q"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_covered"),
        )
    )
    return cov.select(
        "event_type",
        "n_cal",
        "n_eval",
        F.round("mu", 6).alias("center"),
        F.round("q", 6).alias("q90_abs_resid"),
        F.round(F.col("n_covered") * 1.0 / F.col("n_eval"), 6)
        .alias("coverage"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Sequential A/B testing: Wald's SPRT over the ordered trial stream.
# --------------------------------------------------------------------------

import math as _math

_SPRT_P0 = 0.10   # H0 conversion rate
_SPRT_P1 = 0.14   # H1 conversion rate
_SPRT_ALPHA = 0.05
_SPRT_BETA = 0.05
_SPRT_VALUE = 100  # a purchase converts when value > this

#: per-trial log-likelihood-ratio increments and decision bounds —
#: Python-evaluated literals inlined VERBATIM into both engines, so
#: llr = conv·L1 + fail·L0 is the identical IEEE expression.
_SPRT_L1 = _math.log(_SPRT_P1 / _SPRT_P0)
_SPRT_L0 = _math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
_SPRT_UP = _math.log((1 - _SPRT_BETA) / _SPRT_ALPHA)
_SPRT_LO = _math.log(_SPRT_BETA / (1 - _SPRT_ALPHA))


@workload(
    "abtest_sprt_sequential",
    oracle=f"""
WITH trials AS (
  SELECT ('0x'||substring(md5('ab-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS variant,
         ts, event_id,
         CASE WHEN value > {_SPRT_VALUE} THEN 1 ELSE 0 END AS s
  FROM events WHERE event_type = 'purchase'
),
walk AS (
  SELECT variant,
         row_number() OVER w AS i,
         CAST(sum(s) OVER w AS BIGINT) AS conv
  FROM trials
  WINDOW w AS (PARTITION BY variant ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
llr AS (
  SELECT variant, i, conv,
         conv * CAST({_SPRT_L1!r} AS DOUBLE) + (i - conv) * CAST({_SPRT_L0!r} AS DOUBLE) AS llr
  FROM walk
),
agg AS (
  SELECT variant,
         CAST(max(i) AS BIGINT) AS n_trials,
         CAST(max(conv) AS BIGINT) AS n_success,
         CAST(min(CASE WHEN llr >= CAST({_SPRT_UP!r} AS DOUBLE) THEN i END)
              AS BIGINT) AS i_up,
         CAST(min(CASE WHEN llr <= CAST({_SPRT_LO!r} AS DOUBLE) THEN i END)
              AS BIGINT) AS i_lo,
         max_by(llr, i) AS final_llr
  FROM llr GROUP BY variant
)
SELECT variant AS arm, n_trials, n_success,
       ROUND(final_llr, 6) AS final_llr,
       CASE
         WHEN i_up IS NULL AND i_lo IS NULL THEN 'continue'
         WHEN i_lo IS NULL OR (i_up IS NOT NULL AND i_up <= i_lo)
           THEN 'accept_h1'
         ELSE 'accept_h0'
       END AS decision,
       least(coalesce(i_up, i_lo), coalesce(i_lo, i_up))
         AS n_at_decision
FROM agg
ORDER BY arm
""",
)
def abtest_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test (Wald 1945) per
    experiment arm: purchases stream in ts order, each trial adds
    its Bernoulli log-likelihood-ratio increment, and the experiment
    DECIDES at the first boundary crossing — accept H1 (p=0.14)
    above ln((1−β)/α), accept H0 (p=0.10) below ln(β/(1−α)) — the
    always-valid sequential answer to "can we stop the experiment
    yet?" that the fixed-horizon Welch readout cannot give (peeking
    at a z-test inflates α; the SPRT's error rates hold at EVERY
    peek). Reports where each arm's walk first crossed and what it
    decided; 'continue' is a legitimate outcome at small n.

    Scale: the LLR walk is a per-arm cumulative window over the
    trials (the same shape as the CUSUM changepoint workload — at
    100 TB trials per arm partition by day first, carrying the
    per-day offset exactly like the two-phase global prefix sum);
    the decision extraction is a conditional-min aggregate, one
    combiner pass."""
    trials = _sprt_trials(t(spark, sf_dir, "events"))
    w = Window.partitionBy("variant").orderBy("ts", "event_id")
    walk = trials.select(
        "variant",
        F.row_number().over(w).alias("i"),
        F.sum("s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint").alias("conv"),
    )
    return _sprt_report(_sprt_crossings(walk))


def _sprt_trials(events: DataFrame) -> DataFrame:
    """(variant, ts, event_id, s) purchase trials: the md5 A/B arm
    and s = 1 for a converting purchase."""
    return events.filter(F.col("event_type") == "purchase").select(
        F.expr(
            "pmod("
            + _spark_hash("concat('ab-', cast(user_id as string))")
            + ", 2)"
        ).alias("variant"),
        "ts",
        "event_id",
        F.when(F.col("value") > _SPRT_VALUE, 1).otherwise(0).alias("s"),
    )


def _sprt_llr(n: str, conv: str) -> Column:
    """LLR after ``n`` trials of which ``conv`` converted:
    conv·L1 + (n − conv)·L0 — integers times two Python literals."""
    return (F.col(conv) * F.lit(_SPRT_L1)
            + (F.col(n) - F.col(conv)) * F.lit(_SPRT_L0))


def _sprt_crossings(walk: DataFrame) -> DataFrame:
    """(variant, n_trials, n_success, i_up, i_lo) of a (variant, i,
    conv) walk: per arm the trial and conversion totals and the first
    trial index whose LLR crossed each bound (null until crossed)."""
    llr = walk.withColumn("llr", _sprt_llr("i", "conv"))
    return llr.groupBy("variant").agg(
        F.max("i").cast("bigint").alias("n_trials"),
        F.max("conv").cast("bigint").alias("n_success"),
        F.min(F.when(F.col("llr") >= _SPRT_UP, F.col("i")))
        .cast("bigint").alias("i_up"),
        F.min(F.when(F.col("llr") <= _SPRT_LO, F.col("i")))
        .cast("bigint").alias("i_lo"),
    )


def _sprt_report(arms: DataFrame) -> DataFrame:
    """The per-arm decision from ``_sprt_crossings`` rows — shared by
    the batch workload and the streaming twin (streaming/audit.py).
    The final LLR is the LLR of the two totals: the walk's last
    step."""
    decision = (
        F.when(F.col("i_up").isNull() & F.col("i_lo").isNull(),
               F.lit("continue"))
        .when(
            F.col("i_lo").isNull()
            | (F.col("i_up").isNotNull() & (F.col("i_up") <= F.col("i_lo"))),
            F.lit("accept_h1"),
        )
        .otherwise(F.lit("accept_h0"))
    )
    return arms.select(
        F.col("variant").alias("arm"),
        "n_trials",
        "n_success",
        F.round(_sprt_llr("n_trials", "n_success"), 6).alias("final_llr"),
        decision.alias("decision"),
        F.least(
            F.coalesce(F.col("i_up"), F.col("i_lo")),
            F.coalesce(F.col("i_lo"), F.col("i_up")),
        ).alias("n_at_decision"),
    ).orderBy("arm")


# --------------------------------------------------------------------------
# Neyman-optimal stratified sample allocation.
# --------------------------------------------------------------------------

_NEY_BUDGET = 1000  # total sample size to allocate across strata


@workload(
    "sample_neyman_allocation",
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ssc
  FROM events GROUP BY event_type
),
sig AS (
  SELECT event_type, n_rows,
         sqrt((n_rows * ssc - sc * sc) * 1.0 / (n_rows * n_rows)) AS sigma,
         CAST(floor(n_rows * sqrt((n_rows * ssc - sc * sc) * 1.0
                                  / (n_rows * n_rows)) * 100 + 0.5)
              AS BIGINT) AS w_units
  FROM s
),
tot AS (
  SELECT CAST(sum(w_units) AS BIGINT) AS wt,
         CAST(sum(n_rows) AS BIGINT) AS nt
  FROM sig
)
SELECT g.event_type, g.n_rows,
       ROUND(g.sigma / 100.0, 6) AS sigma,
       ROUND(g.w_units * 1.0 / t.wt, 6) AS neyman_share,
       CAST(floor({_NEY_BUDGET} * g.w_units * 1.0 / t.wt + 0.5)
            AS BIGINT) AS n_neyman,
       CAST(floor({_NEY_BUDGET} * g.n_rows * 1.0 / t.nt + 0.5)
            AS BIGINT) AS n_proportional
FROM sig g CROSS JOIN tot t
ORDER BY g.event_type
""",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934):
    given a budget of 1000 sampled rows, each stratum (event type)
    gets n_h ∝ N_h·σ_h — more sample where there is more variance
    to pin down, the design that minimizes the estimator's variance
    at fixed cost, against the naive proportional allocation shown
    alongside. Moments are exact BIGINT cents (the Welch-readout
    convention); each stratum's single sqrt is correctly rounded by
    spec, and the weights snap to integer units BEFORE the shares so
    the 5-way sum is order-free BIGINT addition.

    Scale: ONE combiner groupBy(event_type) over the events scan —
    allocation of any budget over any corpus is a |strata|-row
    computation; the systematic-PPS workload then realizes the draw
    with exactly these quotas."""
    ev = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(cents).cast("bigint").alias("sc"),
        F.sum(cents * cents).cast("bigint").alias("ssc"),
    )
    sigma = F.sqrt(
        (F.col("n_rows") * F.col("ssc") - F.col("sc") * F.col("sc"))
        * 1.0
        / (F.col("n_rows") * F.col("n_rows"))
    )
    sig = s.select(
        "event_type",
        "n_rows",
        sigma.alias("sigma"),
        F.floor(F.col("n_rows") * sigma * 100 + 0.5)
        .cast("bigint")
        .alias("w_units"),
    )
    tot = sig.agg(
        F.sum("w_units").cast("bigint").alias("wt"),
        F.sum("n_rows").cast("bigint").alias("nt"),
    )
    return (
        sig.crossJoin(tot)
        .select(
            "event_type",
            "n_rows",
            F.round(F.col("sigma") / 100.0, 6).alias("sigma"),
            F.round(F.col("w_units") * 1.0 / F.col("wt"), 6)
            .alias("neyman_share"),
            F.floor(
                _NEY_BUDGET * F.col("w_units") * 1.0 / F.col("wt") + 0.5
            ).cast("bigint").alias("n_neyman"),
            F.floor(
                _NEY_BUDGET * F.col("n_rows") * 1.0 / F.col("nt") + 0.5
            ).cast("bigint").alias("n_proportional"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Mann-Whitney U — the nonparametric A/B readout next to the Welch t
# (means) and SPRT (sequential) tests: rank-based, so it answers
# "does one arm's purchase-value DISTRIBUTION stochastically dominate
# the other's?" without any normality assumption.
# --------------------------------------------------------------------------


@workload(
    "abtest_mann_whitney_u",
    oracle="""
WITH trials AS (
  SELECT ('0x'||substring(md5('ab-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS variant,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
),
by_val AS (
  SELECT c,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(count(*) AS BIGINT) AS cnt
  FROM trials GROUP BY c
),
ranked AS (
  SELECT na, cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cumb
  FROM by_val
),
agg AS (
  SELECT CAST(sum(na) AS BIGINT) AS n1,
         CAST(sum(cnt - na) AS BIGINT) AS n2,
         CAST(sum(na * (2 * cumb + cnt + 1)) AS BIGINT) AS r1_2,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_t
  FROM ranked
),
stats AS (
  SELECT n1, n2, n1 + n2 AS n,
         (r1_2 - n1 * (n1 + 1)) / 2.0 AS u1,
         tie_t
  FROM agg
)
SELECT n1 AS n_a, n2 AS n_b,
       ROUND(u1, 6) AS u_a,
       ROUND(n1 * n2 - u1, 6) AS u_b,
       ROUND((u1 - n1 * n2 / 2.0)
             / sqrt(n1 * n2 / 12.0
                    * ((n + 1) - tie_t * 1.0 / (n * (n - 1)))), 6) AS z,
       ROUND(1 - 2.0 * u1 / (n1 * n2), 6) AS rank_biserial
FROM stats
""",
)
def abtest_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947) between
    the two experiment arms' purchase values — the nonparametric
    companion to the Welch readout: U counts how often an arm-A
    value outranks an arm-B value, so its z-score (normal
    approximation with the exact tie correction, no continuity
    correction) is a distribution-free dominance test, and the
    rank-biserial r = 1 − 2U/(n₁n₂) is its effect size.

    Integer-exactness: values rank as BIGINT cents; tied groups
    contribute their doubled average rank 2·cum_before + cnt + 1
    (always an integer), so the rank sum, tie term Σ(t³−t), and
    2U are all BIGINT — both engines reach the final z from
    identical integers, and the only floats are the closing
    divide/sqrt.

    Scale: one combiner groupBy to |distinct cents| rows, one window
    pass over that (value-ordered — at 100 TB range-partition by the
    value key), one scalar aggregate. Arms need not fit anywhere;
    nothing is per-row after the first groupBy."""
    return _mw_report(_mw_grid(t(spark, sf_dir, "events")))


def _mw_grid(events: DataFrame) -> DataFrame:
    """(c, na, cnt): per purchase value in cents, the arm-A count and
    the total count — additive across any split of the rows, so the
    streaming twin (streaming/audit.py) folds it per micro-batch."""
    trials = events.filter(F.col("event_type") == "purchase").select(
        F.expr(
            "pmod("
            + _spark_hash("concat('ab-', cast(user_id as string))")
            + ", 2)"
        ).alias("variant"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    return trials.groupBy("c").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint").alias("na"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )


def _mw_report(by_val: DataFrame) -> DataFrame:
    """The rank-sum test from a (c, na, cnt) grid — ranks recomputed
    from the grid, shared by the batch workload and the streaming
    twin."""
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_val.select(
        "na", "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("bigint").alias("cumb"),
    )
    agg = ranked.agg(
        F.sum("na").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("na")).cast("bigint").alias("n2"),
        F.sum(F.col("na") * (2 * F.col("cumb") + F.col("cnt") + 1))
        .cast("bigint").alias("r1_2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint").alias("tie_t"),
    )
    st = agg.select(
        "n1", "n2", (F.col("n1") + F.col("n2")).alias("n"),
        ((F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)) / 2.0)
        .alias("u1"),
        "tie_t",
    )
    return st.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        F.round("u1", 6).alias("u_a"),
        F.round(F.col("n1") * F.col("n2") - F.col("u1"), 6).alias("u_b"),
        F.round(
            (F.col("u1") - F.col("n1") * F.col("n2") / 2.0)
            / F.sqrt(
                F.col("n1") * F.col("n2") / 12.0
                * ((F.col("n") + 1)
                   - F.col("tie_t") * 1.0
                   / (F.col("n") * (F.col("n") - 1)))
            ),
            6,
        ).alias("z"),
        F.round(
            1 - 2.0 * F.col("u1") / (F.col("n1") * F.col("n2")), 6
        ).alias("rank_biserial"),
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend — the outlier-immune slope next to the
# least-squares Zipf fit and the EWMA/Holt forecasts: one corrupted
# day cannot move the median of pairwise slopes.
# --------------------------------------------------------------------------


@workload(
    "theil_sen_daily_trend",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         (b.y - a.y) * 1.0 / (b.x - a.x) AS s
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.x > a.x
),
ranked AS (
  SELECT event_type, s,
         row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM slopes
),
med AS (
  SELECT event_type,
         avg(s) AS slope,
         CAST(max(m) AS BIGINT) AS n_pairs
  FROM ranked
  WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
  GROUP BY event_type
),
resid AS (
  SELECT d.event_type, d.y - m.slope * d.x AS r
  FROM daily d JOIN med m ON m.event_type = d.event_type
),
rr AS (
  SELECT event_type, r,
         row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM resid
),
icept AS (
  SELECT event_type, avg(r) AS intercept
  FROM rr WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
  GROUP BY event_type
),
nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily
  GROUP BY event_type
)
SELECT m.event_type, nd.n_days, m.n_pairs,
       ROUND(m.slope, 6) AS ts_slope_per_day,
       ROUND(i.intercept, 6) AS ts_intercept
FROM med m
JOIN icept i ON i.event_type = m.event_type
JOIN nd ON nd.event_type = m.event_type
ORDER BY m.event_type
""",
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume per type (Theil
    1950, Sen 1968): the slope is the MEDIAN of all pairwise daily
    slopes, so up to ~29% of days can be corrupted (an outage day, a
    bot flood) without moving it — the robust companion to the
    least-squares fits, and the estimator monitoring should trust
    when events_mad_outliers says the series has heavy tails. The
    intercept is the median residual at the chosen slope (the
    standard Theil-Sen completion).

    Determinism: every pairwise slope is (Δy)·1.0/(Δx) from exact
    BIGINT day counts — bit-identical doubles in both engines — and
    the median is an order statistic on those (avg of the two middle
    ranks when the pair count is even), so there is no accumulation
    anywhere, only selection.

    Scale: the pair join is per-type over DAILY aggregates — the
    corpus collapses to |types|×|days| rows first (one combiner
    groupBy), and C(days, 2) pairs of a time dimension stay bounded
    no matter how many events each day holds. This is the curse-free
    way to run Theil-Sen at 100 TB: never on rows, always on the
    time grid."""
    from pyspark.sql import Window as _W

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("x"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    a = daily.select(
        "event_type", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("x").alias("xb"), F.col("y").alias("yb"),
    )
    slopes = (
        a.join(b, (F.col("event_type") == F.col("et_b"))
               & (F.col("xb") > F.col("xa")))
        .select(
            "event_type",
            ((F.col("yb") - F.col("ya")) * 1.0
             / (F.col("xb") - F.col("xa"))).alias("s"),
        )
    )
    wp = _W.partitionBy("event_type")
    ranked = slopes.select(
        "event_type", "s",
        F.row_number().over(wp.orderBy("s")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("m"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.expr("(m + 1) div 2"))
            | (F.col("rn") == F.expr("(m + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(
            F.avg("s").alias("slope"),
            F.max("m").cast("bigint").alias("n_pairs"),
        )
    )
    # bound: <= |event_type| rows
    resid = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        (F.col("y") - F.col("slope") * F.col("x")).alias("r"),
    )
    rr = resid.select(
        "event_type", "r",
        F.row_number().over(wp.orderBy("r")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("m"),
    )
    icept = (
        rr.filter(
            (F.col("rn") == F.expr("(m + 1) div 2"))
            | (F.col("rn") == F.expr("(m + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(F.avg("r").alias("intercept"))
    )
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return (
        med.join(icept, "event_type")
        .join(nd, "event_type")
        .select(
            "event_type", "n_days", "n_pairs",
            F.round("slope", 6).alias("ts_slope_per_day"),
            F.round("intercept", 6).alias("ts_intercept"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Exact weighted median — the weighted order statistic the unweighted
# bottom-k quantile sketches don't cover: "the price at which half
# the SHIPPED QUANTITY is cheaper", per brand.
# --------------------------------------------------------------------------


@workload(
    "weighted_median_price_brand",
    oracle="""
WITH li AS (
  SELECT p.p_brand AS brand,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS c,
         CAST(l.l_quantity AS BIGINT) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
by_val AS (
  SELECT brand, c, CAST(sum(q) AS BIGINT) AS w
  FROM li GROUP BY brand, c
),
cum AS (
  SELECT brand, c, w,
         CAST(sum(w) OVER (PARTITION BY brand ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cw,
         CAST(sum(w) OVER (PARTITION BY brand) AS BIGINT) AS tw
  FROM by_val
),
med AS (
  SELECT brand, min(c) AS med_c FROM cum
  WHERE cw * 2 >= tw GROUP BY brand
),
stats AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(q) AS BIGINT) AS total_qty,
         CAST(sum(c * q) AS BIGINT) AS wsum
  FROM li GROUP BY brand
)
SELECT s.brand, s.n_lines, s.total_qty,
       m.med_c AS wmedian_cents,
       ROUND(m.med_c / 100.0, 6) AS wmedian_price,
       ROUND(s.wsum * 1.0 / s.total_qty / 100, 6) AS wmean_price
FROM stats s JOIN med m ON m.brand = s.brand
ORDER BY s.brand
""",
)
def weighted_median_price_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-weighted median line price per part brand —
    the weighted order statistic ("the price below which half the
    shipped units sell") that the unweighted bottom-k quantile
    sketches cannot answer; the weighted mean ships alongside so the
    skew (mean − median gap) is read off directly. The median is the
    lower weighted median: the smallest price whose cumulative
    weight reaches half the total — 2·cw ≥ tw is an exact BIGINT
    comparison, so there is no interpolation and no float anywhere
    before the display columns.

    Scale: the part join is the planner's choice; everything else
    is a combiner groupBy to |brands|x|distinct cents| rows plus a
    per-brand windowed prefix sum over that grid — the same
    collapse-then-walk shape as the KS and t-closeness workloads."""
    from pyspark.sql import Window as _W

    li = (
        t(spark, sf_dir, "lineitem")
        .join(
            t(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint").alias("c"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
    )
    by_val = li.groupBy("brand", "c").agg(
        F.sum("q").cast("bigint").alias("w")
    )
    wcum = (
        _W.partitionBy("brand")
        .orderBy("c")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    cum = by_val.select(
        "brand", "c",
        F.sum("w").over(wcum).cast("bigint").alias("cw"),
        F.sum("w").over(_W.partitionBy("brand")).cast("bigint").alias("tw"),
    )
    med = (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("brand")
        .agg(F.min("c").alias("med_c"))
    )
    stats = li.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("q").cast("bigint").alias("total_qty"),
        F.sum(F.col("c") * F.col("q")).cast("bigint").alias("wsum"),
    )
    return (
        stats.join(med, "brand")
        .select(
            "brand", "n_lines", "total_qty",
            F.col("med_c").alias("wmedian_cents"),
            F.round(F.col("med_c") / 100.0, 6).alias("wmedian_price"),
            F.round(F.col("wsum") * 1.0 / F.col("total_qty") / 100, 6)
            .alias("wmean_price"),
        )
        .orderBy("brand")
    )


# --------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals for group means.
# --------------------------------------------------------------------------

_BS_R = 64            # bootstrap replicates
_BS_LO_RANK = 2       # ~2.5th percentile of 64 ordered replicate means
_BS_HI_RANK = 63      # ~97.5th percentile
_BS_DENOM = float(1 << 60)
# Poisson(1) CDF thresholds (exact double literals shared verbatim by
# both engines; weights capped at 4 — P[X>4] ≈ 0.37%).
_BS_C0 = "0.36787944117144233"
_BS_C1 = "0.7357588823428847"
_BS_C2 = "0.9196986029286058"
_BS_C3 = "0.9810118431238463"


@workload(
    "bootstrap_ci_poisson",
    oracle=f"""
WITH reps AS (
  SELECT o.o_orderpriority AS priority,
         r.range AS r,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         ('0x' || substring(md5('bs-' || CAST(o.o_orderkey AS VARCHAR)
            || '-' || CAST(r.range AS VARCHAR)), 1, 15))::BIGINT
            / {_BS_DENOM!r} AS u
  FROM orders o CROSS JOIN range({_BS_R}) r
),
weighted AS (
  SELECT priority, r,
         CASE WHEN u < {_BS_C0} THEN 0
              WHEN u < {_BS_C1} THEN 1
              WHEN u < {_BS_C2} THEN 2
              WHEN u < {_BS_C3} THEN 3
              ELSE 4 END AS w,
         cents
  FROM reps
),
rep_means AS (
  SELECT priority, r,
         sum(w * cents) * 1.0 / sum(w) AS m
  FROM weighted GROUP BY priority, r
),
ranked AS (
  SELECT priority, m,
         row_number() OVER (PARTITION BY priority
                            ORDER BY m, r) AS rn
  FROM rep_means
),
ci AS (
  SELECT priority,
         max(CASE WHEN rn = {_BS_LO_RANK} THEN m END) AS lo,
         max(CASE WHEN rn = {_BS_HI_RANK} THEN m END) AS hi
  FROM ranked GROUP BY priority
),
pt AS (
  SELECT o_orderpriority AS priority,
         count(*) AS n,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s
  FROM orders GROUP BY 1
)
SELECT pt.priority AS priority,
       CAST(pt.n AS BIGINT) AS n_orders,
       ROUND(pt.s * 1.0 / pt.n / 100.0, 4) AS mean_value,
       ROUND(ci.lo / 100.0, 4) AS ci_lo,
       ROUND(ci.hi / 100.0, 4) AS ci_hi,
       ROUND((ci.hi - ci.lo) / 100.0, 4) AS ci_width
FROM pt JOIN ci ON ci.priority = pt.priority
ORDER BY priority
""",
)
def bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence intervals for mean order
    value per priority: each of {_BS_R} replicates reweights every
    order by an independent Poisson(1) count (the single-pass
    approximation to multinomial resampling — Chamandy et al. 2012,
    "Estimating Uncertainty for Massive Data Streams"), the
    replicate mean is Σw·x/Σw, and the CI is the 2.5/97.5 order
    statistic of the 64 ordered replicate means.

    Determinism: the Poisson draw is the inverse CDF applied to the
    md5-derived 60-bit uniform keyed on (orderkey, replicate) — the
    same engine-portable hash the A/B assignment uses — with the CDF
    thresholds embedded as identical double literals on both sides;
    replicate means are exact BIGINT-cent ratios; the CI is pure
    selection (rank 2 / rank 63 with a replicate-id tiebreak).

    Scale: THE way to put error bars on 100 TB — no resampling
    passes, no per-replicate shuffles: one map-side ×R explode (rows
    never leave their partition before the combiner), one shuffle to
    the |groups|×R grid, then order statistics on 64 rows per group.
    R scales compute linearly but the shuffle stays grid-sized. The
    point estimate rides in the same grid as replicate r = -1."""
    return _bootstrap_report(_bootstrap_grid(t(spark, sf_dir, "orders")))


def _bootstrap_grid(orders: DataFrame) -> DataFrame:
    """(priority, r, sw, swx): per priority and replicate the Poisson
    weight total Σw and weighted cents Σw·x. Replicate r = -1 weighs
    every order 1, so its (sw, swx) is the point estimate's (n, Σx).
    Every column adds across any split of the rows, so the streaming
    twin (streaming/bootstrap.py) folds it per micro-batch."""
    reps = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.explode(F.expr(f"sequence(-1, {_BS_R - 1})")).alias("r"),
    ).select(
        "priority", "r", "cents",
        F.when(
            F.col("r") >= 0,
            F.expr(
                _spark_hash(
                    "concat('bs-', cast(o_orderkey as string), '-',"
                    " cast(r as string))"
                )
            )
            / F.lit(_BS_DENOM),
        ).alias("u"),
    )
    weighted = reps.select(
        "priority", "r", "cents",
        F.when(F.col("r") < 0, 1)
        .when(F.col("u") < float(_BS_C0), 0)
        .when(F.col("u") < float(_BS_C1), 1)
        .when(F.col("u") < float(_BS_C2), 2)
        .when(F.col("u") < float(_BS_C3), 3)
        .otherwise(4)
        .alias("w"),
    )
    return weighted.groupBy("priority", "r").agg(
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("swx"),
    )


def _bootstrap_report(grid: DataFrame) -> DataFrame:
    """The CI readout from a ``_bootstrap_grid`` — shared by the batch
    workload and the streaming twin. One window over the grid ranks
    the replicate means (r = -1 sorts after them); one aggregate
    picks the two CI ranks and the point row."""
    point = F.col("r") < 0
    # a null priority has no CI row in the oracle's equi-join
    m = grid.filter(F.col("priority").isNotNull()).select(
        "priority", "r", "sw", "swx",
        (F.col("swx") * 1.0 / F.col("sw")).alias("m"),
    )
    wp = Window.partitionBy("priority").orderBy(point, "m", "r")
    ranked = m.withColumn("rn", F.row_number().over(wp))
    ci = ranked.groupBy("priority").agg(
        F.max(F.when(point, F.col("sw"))).alias("n"),
        F.max(F.when(point, F.col("swx"))).alias("s"),
        F.max(F.when(F.col("rn") == _BS_LO_RANK, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rn") == _BS_HI_RANK, F.col("m"))).alias("hi"),
    )
    return (
        ci.select(
            "priority",
            F.col("n").alias("n_orders"),
            F.round(F.col("s") * 1.0 / F.col("n") / 100.0, 4)
            .alias("mean_value"),
            F.round(F.col("lo") / 100.0, 4).alias("ci_lo"),
            F.round(F.col("hi") / 100.0, 4).alias("ci_hi"),
            F.round((F.col("hi") - F.col("lo")) / 100.0, 4)
            .alias("ci_width"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# CUPED variance-reduced A/B readout (pre-period covariate adjustment).
# --------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16 00:00:00"  # pre-period < split <= experiment


@workload(
    "abtest_cuped_readout",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         ('0x'||substring(md5('ab-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS variant,
         sum(CASE WHEN event_type = 'purchase'
                   AND ts < TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS x,
         sum(CASE WHEN event_type = 'purchase'
                   AND ts >= TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
arm AS (
  SELECT variant, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM per_user GROUP BY variant
),
wide AS (
  SELECT
    max(CASE WHEN variant = 0 THEN n END) AS n0,
    max(CASE WHEN variant = 1 THEN n END) AS n1,
    max(CASE WHEN variant = 0 THEN sx END) AS sx0,
    max(CASE WHEN variant = 1 THEN sx END) AS sx1,
    max(CASE WHEN variant = 0 THEN sy END) AS sy0,
    max(CASE WHEN variant = 1 THEN sy END) AS sy1,
    max(CASE WHEN variant = 0 THEN sxy END) AS sxy0,
    max(CASE WHEN variant = 1 THEN sxy END) AS sxy1,
    max(CASE WHEN variant = 0 THEN sxx END) AS sxx0,
    max(CASE WHEN variant = 1 THEN sxx END) AS sxx1,
    max(CASE WHEN variant = 0 THEN syy END) AS syy0,
    max(CASE WHEN variant = 1 THEN syy END) AS syy1
  FROM arm
),
calc AS (
  SELECT n0, n1,
         n0 + n1 AS n,
         sx0 + sx1 AS sx, sy0 + sy1 AS sy,
         sxy0 + sxy1 AS sxy, sxx0 + sxx1 AS sxx, syy0 + syy1 AS syy
  FROM wide
),
th AS (
  SELECT *,
         ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)) AS theta,
         (sx * 1.0 / n) AS xbar,
         ((n * sxy - sx * sy) * 1.0
            / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)))
           AS rho
  FROM calc
),
w2 AS (SELECT th.*, wide.sx0, wide.sx1, wide.sy0, wide.sy1
       FROM th CROSS JOIN wide)
SELECT CAST(n0 AS BIGINT) AS n_control,
       CAST(n1 AS BIGINT) AS n_treatment,
       ROUND(theta, 6) AS theta,
       ROUND(rho * rho, 6) AS rho2,
       ROUND((1.0 - rho * rho) * 100.0, 4) AS var_remaining_pct,
       ROUND((sy1 * 1.0 / n1 - sy0 * 1.0 / n0) / 100.0, 4) AS lift_raw,
       ROUND(((sy1 * 1.0 / n1 - theta * (sx1 * 1.0 / n1 - xbar))
              - (sy0 * 1.0 / n0 - theta * (sx0 * 1.0 / n0 - xbar)))
             / 100.0, 4) AS lift_cuped
FROM w2
""",
)
def abtest_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data; Deng
    et al. 2013) A/B readout: each user's pre-period purchase
    revenue is the covariate x, the experiment-period revenue is the
    outcome y, and the adjusted metric y − θ(x − x̄) with
    θ = cov(x,y)/var(x) strips the variance that user heterogeneity
    contributes — the standard way large platforms cut experiment
    runtimes 2-5×. Reports θ, ρ² (the variance fraction REMOVED),
    the remaining-variance percentage, and the raw vs CUPED lift.

    Determinism: per-user (x, y) are exact BIGINT cents; all five
    pooled moments are BIGINT; θ, ρ, and both lifts are fixed-order
    float expressions of those integers — bit-identical across
    engines before the display rounding.

    Scale: identical shape to abtest_welch_readout — the covariate
    adds three moment columns (Σxy, Σx², Σy²) to the SAME per-user
    groupBy and two-row arm aggregate; no second scan, no extra
    shuffle. At 100 TB the readout is still one combiner pass."""
    ev = t(spark, sf_dir, "events")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") < split),
                cents,
            ).otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= split),
                cents,
            ).otherwise(F.lit(0))
        ).alias("y"),
    ).select(
        F.expr(
            "pmod("
            + _spark_hash("concat('ab-', cast(user_id as string))")
            + ", 2)"
        ).alias("variant"),
        "x", "y",
    )
    arm = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )

    def pick(v: int, c: str, alias: str):
        return F.max(F.when(F.col("variant") == v, F.col(c))).alias(alias)

    wide = arm.agg(
        pick(0, "n", "n0"), pick(1, "n", "n1"),
        pick(0, "sx", "sx0"), pick(1, "sx", "sx1"),
        pick(0, "sy", "sy0"), pick(1, "sy", "sy1"),
        pick(0, "sxy", "sxy0"), pick(1, "sxy", "sxy1"),
        pick(0, "sxx", "sxx0"), pick(1, "sxx", "sxx1"),
        pick(0, "syy", "syy0"), pick(1, "syy", "syy1"),
    )
    n = F.col("n0") + F.col("n1")
    sx = F.col("sx0") + F.col("sx1")
    sy = F.col("sy0") + F.col("sy1")
    sxy = F.col("sxy0") + F.col("sxy1")
    sxx = F.col("sxx0") + F.col("sxx1")
    syy = F.col("syy0") + F.col("syy1")
    theta = (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)
    xbar = sx * 1.0 / n
    rho = (n * sxy - sx * sy) * 1.0 / F.sqrt(
        (n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)
    )
    m0 = F.col("sy0") * 1.0 / F.col("n0")
    m1 = F.col("sy1") * 1.0 / F.col("n1")
    mx0 = F.col("sx0") * 1.0 / F.col("n0")
    mx1 = F.col("sx1") * 1.0 / F.col("n1")
    return wide.select(
        F.col("n0").cast("bigint").alias("n_control"),
        F.col("n1").cast("bigint").alias("n_treatment"),
        F.round(theta, 6).alias("theta"),
        F.round(rho * rho, 6).alias("rho2"),
        F.round((1.0 - rho * rho) * 100.0, 4).alias("var_remaining_pct"),
        F.round((m1 - m0) / 100.0, 4).alias("lift_raw"),
        F.round(
            ((m1 - theta * (mx1 - xbar)) - (m0 - theta * (mx0 - xbar)))
            / 100.0,
            4,
        ).alias("lift_cuped"),
    )


# --------------------------------------------------------------------------
# Herfindahl-Hirschman supplier concentration per nation.
# --------------------------------------------------------------------------

_HHI_UNIT = 1000000000000  # share^2 snapped to 1e-12 BIGINT units


@workload(
    "market_hhi_concentration",
    oracle=f"""
WITH rev AS (
  SELECT n.n_name AS nation, l.l_suppkey AS suppkey,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
             AS BIGINT)) AS c
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY 1, 2
),
sh AS (
  SELECT nation, suppkey, c,
         sum(c) OVER (PARTITION BY nation) AS tot
  FROM rev
),
agg AS (
  SELECT nation,
         count(*) AS n_suppliers,
         sum(CAST(round((c * 1.0 / tot) * (c * 1.0 / tot)
             * {_HHI_UNIT}) AS BIGINT)) AS hhi_units,
         max(c * 1.0 / tot) AS top_share
  FROM sh GROUP BY nation
)
SELECT nation,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       ROUND(hhi_units / {_HHI_UNIT}.0, 6) AS hhi,
       ROUND({_HHI_UNIT}.0 / hhi_units, 4) AS effective_n,
       ROUND(top_share, 6) AS top_share
FROM agg
ORDER BY nation
""",
)
def market_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation: HHI = Σ share_i² over suppliers (1/n for a
    perfectly even market, 1.0 for a monopoly) plus the equivalent
    effective supplier count 1/HHI and the single largest share —
    the sourcing-risk companion to corpus_gini_concentration (Gini
    ranks inequality, HHI measures oligopoly weight; antitrust
    thresholds are quoted in HHI).

    Determinism: per-supplier revenue is an exact BIGINT cent sum;
    each share is an exact BIGINT-ratio double and its square snaps
    to 1e-12 integer units before the per-nation sum, so the HHI
    total is order-free (the MI-units trick). Σc² is never formed in
    integers — at warehouse scale (Σc)² overflows 64-bit, which is
    exactly why the share-quotient form is the one that survives.

    Scale: one fact-table scan with two dim joins, a
    combiner groupBy to |nations|×|suppliers| rows, a grid-sized
    window, and a |nations|-row aggregate. Concentration monitoring
    at 100 TB is a single shuffle on the natural key."""
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("c")
        )
    )
    sh = rev.select(
        "nation", "suppkey", "c",
        F.sum("c").over(Window.partitionBy("nation")).alias("tot"),
    )
    share = F.col("c") * 1.0 / F.col("tot")
    agg = sh.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum(
            F.round(share * share * _HHI_UNIT).cast("bigint")
        ).alias("hhi_units"),
        F.max(share).alias("top_share"),
    )
    return agg.select(
        "nation",
        "n_suppliers",
        F.round(F.col("hhi_units") / float(_HHI_UNIT), 6).alias("hhi"),
        F.round(float(_HHI_UNIT) / F.col("hhi_units"), 4)
        .alias("effective_n"),
        F.round("top_share", 6).alias("top_share"),
    ).orderBy("nation")


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR control across per-type drift tests.
# --------------------------------------------------------------------------

_BH_SPLIT = "2024-01-16 00:00:00"
_BH_ALPHA_UNITS = 50000000000   # 0.05 in 1e-12 p-value units
_BH_PU = 1000000000000          # p-value snap: 1e-12 BIGINT units
# Abramowitz-Stegun 26.2.17 tail polynomial (shared literals)
_BH_INVSQ2PI = "0.3989422804014327"
_BH_T = "0.2316419"
_BH_B = ("0.319381530", "-0.356563782", "1.781477937",
         "-1.821255978", "1.330274429")


def _bh_tail_sql(z: str) -> str:
    """One-sided upper-tail P[Z > z] for z >= 0 (A-S 26.2.17),
    identical text for both engines."""
    t = f"(1.0 / (1.0 + {_BH_T} * {z}))"
    poly = (f"({t} * ({_BH_B[0]} + {t} * ({_BH_B[1]} + {t} * ({_BH_B[2]}"
            f" + {t} * ({_BH_B[3]} + {t} * {_BH_B[4]})))))")
    return f"({_BH_INVSQ2PI} * exp(-0.5 * {z} * {z}) * {poly})"


@workload(
    "multiple_testing_bh",
    oracle=f"""
WITH arm AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_BH_SPLIT}' THEN 0 ELSE 1 END AS p,
         count(*) AS n,
         sum(CAST(round(value * 100) AS BIGINT)) AS s,
         sum(CAST(round(value * 100) AS BIGINT)
             * CAST(round(value * 100) AS BIGINT)) AS ss
  FROM events GROUP BY 1, 2
),
wide AS (
  SELECT event_type,
         max(CASE WHEN p = 0 THEN n END) AS n0,
         max(CASE WHEN p = 1 THEN n END) AS n1,
         max(CASE WHEN p = 0 THEN s END) AS s0,
         max(CASE WHEN p = 1 THEN s END) AS s1,
         max(CASE WHEN p = 0 THEN ss END) AS ss0,
         max(CASE WHEN p = 1 THEN ss END) AS ss1
  FROM arm GROUP BY event_type
),
zs AS (
  SELECT event_type, n0, n1,
         (s1 * 1.0 / n1 - s0 * 1.0 / n0)
           / sqrt((n0 * ss0 - s0 * s0) * 1.0 / (n0 * n0 * (n0 - 1))
                  + (n1 * ss1 - s1 * s1) * 1.0 / (n1 * n1 * (n1 - 1)))
           AS z
  FROM wide
),
pv AS (
  SELECT event_type, n0, n1, z,
         CAST(round(2.0 * {_bh_tail_sql("abs(z)")} * {_BH_PU}) AS BIGINT)
           AS p_units
  FROM zs
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY p_units, event_type) AS i,
         count(*) OVER () AS m
  FROM pv
),
flags AS (
  SELECT *,
         CASE WHEN p_units * m <= i * {_BH_ALPHA_UNITS}
              THEN i ELSE 0 END AS hit
  FROM ranked
),
kstar AS (SELECT max(hit) AS k FROM flags)
SELECT f.event_type AS event_type,
       CAST(f.n0 AS BIGINT) AS n_before,
       CAST(f.n1 AS BIGINT) AS n_after,
       ROUND(f.z, 4) AS z,
       ROUND(f.p_units / {_BH_PU}.0, 8) AS p_value,
       CAST(f.i AS BIGINT) AS rank,
       (f.i <= kstar.k) AS rejected
FROM flags f CROSS JOIN kstar
ORDER BY rank
""",
)
def multiple_testing_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the per-event-type
    two-period mean-shift tests: each type gets a Welch z comparing
    its value distribution before/after the split, the z converts to
    a two-sided p via the Abramowitz-Stegun 26.2.17 normal-tail
    polynomial (the SAME literal coefficients in both engines), and
    BH rejects the largest prefix {{i ≤ k*}} of the p-ordered tests
    with p_i ≤ i·α/m — the multiple-comparisons discipline a metrics
    platform needs when it fires dozens of drift tests per day and
    α=0.05 per test would alarm constantly.

    Determinism: moments are BIGINT; z is a fixed-order expression;
    p snaps to 1e-12 BIGINT units immediately after the one exp()
    call (the unit snap absorbs the ≤1-ulp libm difference); the BH
    comparison is pure integer arithmetic (p_units·m ≤ i·α_units)
    and k* is a max over integers.

    Scale: one scan to a 2·|types| moment grid, window functions on
    |types| rows after — the whole correction is combiner-sized.
    The step-up structure (reject ALL ranks ≤ k*) is what makes this
    a two-window pass rather than an iterative procedure."""
    ev = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    arm = ev.groupBy(
        "event_type",
        F.when(
            F.col("ts") < F.lit(_BH_SPLIT).cast("timestamp"), 0
        ).otherwise(1).alias("p"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )

    def pick(v: int, c: str, alias: str):
        return F.max(F.when(F.col("p") == v, F.col(c))).alias(alias)

    wide = arm.groupBy("event_type").agg(
        pick(0, "n", "n0"), pick(1, "n", "n1"),
        pick(0, "s", "s0"), pick(1, "s", "s1"),
        pick(0, "ss", "ss0"), pick(1, "ss", "ss1"),
    )
    z = (
        (F.col("s1") * 1.0 / F.col("n1") - F.col("s0") * 1.0 / F.col("n0"))
        / F.sqrt(
            (F.col("n0") * F.col("ss0") - F.col("s0") * F.col("s0")) * 1.0
            / (F.col("n0") * F.col("n0") * (F.col("n0") - 1))
            + (F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1"))
            * 1.0
            / (F.col("n1") * F.col("n1") * (F.col("n1") - 1))
        )
    )
    pv = wide.select(
        "event_type", "n0", "n1", z.alias("z")
    ).select(
        "event_type", "n0", "n1", "z",
        F.expr(
            f"cast(round(2.0 * {_bh_tail_sql('abs(z)')} * {_BH_PU})"
            " as bigint)"
        ).alias("p_units"),
    )
    w = Window.orderBy("p_units", "event_type")
    ranked = pv.select(
        "*",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    flags = ranked.select(
        "*",
        F.when(
            F.col("p_units") * F.col("m")
            <= F.col("i") * _BH_ALPHA_UNITS,
            F.col("i"),
        ).otherwise(0).alias("hit"),
    )
    kstar = flags.select(
        "*", F.max("hit").over(Window.partitionBy()).alias("k")
    )
    return kstar.select(
        "event_type",
        F.col("n0").cast("bigint").alias("n_before"),
        F.col("n1").cast("bigint").alias("n_after"),
        F.round("z", 4).alias("z"),
        F.round(F.col("p_units") / float(_BH_PU), 8).alias("p_value"),
        F.col("i").cast("bigint").alias("rank"),
        (F.col("i") <= F.col("k")).alias("rejected"),
    ).orderBy("rank")


# --------------------------------------------------------------------------
# Difference-in-differences readout (two arms × two periods).
# --------------------------------------------------------------------------

_DID_SPLIT = "2024-01-16 00:00:00"


@workload(
    "abtest_did_readout",
    oracle=f"""
WITH per_cell AS (
  SELECT user_id,
         ('0x'||substring(md5('ab-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS variant,
         CASE WHEN ts < TIMESTAMP '{_DID_SPLIT}' THEN 0 ELSE 1 END AS per,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS cents
  FROM events GROUP BY 1, 2, 3
),
cell AS (
  SELECT variant, per, count(*) AS n, sum(cents) AS s,
         sum(cents * cents) AS ss
  FROM per_cell GROUP BY 1, 2
),
wide AS (
  SELECT
    max(CASE WHEN variant = 0 AND per = 0 THEN n END) AS n00,
    max(CASE WHEN variant = 0 AND per = 1 THEN n END) AS n01,
    max(CASE WHEN variant = 1 AND per = 0 THEN n END) AS n10,
    max(CASE WHEN variant = 1 AND per = 1 THEN n END) AS n11,
    max(CASE WHEN variant = 0 AND per = 0 THEN s END) AS s00,
    max(CASE WHEN variant = 0 AND per = 1 THEN s END) AS s01,
    max(CASE WHEN variant = 1 AND per = 0 THEN s END) AS s10,
    max(CASE WHEN variant = 1 AND per = 1 THEN s END) AS s11,
    max(CASE WHEN variant = 0 AND per = 0 THEN ss END) AS ss00,
    max(CASE WHEN variant = 0 AND per = 1 THEN ss END) AS ss01,
    max(CASE WHEN variant = 1 AND per = 0 THEN ss END) AS ss10,
    max(CASE WHEN variant = 1 AND per = 1 THEN ss END) AS ss11
  FROM cell
)
SELECT
  ROUND(s00 * 1.0 / n00 / 100.0, 4) AS mean_ctl_pre,
  ROUND(s01 * 1.0 / n01 / 100.0, 4) AS mean_ctl_post,
  ROUND(s10 * 1.0 / n10 / 100.0, 4) AS mean_trt_pre,
  ROUND(s11 * 1.0 / n11 / 100.0, 4) AS mean_trt_post,
  ROUND(((s11 * 1.0 / n11 - s10 * 1.0 / n10)
         - (s01 * 1.0 / n01 - s00 * 1.0 / n00)) / 100.0, 4) AS did,
  ROUND(((s11 * 1.0 / n11 - s10 * 1.0 / n10)
         - (s01 * 1.0 / n01 - s00 * 1.0 / n00))
        / sqrt((n00 * ss00 - s00 * s00) * 1.0
                 / (n00 * n00 * (n00 - 1))
               + (n01 * ss01 - s01 * s01) * 1.0
                 / (n01 * n01 * (n01 - 1))
               + (n10 * ss10 - s10 * s10) * 1.0
                 / (n10 * n10 * (n10 - 1))
               + (n11 * ss11 - s11 * s11) * 1.0
                 / (n11 * n11 * (n11 - 1))), 4) AS z
FROM wide
""",
)
def abtest_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: per-user purchase revenue
    in each (arm, period) cell; the estimate is the treatment's
    post-minus-pre change minus the control's — the parallel-trends
    estimator that strips any shared time shock (seasonality, a
    site-wide incident) the plain post-period comparison would
    swallow. Complements CUPED: DiD differences out common TIME
    effects, CUPED regresses out USER heterogeneity; both read from
    the same moment grid.

    Determinism: the four cells' (n, Σx, Σx²) are exact BIGINTs; the
    estimate and its Welch-style z are fixed-order float expressions
    of those twelve integers — bit-identical before rounding.

    Scale: one scan → per-(user, period) groupBy (the natural key)
    → a FOUR-row cell aggregate. The estimator is free at any
    corpus size; the only sized object is the user-level shuffle
    every per-user metric already pays."""
    ev = t(spark, sf_dir, "events")
    per_cell = ev.groupBy(
        "user_id",
        F.when(
            F.col("ts") < F.lit(_DID_SPLIT).cast("timestamp"), 0
        ).otherwise(1).alias("per"),
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("cents")
    ).select(
        F.expr(
            "pmod("
            + _spark_hash("concat('ab-', cast(user_id as string))")
            + ", 2)"
        ).alias("variant"),
        "per", "cents",
    )
    cell = per_cell.groupBy("variant", "per").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )

    def pick(v: int, p_: int, c: str, alias: str):
        return F.max(
            F.when((F.col("variant") == v) & (F.col("per") == p_),
                   F.col(c))
        ).alias(alias)

    wide = cell.agg(
        *[pick(v, p_, c, f"{c}{v}{p_}")
          for c in ("n", "s", "ss") for v in (0, 1) for p_ in (0, 1)]
    )

    def m(v, p_):
        return F.col(f"s{v}{p_}") * 1.0 / F.col(f"n{v}{p_}")

    def var(v, p_):
        n_, s_, ss_ = (F.col(f"n{v}{p_}"), F.col(f"s{v}{p_}"),
                       F.col(f"ss{v}{p_}"))
        return (n_ * ss_ - s_ * s_) * 1.0 / (n_ * n_ * (n_ - 1))

    did = (m(1, 1) - m(1, 0)) - (m(0, 1) - m(0, 0))
    se = F.sqrt(var(0, 0) + var(0, 1) + var(1, 0) + var(1, 1))
    return wide.select(
        F.round(m(0, 0) / 100.0, 4).alias("mean_ctl_pre"),
        F.round(m(0, 1) / 100.0, 4).alias("mean_ctl_post"),
        F.round(m(1, 0) / 100.0, 4).alias("mean_trt_pre"),
        F.round(m(1, 1) / 100.0, 4).alias("mean_trt_post"),
        F.round(did / 100.0, 4).alias("did"),
        F.round(did / se, 4).alias("z"),
    )


# --------------------------------------------------------------------------
# Pairwise 1-D Wasserstein (earth-mover) distances between types.
# --------------------------------------------------------------------------


@workload(
    "dist_wasserstein_1d_pairs",
    oracle="""
WITH grid AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS nt FROM grid GROUP BY 1
),
tp AS (
  SELECT a.event_type AS t1, b.event_type AS t2,
         a.nt AS na, b.nt AS nb
  FROM tot a JOIN tot b ON a.event_type < b.event_type
),
pts AS (
  SELECT tp.t1 AS t1, tp.t2 AS t2, tp.na AS na, tp.nb AS nb, g.c AS c,
         sum(CASE WHEN g.event_type = tp.t1 THEN g.n ELSE 0 END) AS da,
         sum(CASE WHEN g.event_type = tp.t2 THEN g.n ELSE 0 END) AS db
  FROM tp JOIN grid g ON g.event_type IN (tp.t1, tp.t2)
  GROUP BY 1, 2, 3, 4, 5
),
cdf AS (
  SELECT t1, t2, na, nb, c,
         sum(da) OVER (PARTITION BY t1, t2 ORDER BY c) AS ca,
         sum(db) OVER (PARTITION BY t1, t2 ORDER BY c) AS cb,
         lead(c) OVER (PARTITION BY t1, t2 ORDER BY c) AS cnext
  FROM pts
),
w AS (
  -- the last support point contributes 0 (there is no gap after
  -- it); keep it in the aggregate so identical distributions (one
  -- merged support point, W1 = 0) still emit their pair row
  SELECT t1, t2, na, nb,
         CAST(sum(CASE WHEN cnext IS NULL THEN 0
                       ELSE abs(ca * nb - cb * na) * (cnext - c)
                  END) AS BIGINT) AS units
  FROM cdf
  GROUP BY 1, 2, 3, 4
)
SELECT t1, t2,
       ROUND(units * 1.0 / (na * nb) / 100.0, 4) AS w1_dollars,
       CAST(row_number() OVER (
         ORDER BY units * 1.0 / (na * nb), t1, t2) AS BIGINT)
         AS closeness_rank
FROM w
ORDER BY closeness_rank
""",
)
def dist_wasserstein_1d_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise 1-D Wasserstein (earth-mover) distance between the
    value distributions of every event-type pair: W₁ = ∫|F_A − F_B|
    over the merged support — the distribution distance that, unlike
    KS (max gap) and JSD/PSI (bin mass), charges for HOW FAR mass
    must move, so a $1 uniform shift scores exactly $1. Ranked by
    closeness — the readout for 'which metric families behave
    alike' and the cross-metric version of privacy_t_closeness's
    per-class EMD.

    Determinism: exact throughout — the CDF gap at each support
    point is the BIGINT cross product |cumA·nB − cumB·nA|, weighted
    by the integer support gap, summed as BIGINT, and divided by
    the common denominator n_A·n_B only for display. The closeness
    ranking is on that exact rational (identical double), tiebroken
    on the pair name.

    Scale: one combiner groupBy collapses the stream to the
    (type, cent) grid; the pair expansion replicates GRID rows
    (|pairs|×support — bounded by the value domain, not event
    count), and each pair's integral is one window pass. At 100 TB
    with a wide value domain, pre-bucket cents to a fixed grid —
    same plan, coarser support."""
    ev = t(spark, sf_dir, "events")
    grid = ev.groupBy(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # materialize the collapsed grid ONCE: the totals and the pair
    # expansion are separate consumers, and Spark would otherwise
    # re-derive the events scan per branch (no common-subplan
    # elimination — the Shapley lesson). Grid size is value-domain
    # bounded, and the bench's release_blocks sweep frees the blocks.
    grid = grid.localCheckpoint(eager=True)
    tot = grid.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("nt")
    )
    a = tot.select(F.col("event_type").alias("t1"),
                   F.col("nt").alias("na"))
    b = tot.select(F.col("event_type").alias("t2"),
                   F.col("nt").alias("nb"))
    tp = a.join(b, F.col("t1") < F.col("t2"))
    pts = (
        tp.join(
            F.broadcast(grid),  # bound: |event_type| x value-cent domain
            (F.col("event_type") == F.col("t1"))
            | (F.col("event_type") == F.col("t2")),
        )
        .groupBy("t1", "t2", "na", "nb", "c")
        .agg(
            F.sum(
                F.when(F.col("event_type") == F.col("t1"), F.col("n"))
                .otherwise(0)
            ).alias("da"),
            F.sum(
                F.when(F.col("event_type") == F.col("t2"), F.col("n"))
                .otherwise(0)
            ).alias("db"),
        )
    )
    wp = Window.partitionBy("t1", "t2").orderBy("c")
    cdf = pts.select(
        "t1", "t2", "na", "nb", "c",
        F.sum("da").over(wp).alias("ca"),
        F.sum("db").over(wp).alias("cb"),
        F.lead("c").over(wp).alias("cnext"),
    )
    w = cdf.groupBy("t1", "t2", "na", "nb").agg(
        F.sum(
            F.when(F.col("cnext").isNull(), F.lit(0)).otherwise(
                F.abs(F.col("ca") * F.col("nb")
                      - F.col("cb") * F.col("na"))
                * (F.col("cnext") - F.col("c"))
            )
        ).cast("bigint").alias("units")
    )
    from pyspark.sql import Window as _W2

    rk = _W2.orderBy(
        F.col("units") * 1.0 / (F.col("na") * F.col("nb")), "t1", "t2"
    )
    return w.select(
        "t1", "t2",
        F.round(
            F.col("units") * 1.0 / (F.col("na") * F.col("nb")) / 100.0,
            4,
        ).alias("w1_dollars"),
        F.row_number().over(rk).cast("bigint").alias("closeness_rank"),
    ).orderBy("closeness_rank")


# --------------------------------------------------------------------------
# Stratified ATT estimator (observational causal readout).
# --------------------------------------------------------------------------

_ATT_SPLIT = "2024-01-16 00:00:00"
_ATT_STRATA = 10


@workload(
    "causal_stratified_att",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'error'
                   AND ts < TIMESTAMP '{_ATT_SPLIT}'
                  THEN 1 ELSE 0 END) AS pre_ne,
         sum(CASE WHEN ts < TIMESTAMP '{_ATT_SPLIT}'
                  THEN 1 ELSE 0 END) AS pre_n,
         sum(CASE WHEN event_type = 'purchase'
                   AND ts >= TIMESTAMP '{_ATT_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
med AS (
  SELECT pre_ne AS m FROM (
    SELECT pre_ne,
           row_number() OVER (ORDER BY pre_ne, user_id) AS rn,
           count(*) OVER () AS n
    FROM per_user
  ) WHERE rn = (n + 1) // 2
),
strat AS (
  SELECT p.*,
         CASE WHEN p.pre_ne > med.m THEN 1 ELSE 0 END AS trt,
         ntile({_ATT_STRATA}) OVER (ORDER BY p.pre_n, p.user_id) AS s
  FROM per_user p CROSS JOIN med
),
cell AS (
  SELECT s,
         CAST(sum(trt) AS BIGINT) AS n1,
         CAST(count(*) - sum(trt) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN trt = 1 THEN y ELSE 0 END) AS BIGINT) AS y1,
         CAST(sum(CASE WHEN trt = 0 THEN y ELSE 0 END) AS BIGINT) AS y0
  FROM strat GROUP BY s
),
sup AS (SELECT * FROM cell WHERE n1 > 0 AND n0 > 0),
t1 AS (SELECT CAST(sum(n1) AS BIGINT) AS nt FROM sup),
att AS (
  SELECT sum((n1 * 1.0 / t1.nt)
             * (y1 * 1.0 / n1 - y0 * 1.0 / n0)) AS att
  FROM sup CROSS JOIN t1
)
SELECT CAST(sup.s AS BIGINT) AS stratum,
       sup.n1 AS n_treated,
       sup.n0 AS n_control,
       ROUND(sup.y1 * 1.0 / sup.n1 / 100.0, 4) AS mean_treated,
       ROUND(sup.y0 * 1.0 / sup.n0 / 100.0, 4) AS mean_control,
       ROUND((sup.y1 * 1.0 / sup.n1 - sup.y0 * 1.0 / sup.n0)
             / 100.0, 4) AS diff,
       ROUND(sup.n1 * 1.0 / t1.nt, 6) AS att_weight,
       ROUND(att.att / 100.0, 4) AS att_total
FROM sup CROSS JOIN t1 CROSS JOIN att
ORDER BY stratum
""",
)
def causal_stratified_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified ATT (average treatment effect on the treated) for
    an OBSERVATIONAL exposure — here 'above-median pre-period error
    count' — on
    post-period purchase revenue, stratifying on pre-period activity
    deciles (the cheapest propensity surrogate: condition on the
    covariate that drives both exposure and outcome). Within each
    common-support stratum the treated-control mean difference is
    taken, then averaged with treated weights — Cochran's
    subclassification estimator, the observational counterpart of
    the randomized readouts (Welch / CUPED / DiD) that share this
    module. Strata lacking either group are dropped (common
    support), visible as missing stratum rows.

    Determinism: per-user moments are BIGINT; ntile on
    (pre_n, user_id) assigns identically in both engines; every
    mean and weight is an exact-integer ratio combined in fixed
    order.

    Scale: one scan → per-user groupBy → one global ntile sort over
    |users| rows (range-partitioned; at extreme scale swap ntile
    for fixed pre_n bin edges — same estimator) → a
    {_ATT_STRATA}-row cell grid. The causal adjustment costs one
    sort more than the naive difference."""
    ev = t(spark, sf_dir, "events")
    split = F.lit(_ATT_SPLIT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("event_type") == "error") & (F.col("ts") < split),
                1,
            ).otherwise(0)
        ).alias("pre_ne"),
        F.sum(
            F.when(F.col("ts") < split, 1).otherwise(0)
        ).alias("pre_n"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= split),
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("y"),
    )
    per_user = per_user.localCheckpoint(eager=True)  # med + strat branches
    med = (
        per_user.select(
            "pre_ne",
            F.row_number()
            .over(Window.orderBy("pre_ne", "user_id"))
            .alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("pre_ne").alias("m"))
    )
    strat = per_user.crossJoin(F.broadcast(med)).select(  # bound: one row
        "*",
        F.when(F.col("pre_ne") > F.col("m"), 1).otherwise(0).alias("trt"),
        F.ntile(_ATT_STRATA)
        .over(Window.orderBy("pre_n", "user_id"))
        .alias("s"),
    )
    cell = strat.groupBy("s").agg(
        F.sum("trt").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("trt")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("trt") == 1, F.col("y")).otherwise(0))
        .cast("bigint").alias("y1"),
        F.sum(F.when(F.col("trt") == 0, F.col("y")).otherwise(0))
        .cast("bigint").alias("y0"),
    )
    sup = cell.filter((F.col("n1") > 0) & (F.col("n0") > 0))
    sup = sup.localCheckpoint(eager=True)  # two consumers below
    t1 = sup.agg(F.sum("n1").cast("bigint").alias("nt"))
    m1 = F.col("y1") * 1.0 / F.col("n1")
    m0 = F.col("y0") * 1.0 / F.col("n0")
    att = (
        sup.crossJoin(t1)
        .agg(
            F.sum(
                (F.col("n1") * 1.0 / F.col("nt")) * (m1 - m0)
            ).alias("att")
        )
    )
    return (
        sup.crossJoin(t1)
        .crossJoin(att)
        .select(
            F.col("s").cast("bigint").alias("stratum"),
            F.col("n1").alias("n_treated"),
            F.col("n0").alias("n_control"),
            F.round(m1 / 100.0, 4).alias("mean_treated"),
            F.round(m0 / 100.0, 4).alias("mean_control"),
            F.round((m1 - m0) / 100.0, 4).alias("diff"),
            F.round(F.col("n1") * 1.0 / F.col("nt"), 6)
            .alias("att_weight"),
            F.round(F.col("att") / 100.0, 4).alias("att_total"),
        )
        .orderBy("stratum")
    )


# --------------------------------------------------------------------------
# Permutation test (deterministic hash relabeling) on per-user revenue.
# --------------------------------------------------------------------------

_PERM_B = 200  # permutation replicas

#: Difference-in-means statistic from per-arm BIGINT sums — shared
#: text so both engines build the identical IEEE tree.
_PERM_T = ("(s1 * cast(1.0 as double) / n1"
           " - s0 * cast(1.0 as double) / n0)")

_S_PERM_V = ("cast(conv(substring(md5(concat('perm-', cast(b as string),"
             " '-', cast(user_id as string))),1,15),16,10) as bigint) % 2")
_O_PERM_V = ("('0x'||substring(md5('perm-' || CAST(b AS VARCHAR) || '-'"
             " || CAST(user_id AS VARCHAR)),1,15))::BIGINT % 2")


@workload(
    "abtest_permutation_test",
    oracle=f"""
WITH assign AS (
  SELECT user_id,
         ('0x'||substring(md5('ab-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS variant,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS cents
  FROM events GROUP BY user_id
),
obs AS (
  SELECT
    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN variant = 0 THEN cents ELSE 0 END) AS BIGINT) AS s0,
    CAST(sum(CASE WHEN variant = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1
  FROM assign
),
perm AS (
  SELECT b,
    CAST(sum(CASE WHEN pv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN pv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN pv = 0 THEN cents ELSE 0 END) AS BIGINT) AS s0,
    CAST(sum(CASE WHEN pv = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1
  FROM (
    SELECT a.cents, r.b, {_O_PERM_V} AS pv
    FROM assign a, unnest(range(0, {_PERM_B})) AS r(b)
  )
  GROUP BY b
),
summ AS (
  SELECT CAST(count(*) AS BIGINT) AS n_extreme
  FROM perm p CROSS JOIN obs o
  WHERE abs({_PERM_T.replace('s1', 'p.s1').replace('s0', 'p.s0')
             .replace('n1', 'p.n1').replace('n0', 'p.n0')})
        >= abs({_PERM_T.replace('s1', 'o.s1').replace('s0', 'o.s0')
                .replace('n1', 'o.n1').replace('n0', 'o.n0')})
)
SELECT o.n0 + o.n1 AS n_users,
       ROUND({_PERM_T.replace('s1', 'o.s1').replace('s0', 'o.s0')
              .replace('n1', 'o.n1').replace('n0', 'o.n0')} / 100.0, 4)
         AS t_obs,
       CAST({_PERM_B} AS BIGINT) AS n_perms,
       s.n_extreme,
       ROUND((s.n_extreme + 1.0) / ({_PERM_B} + 1.0), 6) AS p_value
FROM obs o CROSS JOIN summ s
""",
)
def abtest_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-style permutation test of the A/B revenue lift with
    DETERMINISTIC relabeling: each of {B} replicas reassigns every
    user to a pseudo-arm via the engine-portable md5 hash of
    (replica, user_id), recomputes the difference in mean per-user
    purchase revenue, and the p-value is the add-one-smoothed share
    of replicas at least as extreme as the observed lift — the
    distribution-free companion to abtest_welch_readout (no normality
    assumption, exact under the null of exchangeability) that reruns
    bit-identically, unlike rand()-shuffled permutation.

    Determinism: per-arm sums are BIGINT cents; each replica's
    statistic evaluates ONE shared expression text over those exact
    integers, so the >= comparison agrees across engines bit-for-bit.

    Scale: the replica fanout is explode(sequence(0, B-1)) INSIDE the
    scan stage, and the per-(replica, arm) partial sums map-side
    combine to <= 2B rows per partition before the one shuffle — at
    100 TB the cost is B extra combiner updates per user row, not B
    data copies; chunk B if memory-bound. The observed row is a
    broadcast 1-row frame."""
    ev = t(spark, sf_dir, "events")
    assign = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("cents")
        )
        .select(
            "user_id", "cents",
            F.expr(
                "cast(conv(substring(md5(concat('ab-',"
                " cast(user_id as string))),1,15),16,10) as bigint) % 2"
            ).alias("variant"),
        )
    )
    obs = assign.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint").alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint").alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("cents")).otherwise(0))
        .cast("bigint").alias("s0"),
        F.sum(F.when(F.col("variant") == 1, F.col("cents")).otherwise(0))
        .cast("bigint").alias("s1"),
    )
    perm = (
        assign.select(
            "user_id", "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("b"),
        )
        .select("cents", "b", F.expr(_S_PERM_V).alias("pv"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("pv") == 0, 1).otherwise(0))
            .cast("bigint").alias("n0"),
            F.sum(F.when(F.col("pv") == 1, 1).otherwise(0))
            .cast("bigint").alias("n1"),
            F.sum(F.when(F.col("pv") == 0, F.col("cents")).otherwise(0))
            .cast("bigint").alias("s0"),
            F.sum(F.when(F.col("pv") == 1, F.col("cents")).otherwise(0))
            .cast("bigint").alias("s1"),
        )
    )
    o = obs.select(
        F.col("n0").alias("o_n0"), F.col("n1").alias("o_n1"),
        F.col("s0").alias("o_s0"), F.col("s1").alias("o_s1"),
    )
    t_p = F.expr(_PERM_T)
    t_o = F.expr(
        _PERM_T.replace("s1", "o_s1").replace("s0", "o_s0")
        .replace("n1", "o_n1").replace("n0", "o_n0")
    )
    summ = (
        perm.crossJoin(o)
        .filter(F.abs(t_p) >= F.abs(t_o))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_extreme"))
    )
    return (
        obs.crossJoin(summ)
        .select(
            (F.col("n0") + F.col("n1")).cast("bigint").alias("n_users"),
            F.round(F.expr(_PERM_T) / 100.0, 4).alias("t_obs"),
            F.lit(_PERM_B).cast("bigint").alias("n_perms"),
            "n_extreme",
            F.round(
                (F.col("n_extreme") + 1.0) / (_PERM_B + 1.0), 6
            ).alias("p_value"),
        )
    )


# --------------------------------------------------------------------------
# OLS via normal equations (closed-form distributed regression).
# --------------------------------------------------------------------------

#: The 3x3 normal-equations solve by Cramer's rule — SHARED texts
#: evaluated over the double-cast moments (the integer moments are
#: exact BIGINTs; casting each ONCE to double is the same IEEE
#: rounding on both engines, and keeps the triple products inside
#: double range where BIGINT products would overflow).
_OLS_CAST = ", ".join(
    f"cast({c} as double) AS {c}"
    for c in ("n", "sx1", "sx2", "s11", "s12", "s22",
              "sy", "sy1", "sy2", "syy")
)
_OLS_DET = (
    "(n * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2)"
    " + sx2 * (sx1 * s12 - s11 * sx2))"
)
_OLS_B0 = (
    "(sy * (s11 * s22 - s12 * s12) - sx1 * (sy1 * s22 - s12 * sy2)"
    " + sx2 * (sy1 * s12 - s11 * sy2)) / ({det})"
)
_OLS_B1 = (
    "(n * (sy1 * s22 - s12 * sy2) - sy * (sx1 * s22 - s12 * sx2)"
    " + sx2 * (sx1 * sy2 - sy1 * sx2)) / ({det})"
)
_OLS_B2 = (
    "(n * (s11 * sy2 - sy1 * s12) - sx1 * (sx1 * sy2 - sy1 * sx2)"
    " + sy * (sx1 * s12 - s11 * sx2)) / ({det})"
)


@workload(
    "regression_ols_normal_eq",
    oracle=f"""
WITH per_order AS (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS x1,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2,
         CAST(sum(CAST(round(l_extendedprice) AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem GROUP BY l_orderkey
),
mi AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS sx1,
         CAST(sum(x2) AS BIGINT) AS sx2,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y * x1) AS BIGINT) AS sy1,
         CAST(sum(y * x2) AS BIGINT) AS sy2,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM per_order
),
m AS (SELECT {_OLS_CAST} FROM mi),
beta AS (
  SELECT n, sy, syy, sy1, sy2,
         {_OLS_B0.format(det=_OLS_DET)} AS b0,
         {_OLS_B1.format(det=_OLS_DET)} AS b1,
         {_OLS_B2.format(det=_OLS_DET)} AS b2
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_orders,
       ROUND(b0, 4) AS beta0_dollars,
       ROUND(b1, 4) AS beta1_per_item,
       ROUND(b2, 4) AS beta2_per_qty,
       ROUND(1.0 - (syy - b0 * sy - b1 * sy1 - b2 * sy2)
                   / (syy - sy * sy / n), 6) AS r2
FROM beta
""",
)
def regression_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression solved in CLOSED FORM via the
    normal equations: order revenue (whole dollars) on line-count
    and total quantity. ONE aggregation pass collects the ten exact
    integer moments of (1, x1, x2, y) — X'X and X'y — and Cramer's
    rule solves the 3×3 system on that single row; R² comes from the
    same moments (TSS/RSS identity), no residual pass. This is THE
    distributed-OLS shape: at 100 TB the only data-sized cost is the
    moment aggregation (map-side combined to one row per partition);
    the solve is O(p³) on p+1 scalars regardless of row count, and a
    wider model feeds the same moments to a driver-side Cholesky
    (cf. pca_top_component's gram-matrix-in-one-pass discipline).

    Determinism: moments are exact BIGINTs; each casts ONCE to
    double (identical IEEE rounding on both engines — and the cast
    is load-bearing: triple moment products overflow int64), then
    the determinant/betas/R² evaluate shared expression texts."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("c"),
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("x1"),
        F.sum("q").cast("bigint").alias("x2"),
        F.sum("c").cast("bigint").alias("y"),
    )
    mi = per_order.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("sx1"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("x1")).cast("bigint").alias("sy1"),
        F.sum(F.col("y") * F.col("x2")).cast("bigint").alias("sy2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    m = mi.selectExpr(*_OLS_CAST.split(", "))
    beta = m.select(
        "n", "sy", "syy", "sy1", "sy2",
        F.expr(_OLS_B0.format(det=_OLS_DET)).alias("b0"),
        F.expr(_OLS_B1.format(det=_OLS_DET)).alias("b1"),
        F.expr(_OLS_B2.format(det=_OLS_DET)).alias("b2"),
    )
    return beta.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.round("b0", 4).alias("beta0_dollars"),
        F.round("b1", 4).alias("beta1_per_item"),
        F.round("b2", 4).alias("beta2_per_qty"),
        F.round(
            1.0
            - (
                F.col("syy")
                - F.col("b0") * F.col("sy")
                - F.col("b1") * F.col("sy1")
                - F.col("b2") * F.col("sy2")
            )
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
            6,
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# Distribution-free quantile confidence interval (order statistics).
# --------------------------------------------------------------------------

_QCI_Q = "cast(0.9 as double)"   # the quantile
_QCI_Z = "cast(1.96 as double)"  # 95% normal critical value

#: Order-statistic indices (1-based) — shared texts over the exact
#: BIGINT group size n.
_QCI_K = f"cast(ceil(n * {_QCI_Q}) as bigint)"
_QCI_LO = (
    f"greatest(cast(floor(n * {_QCI_Q}"
    f" - {_QCI_Z} * sqrt(n * {_QCI_Q} * (1.0 - {_QCI_Q}))) as bigint), 1)"
)
_QCI_HI = (
    f"least(cast(ceil(n * {_QCI_Q}"
    f" + {_QCI_Z} * sqrt(n * {_QCI_Q} * (1.0 - {_QCI_Q}))) as bigint)"
    f" + 1, n)"
)


@workload(
    "quantile_confidence_interval",
    oracle=f"""
WITH vals AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(round(value * 100) AS BIGINT),
                                     event_id) AS rk
  FROM events
),
sizes AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n
  FROM vals GROUP BY event_type
),
idx AS (
  SELECT event_type, n,
         {_QCI_K} AS k, {_QCI_LO} AS klo, {_QCI_HI} AS khi
  FROM sizes
)
SELECT i.event_type, i.n,
       ROUND(max(CASE WHEN v.rk = i.k THEN v.cents END) / 100.0, 2)
         AS p90,
       ROUND(max(CASE WHEN v.rk = i.klo THEN v.cents END) / 100.0, 2)
         AS ci_lo,
       ROUND(max(CASE WHEN v.rk = i.khi THEN v.cents END) / 100.0, 2)
         AS ci_hi
FROM idx i
JOIN vals v ON v.event_type = i.event_type
           AND v.rk IN (i.k, i.klo, i.khi)
GROUP BY i.event_type, i.n
ORDER BY i.event_type
""",
)
def quantile_confidence_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution-free 95% confidence interval for the per-type
    p90 of event value, from ORDER STATISTICS: the number of
    observations below the true quantile is Binomial(n, q), so the
    interval is simply the values at ranks floor(nq − z√(nq(1−q)))
    and ceil(nq + z√(nq(1−q)))+1 — no normality assumption about the
    VALUES, no bootstrap resampling (cf. bootstrap_ci_poisson, which
    buys the same kind of CI for the MEAN with B replicas; for
    quantiles the binomial argument gives it in one pass). Wide
    intervals flag types whose p90 dashboards shouldn't be trusted.

    Determinism: values snap to integer cents; ranks have an
    event_id tiebreak (the selected VALUE at a rank is tie-invariant
    anyway); the three indices evaluate one shared text over the
    exact BIGINT n. Scale: one shuffle to rank within type, then a
    3-rows-per-type semi-join — at 100 TB replace the full rank with
    two passes (count, then select the 3 target ranks per type with
    a filtered TakeOrdered), same output."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    vals = ev.select(
        "event_type", "cents",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy("cents", "event_id")
        )
        .alias("rk"),
    )
    sizes = vals.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    idx = sizes.select(
        "event_type", "n",
        F.expr(_QCI_K).alias("k"),
        F.expr(_QCI_LO).alias("klo"),
        F.expr(_QCI_HI).alias("khi"),
    )
    # bound: <= |event_type| rows
    joined = vals.join(F.broadcast(idx), "event_type").filter(
        (F.col("rk") == F.col("k"))
        | (F.col("rk") == F.col("klo"))
        | (F.col("rk") == F.col("khi"))
    )
    return (
        joined.groupBy("event_type", "n")
        .agg(
            F.round(
                F.max(F.when(F.col("rk") == F.col("k"), F.col("cents")))
                / 100.0,
                2,
            ).alias("p90"),
            F.round(
                F.max(F.when(F.col("rk") == F.col("klo"), F.col("cents")))
                / 100.0,
                2,
            ).alias("ci_lo"),
            F.round(
                F.max(F.when(F.col("rk") == F.col("khi"), F.col("cents")))
                / 100.0,
                2,
            ).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Exponential MLE + one-sample KS goodness-of-fit on inter-arrivals.
# --------------------------------------------------------------------------

#: Fitted exponential CDF at the gap, with lambda = n / sum(gaps) —
#: shared text over exact integer microsecond moments.
_EXP_CDF = (
    "(1.0 - exp(-(n * cast(1.0 as double) / sg) * gap_us))"
)


@workload(
    "fit_exponential_interarrival",
    oracle=f"""
WITH gaps AS (
  SELECT event_type,
         lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id)
           - epoch_us(ts) AS gap_us
  FROM events
),
g AS (SELECT event_type, CAST(gap_us AS BIGINT) AS gap_us
      FROM gaps WHERE gap_us IS NOT NULL),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gap_us) AS BIGINT) AS sg
  FROM g GROUP BY event_type
),
ranked AS (
  SELECT g.event_type, g.gap_us, m.n, m.sg,
         row_number() OVER (PARTITION BY g.event_type
                            ORDER BY g.gap_us, g.rowid_tb) AS i
  FROM (SELECT event_type, gap_us,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY gap_us) AS rowid_tb
        FROM g) g
  JOIN m ON m.event_type = g.event_type
),
ks AS (
  SELECT event_type, n, sg,
         max(greatest(
           abs(i * cast(1.0 as double) / n - {_EXP_CDF}),
           abs((i - 1) * cast(1.0 as double) / n - {_EXP_CDF})
         )) AS d
  FROM ranked GROUP BY event_type, n, sg
)
SELECT event_type, n AS n_gaps,
       ROUND(n * cast(1.0 as double) / sg * 60000000, 4)
         AS lambda_per_min,
       ROUND(d, 6) AS ks_stat,
       CAST(d > 1.358 / sqrt(n) AS BOOLEAN) AS reject_exp_05
FROM ks
ORDER BY event_type
""",
)
def fit_exponential_interarrival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parametric distribution fitting with a goodness-of-fit gate:
    per event type, fit an exponential to the inter-arrival gaps by
    MLE (λ = n/Σgaps — one exact integer moment) and test the fit
    with a ONE-SAMPLE Kolmogorov-Smirnov statistic against the
    fitted CDF (sup over the sorted gaps of the ECDF-vs-F distance,
    both one-sided steps). reject_exp_05 flags types whose arrivals
    are NOT Poisson — burstiness that invalidates the exponential
    capacity model (the parametric complement of
    events_dispersion_index, and the fitted-model upgrade of
    drift_ks_two_period's two-sample form).

    Determinism: gaps are exact integer microseconds; λ enters every
    CDF evaluation through one shared text over (n, sg); the sup is
    a MAX (order-free) over per-row doubles computed identically;
    rank ties on equal gaps permute identical (i, x) pairs. Scale:
    lag within type (the sessionization shuffle), one moment
    aggregate, one ranked pass — the KS sup map-side combines."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("e"),
    )
    wt = Window.partitionBy("event_type").orderBy("e", "event_id")
    g = (
        ev.select(
            "event_type",
            (F.lead("e").over(wt) - F.col("e")).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
        .select("event_type", F.col("gap_us").cast("bigint").alias("gap_us"))
    )
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap_us").cast("bigint").alias("sg"),
    )
    ranked = (
        g.select(
            "event_type", "gap_us",
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("gap_us"))
            .alias("i"),
        )
        .join(F.broadcast(m), "event_type")  # bound: <= |event_type| rows
    )
    d_expr = F.max(
        F.greatest(
            F.abs(
                F.col("i") * F.expr("cast(1.0 as double)") / F.col("n")
                - F.expr(_EXP_CDF)
            ),
            F.abs(
                (F.col("i") - 1) * F.expr("cast(1.0 as double)") / F.col("n")
                - F.expr(_EXP_CDF)
            ),
        )
    )
    ks = ranked.groupBy("event_type", "n", "sg").agg(d_expr.alias("d"))
    return ks.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.round(
            F.col("n") * F.expr("cast(1.0 as double)") / F.col("sg")
            * 60000000,
            4,
        ).alias("lambda_per_min"),
        F.round("d", 6).alias("ks_stat"),
        (F.col("d") > 1.358 / F.sqrt(F.col("n"))).alias("reject_exp_05"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Uplift by activity decile + Qini curve (incremental-impact targeting).
# --------------------------------------------------------------------------


@workload(
    "uplift_qini_by_decile",
    oracle="""
WITH users AS (
  SELECT user_id,
         ('0x'||substring(md5('ab-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS variant,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events GROUP BY user_id
),
deciled AS (
  SELECT variant, converted,
         CAST(ntile(10) OVER (ORDER BY n_events DESC, user_id)
              AS BIGINT) AS decile
  FROM users
),
per AS (
  SELECT decile,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
              AS BIGINT) AS conv_t,
         CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
              AS BIGINT) AS conv_c
  FROM deciled GROUP BY decile
),
cum AS (
  SELECT decile, n_t, n_c, conv_t, conv_c,
         sum(n_t) OVER w AS cnt, sum(n_c) OVER w AS cnc,
         sum(conv_t) OVER w AS cct, sum(conv_c) OVER w AS ccc
  FROM per
  WINDOW w AS (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, n_t, n_c,
       ROUND(conv_t * 1.0 / n_t, 6) AS rate_t,
       ROUND(conv_c * 1.0 / n_c, 6) AS rate_c,
       ROUND(conv_t * 1.0 / n_t - conv_c * 1.0 / n_c, 6) AS uplift,
       ROUND(cct - ccc * 1.0 * cnt / cnc, 4) AS qini
FROM cum
ORDER BY decile
""",
)
def uplift_qini_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift modeling readout — WHO should be targeted, not just
    whether the treatment works (the question CUPED/DiD/ATT answer):
    users are ranked into activity deciles, each decile reports its
    treatment-vs-control conversion-rate difference (the T-learner
    per-segment uplift), and the running Qini value — cumulative
    incremental conversions cct − ccc·cnt/cnc — traces the
    incremental-impact curve whose shape says how deep to target
    (flat tail = stop; the area vs the random-targeting diagonal is
    the Qini coefficient, readable off these 10 points). Assignment
    is the portable md5 hash shared with every abtest workload.

    Determinism: all counts are exact BIGINTs; the decile NTILE has
    a user_id tiebreak; each reported figure divides once. Scale:
    one groupBy(user) (the sessionization shuffle) + an exact decile
    rank (at 100 TB: approx-quantile boundaries + map-only binning,
    cf. eval_decile_lift) + a 10-row windowed rollup."""
    users = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("bigint").alias("converted"),
        )
        .select(
            "user_id", "n_events", "converted",
            F.expr(
                "cast(conv(substring(md5(concat('ab-',"
                " cast(user_id as string))),1,15),16,10) as bigint) % 2"
            ).alias("variant"),
        )
    )
    deciled = users.select(
        "variant", "converted",
        F.ntile(10)
        .over(Window.orderBy(F.col("n_events").desc(), "user_id"))
        .cast("bigint")
        .alias("decile"),
    )
    per = deciled.groupBy("decile").agg(
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("bigint").alias("conv_t"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("bigint").alias("conv_c"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "decile", "n_t", "n_c", "conv_t", "conv_c",
        F.sum("n_t").over(wc).alias("cnt"),
        F.sum("n_c").over(wc).alias("cnc"),
        F.sum("conv_t").over(wc).alias("cct"),
        F.sum("conv_c").over(wc).alias("ccc"),
    )
    return cum.select(
        "decile", "n_t", "n_c",
        F.round(F.col("conv_t") * 1.0 / F.col("n_t"), 6).alias("rate_t"),
        F.round(F.col("conv_c") * 1.0 / F.col("n_c"), 6).alias("rate_c"),
        F.round(
            F.col("conv_t") * 1.0 / F.col("n_t")
            - F.col("conv_c") * 1.0 / F.col("n_c"),
            6,
        ).alias("uplift"),
        F.round(
            F.col("cct") - F.col("ccc") * 1.0 * F.col("cnt") / F.col("cnc"),
            4,
        ).alias("qini"),
    ).orderBy("decile")


# --------------------------------------------------------------------------
# Zero-inflated Poisson moment fit (count-data overdispersion split).
# --------------------------------------------------------------------------

#: Closed-form ZIP method-of-moments from exact integer sums:
#: lambda = mean + var/mean − 1,  pi = 1 − mean/lambda.  Shared
#: texts over (n, s, ss) = count / Σx / Σx² BIGINTs.
_ZIP_MEAN = "(s * cast(1.0 as double) / n)"
_ZIP_VAR = ("((ss * cast(1.0 as double)"
            " - s * cast(1.0 as double) * s / n) / (n - 1))")
_ZIP_LAMBDA = f"({_ZIP_MEAN} + {_ZIP_VAR} / {_ZIP_MEAN} - 1.0)"
_ZIP_PI = f"(1.0 - {_ZIP_MEAN} / {_ZIP_LAMBDA})"


@workload(
    "fit_zero_inflated_poisson",
    oracle=f"""
WITH grid AS (
  SELECT u.user_id, t.event_type,
         CAST(coalesce(c.k, 0) AS BIGINT) AS k
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
  LEFT JOIN (
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS k
    FROM events GROUP BY user_id, event_type
  ) c ON c.user_id = u.user_id AND c.event_type = t.event_type
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(k) AS BIGINT) AS s,
         CAST(sum(k * k) AS BIGINT) AS ss,
         CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM grid GROUP BY event_type
)
SELECT event_type, n AS n_users,
       ROUND({_ZIP_MEAN}, 4) AS mean_k,
       ROUND({_ZIP_VAR}, 4) AS var_k,
       ROUND({_ZIP_LAMBDA}, 4) AS lambda_hat,
       ROUND({_ZIP_PI}, 6) AS pi_hat,
       ROUND(n_zero * 1.0 / n, 6) AS zero_share_obs,
       ROUND({_ZIP_PI} + (1.0 - {_ZIP_PI}) * exp(-{_ZIP_LAMBDA}), 6)
         AS zero_share_fit
FROM m
ORDER BY event_type
""",
)
def fit_zero_inflated_poisson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zero-inflated Poisson fit by the method of moments — the
    count-data answer to events_dispersion_index's diagnosis: when
    per-user event counts are overdispersed BECAUSE a structural-zero
    class never engages, ZIP splits the two regimes in closed form
    from two exact moments (λ = m + v/m − 1, π = 1 − m/λ — no
    iteration, no likelihood loop), and the fitted-vs-observed zero
    share in the same row says whether the split actually explains
    the zeros (the self-measuring convention). π̂ is the actionable
    number: the share of users structurally out of market per event
    type.

    Determinism: the (user × type) count grid is exact integers
    (absent combinations are real zeros — the dense grid via one
    cross of two distinct lists); n/Σk/Σk² are BIGINTs; every fitted
    quantity evaluates ONE shared text over them. Scale: one
    groupBy(user, type) with map-side combine + a |users|×|types|
    dense-grid left join (types are single digits; at 100 TB the
    grid is the per-user profile table you already materialize) →
    |types| moment rows."""
    ev = t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    types = ev.select("event_type").distinct()
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    grid = (
        users.crossJoin(F.broadcast(types))  # bound: <= |event_type| rows
        .join(counts, ["user_id", "event_type"], "left")
        .select(
            "event_type",
            F.coalesce("k", F.lit(0)).cast("bigint").alias("k"),
        )
    )
    m = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("ss"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_zero"),
    )
    return m.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.round(F.expr(_ZIP_MEAN), 4).alias("mean_k"),
        F.round(F.expr(_ZIP_VAR), 4).alias("var_k"),
        F.round(F.expr(_ZIP_LAMBDA), 4).alias("lambda_hat"),
        F.round(F.expr(_ZIP_PI), 6).alias("pi_hat"),
        F.round(F.col("n_zero") * 1.0 / F.col("n"), 6)
        .alias("zero_share_obs"),
        F.round(
            F.expr(f"{_ZIP_PI} + (1.0 - {_ZIP_PI}) * exp(-{_ZIP_LAMBDA})"),
            6,
        ).alias("zero_share_fit"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Cramér's V: effect size for the lang × source chi² (round 8).
# --------------------------------------------------------------------------


@workload(
    "stats_cramers_v",
    oracle="""
WITH obs AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
),
lt AS (SELECT lang, sum(o) AS row_tot FROM obs GROUP BY lang),
st AS (SELECT source, sum(o) AS col_tot FROM obs GROUP BY source),
n AS (SELECT sum(o) AS total FROM obs),
cells AS (
  SELECT coalesce(obs.o, 0) AS o,
         lt.row_tot * st.col_tot * 1.0 / n.total AS e
  FROM lt CROSS JOIN st CROSS JOIN n
  LEFT JOIN obs ON obs.lang = lt.lang AND obs.source = st.source
),
chi AS (
  SELECT sum(CAST(round((o - e) * (o - e) / e * 100000000) AS BIGINT))
         / 100000000.0 AS chi2
  FROM cells
)
SELECT CAST(n.total AS BIGINT) AS n,
       CAST(least((SELECT count(*) FROM lt) - 1,
                  (SELECT count(*) FROM st) - 1) AS BIGINT) AS min_dim,
       ROUND(chi.chi2, 4) AS chi2,
       ROUND(sqrt(chi.chi2 / (n.total * least(
           (SELECT count(*) FROM lt) - 1,
           (SELECT count(*) FROM st) - 1))), 6) AS cramers_v
FROM chi CROSS JOIN n
""",
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the [0,1] effect size the chi² workload lacks
    (χ² grows with n even for a fixed association strength; V
    normalizes by n·min(r−1, c−1) so 'is the lang mix source-
    dependent ENOUGH TO CARE' is answerable at any corpus size).
    Same integer-1e-8 per-cell summation as
    chi2_lang_source_independence; sqrt is correctly rounded by
    IEEE spec, so V is bit-deterministic before display rounding.

    Scale: identical plan to the chi² workload — one corpus groupBy,
    then k×k marginal arithmetic on broadcast frames."""
    docs = t(spark, sf_dir, "documents")
    obs = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
        .cache()
    )
    lt = obs.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    st = obs.groupBy("source").agg(F.sum("o").alias("col_tot"))
    total = obs.agg(F.sum("o")).first()[0]  # bound: one aggregate row
    min_dim = min(lt.count(), st.count()) - 1
    cells = (
        lt.crossJoin(F.broadcast(st))  # bound: <= |source| rows
        .join(obs, ["lang", "source"], "left")
        .select(
            F.coalesce("o", F.lit(0)).alias("o"),
            (
                F.col("row_tot") * F.col("col_tot") * F.lit(1.0)
                / F.lit(total)
            ).alias("e"),
        )
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    chi = cells.agg(
        (
            F.sum(F.round(term * 100000000).cast("bigint")) / 100000000.0
        ).alias("chi2")
    )
    return chi.select(
        F.lit(total).cast("bigint").alias("n"),
        F.lit(min_dim).cast("bigint").alias("min_dim"),
        F.round("chi2", 4).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / F.lit(float(total * min_dim))), 6
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Ljung-Box autocorrelation test on the daily event-count series.
# --------------------------------------------------------------------------

_LB_LAGS = 7


@workload(
    "stats_ljung_box",
    oracle=f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
  FROM daily
),
dev AS (
  -- d_t = n*x_t - S: the n-scaled deviation is an exact BIGINT, so
  -- every autocorrelation moment below is integer-exact
  SELECT day, mom.n AS n, mom.n * x - mom.s AS d
  FROM daily CROSS JOIN mom
),
lagprod AS (
  SELECT k.k AS k, d.n AS n,
         d.d * lag(d.d, k.k) OVER (
             PARTITION BY k.k ORDER BY d.day) AS p
  FROM dev d CROSS JOIN (
    SELECT unnest(range(1, {_LB_LAGS} + 1)) AS k) k
),
lagged AS (
  SELECT k, n, CAST(sum(p) AS BIGINT) AS num
  FROM lagprod GROUP BY k, n
),
den AS (SELECT CAST(sum(d * d) AS BIGINT) AS den FROM dev),
rho AS (
  SELECT l.k, l.n, l.num * 1.0 / den.den AS rho
  FROM lagged l CROSS JOIN den
),
q AS (
  SELECT k, n, rho,
         n * (n + 2.0) * sum(rho * rho / (n - k)) OVER (
             ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS q
  FROM rho
)
SELECT CAST(k AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_days,
       ROUND(rho, 6) + 0.0 AS rho,
       ROUND(q, 4) + 0.0 AS q_stat
FROM q
ORDER BY lag
""",
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily event-count series:
    is the arrival process white noise, or does it carry structure
    (weekly seasonality, ramp, drift) that the forecasting workloads
    should model? Reports the autocorrelation at lags 1..{lags} and
    the cumulative Q statistic n(n+2)·Σ ρ²_k/(n−k).

    Determinism: deviations use the n-scaled form d_t = n·x_t − Σx
    (exact BIGINT, no rational mean), every autocovariance moment is
    an exact integer, and Q accumulates its {lags} per-lag doubles in
    fixed lag order via a running window, so both engines add in the
    same sequence. ROUND(...)+0.0 canonicalizes a noise-floor -0.0.

    Scale: the corpus-sized work is ONE day groupBy (map-side
    combinable); the lag windows run over the tiny day-level series
    (3 orders smaller than the corpus), where a single-partition
    window is the right plan."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    dev = daily.crossJoin(mom).select(
        "day", "n", (F.col("n") * F.col("x") - F.col("s")).alias("d")
    )
    w = Window.orderBy("day")
    lag_cols = [
        (F.col("d") * F.lag("d", k).over(w)).alias(f"p{k}")
        for k in range(1, _LB_LAGS + 1)
    ]
    prods = dev.select("n", (F.col("d") * F.col("d")).alias("dd"), *lag_cols)
    agg = prods.agg(
        F.max("n").alias("n"),
        F.sum("dd").cast("bigint").alias("den"),
        *[
            F.sum(f"p{k}").cast("bigint").alias(f"num{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    per_lag = agg.select(
        "n", "den",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("lag"),
                        F.col(f"num{k}").alias("num"),
                    )
                    for k in range(1, _LB_LAGS + 1)
                ]
            )
        ).alias("e"),
    ).select(
        F.col("e.lag").alias("lag"), "n",
        (F.col("e.num") * F.lit(1.0) / F.col("den")).alias("rho"),
    )
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    out = per_lag.select(
        "lag",
        F.col("n").alias("n_days"),
        "rho",
        (
            F.col("n") * (F.col("n") + F.lit(2.0))
            * F.sum(
                F.col("rho") * F.col("rho") / (F.col("n") - F.col("lag"))
            ).over(wq)
        ).alias("q"),
    )
    return out.select(
        "lag", "n_days",
        (F.round("rho", 6) + F.lit(0.0)).alias("rho"),
        (F.round("q", 4) + F.lit(0.0)).alias("q_stat"),
    ).orderBy("lag")


# --------------------------------------------------------------------------
# Group-sequential A/B readout with an O'Brien-Fleming-shaped boundary.
# --------------------------------------------------------------------------

_GS_LOOKS = 5
#: final-look two-sided z boundary (α≈0.05) — the OBF spending shape
#: scales it by sqrt(K/k) at interim look k
_GS_C = 2.04


@workload(
    "abtest_group_sequential",
    oracle=f"""
WITH looks AS (
  SELECT day, CAST(ntile({_GS_LOOKS}) OVER (ORDER BY day) AS BIGINT) AS look
  FROM (SELECT DISTINCT date_trunc('day', ts) AS day FROM events)
),
pe AS (
  SELECT date_trunc('day', ts) AS day,
         ('0x'||substring(md5('ab-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS variant,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
lk AS (
  SELECT l.look, p.variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(p.cents) AS BIGINT) AS s,
         CAST(sum(p.cents * p.cents) AS BIGINT) AS ss
  FROM pe p JOIN looks l ON l.day = p.day
  GROUP BY 1, 2
),
cum AS (
  SELECT look, variant,
         CAST(sum(n) OVER w AS BIGINT) AS n,
         CAST(sum(s) OVER w AS BIGINT) AS s,
         CAST(sum(ss) OVER w AS BIGINT) AS ss
  FROM lk
  WINDOW w AS (PARTITION BY variant ORDER BY look
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
wide AS (
  SELECT look,
         max(CASE WHEN variant = 0 THEN n END) AS n0,
         max(CASE WHEN variant = 1 THEN n END) AS n1,
         max(CASE WHEN variant = 0 THEN s END) AS s0,
         max(CASE WHEN variant = 1 THEN s END) AS s1,
         max(CASE WHEN variant = 0 THEN ss END) AS ss0,
         max(CASE WHEN variant = 1 THEN ss END) AS ss1
  FROM cum GROUP BY look
),
zrow AS (
  SELECT look, n0, n1,
         (s1 * 1.0 / n1 - s0 * 1.0 / n0)
           / sqrt((n0 * ss0 - s0 * s0) * 1.0 / (n0 * n0 * (n0 - 1))
                  + (n1 * ss1 - s1 * s1) * 1.0 / (n1 * n1 * (n1 - 1))) AS z,
         {_GS_C} * sqrt({_GS_LOOKS} * 1.0 / look) AS boundary
  FROM wide
),
flagged AS (
  SELECT *, CASE WHEN abs(z) >= boundary THEN 1 ELSE 0 END AS crossed
  FROM zrow
),
stopd AS (
  SELECT coalesce(min(look) FILTER (WHERE crossed = 1), 0) AS stop_look
  FROM flagged
)
SELECT CAST(f.look AS BIGINT) AS look,
       f.n0 AS n_control, f.n1 AS n_treatment,
       ROUND(f.z, 6) + 0.0 AS z,
       ROUND(f.boundary, 6) AS boundary,
       CAST(f.crossed AS BIGINT) AS crossed,
       CAST(stopd.stop_look AS BIGINT) AS stop_look
FROM flagged f CROSS JOIN stopd
ORDER BY look
""",
)
def abtest_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential experiment monitoring: the purchase-revenue
    Welch z recomputed at 5 calendar-based interim looks (days split
    into equal-count ntile chunks) against an O'Brien-Fleming-shaped
    boundary c·sqrt(K/k) — spend almost no alpha early, full alpha
    at the last look. Reports each look's cumulative arms, z, the
    boundary, whether it crossed, and the first crossing look (0 =
    never) — the 'can we stop the experiment early' readout that
    peeking at the fixed-horizon z every day gets wrong
    (abtest_sprt_sequential is the per-observation cousin; this is
    the industry-standard calendar-look form).

    Determinism: all moments are exact BIGINTs accumulated per look
    via ≤2·K-row windows; the z at each look follows the
    abtest_welch_readout IEEE sequence; looks assign by ntile over
    the tiny distinct-day frame with identical SQL semantics in both
    engines. ROUND(z)+0.0 canonicalizes -0.0.

    Scale: one filtered scan → day×variant groupBy (map-side
    combinable); everything after runs on K·2 rows. The day→look
    broadcast join adds no shuffle."""
    ev = t(spark, sf_dir, "events")
    days = (
        ev.select(F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
        .select(
            "day",
            F.ntile(_GS_LOOKS).over(Window.orderBy("day"))
            .cast("bigint").alias("look"),
        )
    )
    pe = ev.filter(F.col("event_type") == "purchase").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.expr(
            "pmod("
            + _spark_hash("concat('ab-', cast(user_id as string))")
            + ", 2)"
        ).alias("variant"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    lk = (
        pe.join(F.broadcast(days), "day")  # bound: <= |days| rows
        .groupBy("look", "variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s"),
            F.sum(F.col("cents") * F.col("cents")).cast("bigint")
            .alias("ss"),
        )
    )
    wcum = (
        Window.partitionBy("variant").orderBy("look")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = lk.select(
        "look", "variant",
        F.sum("n").over(wcum).cast("bigint").alias("n"),
        F.sum("s").over(wcum).cast("bigint").alias("s"),
        F.sum("ss").over(wcum).cast("bigint").alias("ss"),
    )

    def pick(v: int, c: str, alias: str):
        return F.max(F.when(F.col("variant") == v, F.col(c))).alias(alias)

    wide = cum.groupBy("look").agg(
        pick(0, "n", "n0"), pick(1, "n", "n1"),
        pick(0, "s", "s0"), pick(1, "s", "s1"),
        pick(0, "ss", "ss0"), pick(1, "ss", "ss1"),
    )
    m0 = F.col("s0") * 1.0 / F.col("n0")
    m1 = F.col("s1") * 1.0 / F.col("n1")
    var0 = (
        (F.col("n0") * F.col("ss0") - F.col("s0") * F.col("s0")) * 1.0
        / (F.col("n0") * F.col("n0") * (F.col("n0") - 1))
    )
    var1 = (
        (F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")) * 1.0
        / (F.col("n1") * F.col("n1") * (F.col("n1") - 1))
    )
    zrow = wide.select(
        "look", "n0", "n1",
        ((m1 - m0) / F.sqrt(var0 + var1)).alias("z"),
        (
            F.lit(_GS_C)
            * F.sqrt(F.lit(float(_GS_LOOKS)) / F.col("look"))
        ).alias("boundary"),
    )
    flagged = zrow.withColumn(
        "crossed",
        F.when(F.abs(F.col("z")) >= F.col("boundary"), 1).otherwise(0)
        .cast("bigint"),
    )
    stop = flagged.agg(
        F.coalesce(
            F.min(F.when(F.col("crossed") == 1, F.col("look"))), F.lit(0)
        ).cast("bigint").alias("stop_look")
    )
    return (
        flagged.crossJoin(F.broadcast(stop))  # bound: one row
        .select(
            F.col("look").cast("bigint").alias("look"),
            F.col("n0").alias("n_control"),
            F.col("n1").alias("n_treatment"),
            (F.round("z", 6) + F.lit(0.0)).alias("z"),
            F.round("boundary", 6).alias("boundary"),
            "crossed",
            "stop_look",
        )
        .orderBy("look")
    )


# --------------------------------------------------------------------------
# UCB1 bandit replay: which arm would the policy pull each day?
# --------------------------------------------------------------------------


@workload(
    "bandit_ucb1_daily_choice",
    oracle="""
WITH ev AS (
  SELECT date_trunc('day', ts) AS day, event_type AS arm,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
thr AS (
  -- reward threshold = global mean in cents; the comparison below is
  -- cents * n > S, so the rational mean is never materialized
  SELECT CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM ev
),
rewarded AS (
  SELECT ev.day, ev.arm,
         CASE WHEN ev.cents * thr.n > thr.s THEN 1 ELSE 0 END AS r
  FROM ev CROSS JOIN thr
),
armday AS (
  SELECT day, arm, CAST(count(*) AS BIGINT) AS pulls,
         CAST(sum(r) AS BIGINT) AS wins
  FROM rewarded GROUP BY day, arm
),
cum AS (
  SELECT day, arm,
         CAST(sum(pulls) OVER w AS BIGINT) AS n_arm,
         CAST(sum(wins) OVER w AS BIGINT) AS s_arm
  FROM armday
  WINDOW w AS (PARTITION BY arm ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
  SELECT day, CAST(sum(n_arm) AS BIGINT) AS n_tot
  FROM cum GROUP BY day
),
scored AS (
  SELECT c.day, c.arm, c.n_arm,
         s_arm * 1.0 / n_arm + sqrt(2.0 * ln(t.n_tot) / n_arm) AS ucb
  FROM cum c JOIN tot t ON t.day = c.day
),
full_days AS (
  -- UCB1 is defined once every arm has been pulled; restrict to days
  -- where the cumulative table has all arms
  SELECT day FROM cum GROUP BY day
  HAVING count(*) = (SELECT count(DISTINCT arm) FROM armday)
),
ranked AS (
  SELECT s.day, s.arm, s.ucb,
         row_number() OVER (PARTITION BY s.day
                            ORDER BY s.ucb DESC, s.arm) AS rk
  FROM scored s JOIN full_days f ON f.day = s.day
)
SELECT CAST(day AS DATE) AS day, arm AS chosen_arm,
       ROUND(ucb, 6) AS ucb
FROM ranked WHERE rk = 1
ORDER BY day
""",
)
def bandit_ucb1_daily_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit replay over the event log: arms are event types,
    a pull's reward is 1 when its value beats the global mean
    (integer-exact compare cents·n > Σcents — no rational mean), and
    for each day the workload reports which arm the UCB1 policy
    (mean + sqrt(2·ln N / n) over cumulative counts) would choose
    next. The offline what-would-the-policy-do replay that gates a
    bandit rollout — e.g. choosing which data source to crawl next
    under an explore/exploit budget.

    Determinism: cumulative pulls/wins are exact BIGINTs; ucb scores
    are single IEEE expressions of those integers, so cross-engine
    doubles are identical and the (ucb DESC, arm) tiebreak picks the
    same row. Days before every arm has a pull are excluded (UCB1's
    init phase plays each arm once).

    Scale: one day×arm groupBy over the corpus (map-side
    combinable), then windows over the tiny day×arm grid."""
    ev = t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("event_type").alias("arm"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    thr = ev.agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    rewarded = ev.crossJoin(thr).select(
        "day", "arm",
        F.when(F.col("cents") * F.col("n") > F.col("s"), 1)
        .otherwise(0).alias("r"),
    )
    armday = rewarded.groupBy("day", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("pulls"),
        F.sum("r").cast("bigint").alias("wins"),
    )
    wcum = (
        Window.partitionBy("arm").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = armday.select(
        "day", "arm",
        F.sum("pulls").over(wcum).cast("bigint").alias("n_arm"),
        F.sum("wins").over(wcum).cast("bigint").alias("s_arm"),
    )
    tot = cum.groupBy("day").agg(
        F.sum("n_arm").cast("bigint").alias("n_tot")
    )
    n_arms = armday.select("arm").distinct().count()
    full_days = (
        cum.groupBy("day").agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == n_arms)
        .select("day")
    )
    scored = (
        cum.join(tot, "day")
        .join(F.broadcast(full_days), "day")  # bound: <= |days| rows
        .select(
            "day", "arm",
            (
                F.col("s_arm") * 1.0 / F.col("n_arm")
                + F.sqrt(
                    2.0 * F.log(F.col("n_tot")) / F.col("n_arm")
                )
            ).alias("ucb"),
        )
    )
    rk = Window.partitionBy("day").orderBy(
        F.col("ucb").desc(), F.col("arm")
    )
    return (
        scored.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(F.col("day").cast("date").alias("day"),
                F.col("arm").alias("chosen_arm"),
                F.round("ucb", 6).alias("ucb"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the signs of day-over-day changes.
# --------------------------------------------------------------------------


@workload(
    "stats_runs_test",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
signs AS (
  SELECT event_type, day,
         CASE WHEN x > lag(x) OVER w THEN 1
              WHEN x < lag(x) OVER w THEN -1
              ELSE NULL END AS s
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
nz AS (SELECT event_type, day, s FROM signs WHERE s IS NOT NULL),
runs AS (
  SELECT event_type, day, s,
         CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY day)
                   IS DISTINCT FROM s THEN 1 ELSE 0 END AS brk
  FROM nz
),
agg AS (
  SELECT event_type,
         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(sum(brk) AS BIGINT) AS runs
  FROM runs GROUP BY event_type
)
SELECT event_type, n_pos, n_neg, runs,
       ROUND(2.0 * n_pos * n_neg / (n_pos + n_neg) + 1, 4) AS e_runs,
       CASE WHEN n_pos = 0 OR n_neg = 0
                 OR 2 * n_pos * n_neg * (2 * n_pos * n_neg - n_pos - n_neg)
                    = 0
            THEN NULL
            ELSE ROUND((runs - (2.0 * n_pos * n_neg / (n_pos + n_neg) + 1))
                 / sqrt(2.0 * n_pos * n_neg
                        * (2 * n_pos * n_neg - n_pos - n_neg)
                        / ((n_pos + n_neg) * 1.0 * (n_pos + n_neg)
                           * ((n_pos + n_neg) - 1))), 4) + 0.0
       END AS z
FROM agg
ORDER BY event_type
""",
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type: are the SIGNS of the
    day-over-day changes in daily arrival counts randomly ordered, or
    do they run in streaks (momentum / mean-reversion) that the
    i.i.d.-noise assumption behind the z-score and CUSUM monitors
    would violate? Zero-change days drop (the standard treatment);
    the first break indicator on each sign sequence is 1, so
    ``sum(brk)`` IS the run count.

    Determinism: n_pos / n_neg / runs are exact BIGINTs; E[R] and
    Var[R] use one fixed parenthesization on both sides, so z is a
    deterministic double before display rounding (``+ 0.0``
    canonicalizes a potential -0.0 when R sits exactly at E[R]).

    Scale: one map-side-combinable day groupBy over the corpus; the
    sign/run windows operate on the |types| x |days| daily grid —
    thousands of rows regardless of corpus size."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    return _runs_test_report(daily)


def _runs_test_report(daily: DataFrame) -> DataFrame:
    """Runs-test readout from a (event_type, day, x) daily-count grid
    — shared verbatim by the batch workload and the streaming daily
    monitor (streaming/ph.py), the _page_hinkley_report pattern."""
    w = Window.partitionBy("event_type").orderBy("day")
    signs = daily.select(
        "event_type", "day",
        F.when(F.col("x") > F.lag("x").over(w), 1)
        .when(F.col("x") < F.lag("x").over(w), -1)
        .alias("s"),
    ).filter(F.col("s").isNotNull())
    runs = signs.select(
        "event_type", "s",
        F.when(
            ~F.lag("s").over(w).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("brk"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("bigint").alias("n_neg"),
        F.sum("brk").cast("bigint").alias("runs"),
    )
    np_, nn, r = F.col("n_pos"), F.col("n_neg"), F.col("runs")
    n = np_ + nn
    e_runs = 2.0 * np_ * nn / n + 1
    var_num = 2 * np_ * nn * (2 * np_ * nn - np_ - nn)
    var = var_num / (n * 1.0 * n * (n - 1))
    return agg.select(
        "event_type", "n_pos", "n_neg", "runs",
        F.round(e_runs, 4).alias("e_runs"),
        F.when(
            (np_ == 0) | (nn == 0) | (var_num == 0), F.lit(None)
        ).otherwise(
            F.round((r - e_runs) / F.sqrt(var), 4) + 0.0
        ).alias("z"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Two-sample Hodges-Lehmann shift estimate on the dollar-binned grid.
# --------------------------------------------------------------------------


@workload(
    "stats_hodges_lehmann",
    oracle="""
WITH assign AS (
  SELECT event_type,
         ('0x'||substring(md5('ab-' || CAST(user_id AS VARCHAR)),1,15))
           ::BIGINT % 2 AS variant,
         CAST(round(value) AS BIGINT) AS dollar
  FROM events
),
ga AS (
  SELECT event_type, dollar, CAST(count(*) AS BIGINT) AS cnt
  FROM assign WHERE variant = 1 GROUP BY 1, 2
),
gb AS (
  SELECT event_type, dollar, CAST(count(*) AS BIGINT) AS cnt
  FROM assign WHERE variant = 0 GROUP BY 1, 2
),
pairs AS (
  -- pair weights are products of bin counts; their total is
  -- n_a·n_b, which outgrows BIGINT at warehouse scale — keep the
  -- lattice arithmetic in HUGEINT (DuckDB's native sum width;
  -- the Spark side mirrors with DECIMAL(38,0))
  SELECT ga.event_type, ga.dollar - gb.dollar AS diff,
         sum(CAST(ga.cnt AS HUGEINT) * gb.cnt) AS w
  FROM ga JOIN gb ON ga.event_type = gb.event_type
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, diff, w,
         sum(w) OVER (PARTITION BY event_type ORDER BY diff
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY event_type) AS tw
  FROM pairs
),
hl AS (
  SELECT event_type, CAST(min(diff) AS BIGINT) AS hl_shift
  FROM cum WHERE 2 * cw >= tw GROUP BY event_type
),
moments AS (
  SELECT event_type,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_b,
         CAST(sum(CASE WHEN variant = 1 THEN dollar ELSE 0 END) AS BIGINT)
             AS s_a,
         CAST(sum(CASE WHEN variant = 0 THEN dollar ELSE 0 END) AS BIGINT)
             AS s_b
  FROM assign GROUP BY event_type
)
SELECT m.event_type, m.n_a, m.n_b, hl.hl_shift,
       ROUND(s_a * 1.0 / n_a - s_b * 1.0 / n_b, 4) + 0.0 AS mean_shift
FROM moments m JOIN hl ON hl.event_type = m.event_type
ORDER BY m.event_type
""",
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Hodges-Lehmann shift estimator per event type — the
    POINT-ESTIMATE companion of the Mann-Whitney U test (which only
    answers "is there a shift?"): HL = median of all pairwise
    differences (treatment value − control value), robust to the
    heavy right tail that drags the plain mean difference around.
    Values bin to integer dollars first, so the pair distribution
    collapses onto the |dollar grid|² lattice — the same
    collapsed-grid trick as weighted_median_price_brand.

    Determinism: pure integer arithmetic end to end — pair weights
    are products of BIGINT bin counts, the estimator is the smallest
    diff whose doubled cumulative weight reaches the total (the
    lower weighted median, a selection, not an accumulation); the
    only doubles are the display-side mean shift.

    Scale: two map-side bin groupBys over the corpus, then the
    pair lattice is |bins_a| x |bins_b| per type — bounded by the
    (fixed) value range, NOT by corpus size, so the plan is
    constant-cost at 100 TB where the naive all-pairs median is
    O(n²). The lattice join is per-type equi-join on broadcast-sized
    frames."""
    ev = t(spark, sf_dir, "events")
    assign = ev.select(
        "event_type",
        F.expr(
            "cast(conv(substring(md5(concat('ab-',"
            " cast(user_id as string))),1,15),16,10) as bigint) % 2"
        ).alias("variant"),
        F.round("value").cast("bigint").alias("dollar"),
    )
    ga = (
        assign.filter(F.col("variant") == 1)
        .groupBy("event_type", "dollar")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    gb = (
        assign.filter(F.col("variant") == 0)
        .groupBy("event_type", "dollar")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pairs = (
        ga.alias("a")
        .join(gb.alias("b"), "event_type")
        .groupBy(
            "event_type",
            (F.col("a.dollar") - F.col("b.dollar")).alias("diff"),
        )
        # DECIMAL(38,0) keeps the pair-count lattice exact past the
        # BIGINT ceiling (total weight = n_a·n_b pairs per type)
        .agg(F.sum(F.col("a.cnt").cast("decimal(38,0)") * F.col("b.cnt"))
             .alias("w"))
    )
    wc = Window.partitionBy("event_type").orderBy("diff").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("event_type")
    cum = pairs.select(
        "event_type", "diff",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    hl = (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("event_type")
        .agg(F.min("diff").cast("bigint").alias("hl_shift"))
    )
    moments = assign.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("dollar")).otherwise(0))
        .cast("bigint").alias("s_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("dollar")).otherwise(0))
        .cast("bigint").alias("s_b"),
    )
    return (
        moments.join(hl, "event_type")
        .select(
            "event_type", "n_a", "n_b", "hl_shift",
            (
                F.round(
                    F.col("s_a") * 1.0 / F.col("n_a")
                    - F.col("s_b") * 1.0 / F.col("n_b"),
                    4,
                ) + 0.0
            ).alias("mean_shift"),
        )
        .orderBy("event_type")
    )
