"""Model-evaluation metrics over corpus-scale data (beyond-reference,
SURVEY.md §7 Phase 4): the eval half of the train-once /
score-everywhere loop. `operators/logreg.py` trains the quality
model and `workloads/scoring.py` freezes it for inference; this
module measures that frozen model (ranking AUC, calibration) and
evaluates the embedding space against its labels (nearest-centroid
confusion + per-class precision/recall/F1).

Scale shapes:

- AUC here is the EXACT Mann-Whitney rank form — one global sort of
  the scored rows (fine up to ~billions with Spark's range-partition
  sort, and the oracle-parity point of this workload). At 100 TB the
  standard swap is histogram AUC: bucket scores into B fixed bins,
  one combiner agg, trapezoid over the B-row cumulative curve — same
  number to ~1/B precision with no global sort.
- Calibration is a map-side bin assignment + one combiner agg.
- Nearest-centroid eval is the kmeans assignment shape: per-label
  centroids are k×dim driver scalars (collected once, entering the
  plan as literals = broadcast state), assignment is a map-only
  argmin, the confusion matrix is a |labels|²-row aggregate.

Determinism (cross-engine hash parity):
- ranking uses the LINEAR logit, not the sigmoid — AUC is invariant
  under monotone transforms, and the logit is a 3-term fixed-order
  fp expression both engines compute bit-identically (no libm);
- rank ties break on doc_id on both sides;
- centroid components are rounded to 6 dp before re-entering
  distance math (same drift absorber as kmeans_lloyd_embeddings);
- all ratio outputs are exact-integer divisions rounded at 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.operators.minhash import TOKS_PATTERN as _TOKS_RE
from datanika_core_spark.workloads import t, workload
from datanika_core_spark.workloads.scoring import (
    _F_LEN_DUCK,
    _F_STOP_DUCK,
    _LR_W0,
    _LR_W_LEN,
    _LR_W_STOP,
    quality_features,
)
from datanika_core_spark.workloads.similarity import (
    _DIM,
    _O_SQD,
    _O_VECTORS,
    _S_SQD,
    _vectors,
)

# -- shared: features, weak label, frozen-model logit -----------------------
# Identical to the rule the logreg trainer was fit against
# (tests/test_logreg.py::labeled): y = [f_len + 2*f_stop - f_digits > 1].

_F_DIGITS_DUCK = "strlen(regexp_replace(text, '[^0-9]', '', 'g')) / 10.0"

_O_FEATS = f"""
  SELECT doc_id,
         {_F_LEN_DUCK} AS f_len,
         {_F_STOP_DUCK} AS f_stop,
         {_F_DIGITS_DUCK} AS f_digits
  FROM documents
"""

_O_LABELED = f"""
  SELECT doc_id,
         {_LR_W0} + {_LR_W_LEN} * f_len + {_LR_W_STOP} * f_stop AS z,
         CASE WHEN f_len + 2 * f_stop - f_digits > 1.0
              THEN 1 ELSE 0 END AS y
  FROM ({_O_FEATS})
"""


def _labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, z, y): frozen-model logit + the weak training label,
    computed with the same fixed-order fp ops as the oracle."""
    docs = t(spark, sf_dir, "documents")
    feats = quality_features(docs, "doc_id")
    return feats.select(
        "doc_id",
        (
            F.lit(_LR_W0)
            + F.lit(_LR_W_LEN) * F.col("f_len")
            + F.lit(_LR_W_STOP) * F.col("f_stop")
        ).alias("z"),
        (
            F.col("f_len") + 2 * F.col("f_stop") - F.col("f_digits")
            > F.lit(1.0)
        )
        .cast("int")
        .alias("y"),
    )


# --------------------------------------------------------------------------
# Ranking AUC of the frozen quality model (exact Mann-Whitney).
# --------------------------------------------------------------------------


@workload(
    "eval_auc_quality_model",
    oracle=f"""
WITH labeled AS ({_O_LABELED}),
ranked AS (
  SELECT y,
         row_number() OVER (ORDER BY z, doc_id) AS r
  FROM labeled
)
SELECT CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(1 - y) AS BIGINT) AS n_neg,
       ROUND(
         (sum(CASE WHEN y = 1 THEN r ELSE 0 END)
           - sum(y) * (sum(y) + 1) / 2) * 1.0
         / (sum(y) * sum(1 - y)), 6) AS auc
FROM ranked
""",
)
def eval_auc_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the engine-trained quality model against the
    weak label it was fit on, via the Mann-Whitney rank identity
    AUC = (Σ rank⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻). Ranks come from the
    LINEAR logit (AUC is monotone-invariant, so no libm sigmoid can
    drift a rank) with a doc_id tiebreak.

    Scale: the only global structure is one distributed rank
    (operators/ranking.global_row_number — frozen quantile buckets +
    per-bucket windows, never a single-partition sort). At 100 TB
    swap in histogram AUC (B fixed score bins + trapezoid, one
    combiner agg); the exact rank form here is the ground truth that
    variant is checked against. Everything after is integer
    arithmetic."""
    from datanika_core_spark.operators.ranking import global_row_number

    labeled = _labeled(spark, sf_dir)
    ranked = global_row_number(
        labeled, ["z", "doc_id"], "r"
    ).select("y", "r")
    n_pos = F.sum("y")
    n_neg = F.sum(1 - F.col("y"))
    rank_pos = F.sum(F.when(F.col("y") == 1, F.col("r")).otherwise(0))
    return ranked.agg(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        F.round(
            (rank_pos - n_pos * (n_pos + 1) / 2)
            * F.lit(1.0)
            / (n_pos * n_neg),
            6,
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# Calibration (reliability diagram) of the frozen quality model.
# --------------------------------------------------------------------------


@workload(
    "eval_calibration_quality_model",
    oracle=f"""
WITH labeled AS ({_O_LABELED}),
probed AS (
  SELECT y, 1.0 / (1.0 + exp(-z)) AS proba FROM labeled
),
binned AS (
  SELECT least(CAST(floor(proba * 10) AS BIGINT), 9) AS bin, y, proba
  FROM probed
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(avg(proba), 4) AS mean_proba,
       ROUND(sum(y) * 1.0 / count(*), 4) AS pos_rate,
       ROUND(ROUND(avg(proba), 4) - ROUND(sum(y) * 1.0 / count(*), 4), 4)
         AS gap
FROM binned
GROUP BY bin
ORDER BY bin
""",
)
def eval_calibration_quality_model(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram of the frozen quality model: decile bins
    of predicted probability vs observed positive rate; `gap` is the
    per-bin calibration error (the bars an ECE sums |·| over,
    computed from the already-rounded pair so cross-engine float
    drift can't leak into the difference).

    Scale: map-side sigmoid + bin assignment, ONE combiner agg over
    10 groups — the cheapest possible eval pass, run-anywhere."""
    labeled = _labeled(spark, sf_dir)
    probed = labeled.select(
        "y", (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("proba")
    )
    binned = probed.select(
        F.least(F.floor(F.col("proba") * 10).cast("bigint"), F.lit(9))
        .alias("bin"),
        "y",
        "proba",
    )
    mean_proba = F.round(F.avg("proba"), 4)
    pos_rate = F.round(F.sum("y") * F.lit(1.0) / F.count(F.lit(1)), 4)
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            mean_proba.alias("mean_proba"),
            pos_rate.alias("pos_rate"),
            F.round(mean_proba - pos_rate, 4).alias("gap"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Nearest-centroid classification of the embedding space vs labels.
# --------------------------------------------------------------------------

_NC_ROUND = 6


def _nc_centroids(spark: SparkSession, sf_dir: str) -> dict[int, list[float]]:
    """Per-label mean vectors, rounded to 6 dp — k×dim driver
    scalars (the broadcast-state pattern; data never leaves the
    executors, same as kmeans_lloyd_embeddings' recompute)."""
    rows = (
        _vectors(spark, sf_dir)
        .select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), _NC_ROUND).alias("m"))
        .collect()  # bound: |labels| x dim rows
    )
    cents: dict[int, dict[int, float]] = {}
    for r in rows:
        cents.setdefault(r.label, {})[r.pos] = r.m
    return {
        lbl: [by_pos[i] for i in range(len(by_pos))]
        for lbl, by_pos in cents.items()
    }


def _nc_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, pred): map-only argmin over literal per-label
    centroids, ties broken by label id — mirrors the oracle CTE
    operation-for-operation."""
    cents = _nc_centroids(spark, sf_dir)
    dist_cols = F.array(*[
        F.struct(
            F.expr(_S_SQD.format(
                a="v",
                b=f"array({', '.join(repr(x) + 'd' for x in cvec)})",
            )).alias("dist"),
            F.lit(lbl).cast("int").alias("plbl"),
        )
        for lbl, cvec in sorted(cents.items())
    ])
    return _vectors(spark, sf_dir).select(
        "vec_id", "label", F.array_min(dist_cols)["plbl"].alias("pred")
    )


_O_NC_ASSIGN = f"""
  SELECT vec_id, label, pred FROM (
    SELECT e.vec_id, e.label, c.label AS pred,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_O_SQD.format(a='e.v', b='c.cvec', n=_DIM)}, c.label
           ) AS rn
    FROM vecs e CROSS JOIN cents c
  ) WHERE rn = 1
"""

_O_NC_PRELUDE = f"""
WITH vecs AS ({_O_VECTORS}),
cents AS (
  SELECT label, list(m ORDER BY pos) AS cvec FROM (
    SELECT label, pos, round(avg(x), {_NC_ROUND}) AS m
    FROM (SELECT label, unnest(v) AS x,
                 generate_subscripts(v, 1) AS pos FROM vecs)
    GROUP BY label, pos
  ) GROUP BY label
),
assigned AS ({_O_NC_ASSIGN})
"""


@workload(
    "eval_centroid_confusion",
    oracle=f"""
{_O_NC_PRELUDE}
SELECT label, pred, CAST(count(*) AS BIGINT) AS n
FROM assigned
GROUP BY label, pred
ORDER BY label, pred
""",
)
def eval_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of a nearest-centroid classifier over the
    embedding space: per-label mean vectors (Rocchio prototypes) as
    the model, map-only argmin assignment, |labels|² count rollup —
    the quickest label-quality / cluster-separability probe a
    training pipeline runs before spending GPU time.

    Scale: centroids are k×dim driver scalars entering the plan as
    literals (broadcast state); the corpus is scanned once, never
    shuffled; the confusion rollup aggregates ≤ k² rows."""
    return (
        _nc_assign(spark, sf_dir)
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("label", "pred")
    )


@workload(
    "eval_centroid_class_metrics",
    oracle=f"""
{_O_NC_PRELUDE},
per_true AS (SELECT label, count(*) AS n_true FROM assigned GROUP BY label),
per_pred AS (SELECT pred, count(*) AS n_pred FROM assigned GROUP BY pred),
tp AS (
  SELECT label, count(*) AS n_tp FROM assigned
  WHERE label = pred GROUP BY label
),
m AS (
  SELECT t.label,
         CAST(t.n_true AS BIGINT) AS n_true,
         CAST(coalesce(p.n_pred, 0) AS BIGINT) AS n_pred,
         CAST(coalesce(x.n_tp, 0) AS BIGINT) AS tp,
         CASE WHEN coalesce(p.n_pred, 0) = 0 THEN 0.0
              ELSE coalesce(x.n_tp, 0) * 1.0 / p.n_pred END AS prec,
         coalesce(x.n_tp, 0) * 1.0 / t.n_true AS rec
  FROM per_true t
  LEFT JOIN per_pred p ON p.pred = t.label
  LEFT JOIN tp x ON x.label = t.label
)
SELECT label, n_true, n_pred, tp,
       ROUND(prec, 6) AS precision,
       ROUND(rec, 6) AS recall,
       ROUND(CASE WHEN prec + rec = 0 THEN 0.0
                  ELSE 2 * prec * rec / (prec + rec) END, 6) AS f1
FROM m
ORDER BY label
""",
)
def eval_centroid_class_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-class precision / recall / F1 of the nearest-centroid
    classifier (macro-F1 = mean of the f1 column) — the metrics
    table behind the confusion matrix above.

    Scale: three ≤k-row aggregates off the same map-only assignment,
    joined driver-trivially (Catalyst broadcasts all of them). All
    ratios are exact-integer divisions; f1 composes the two divided
    doubles with identical IEEE ops on both engines."""
    # cache: the three marginal aggregates below all branch off this
    # map-only scan; uncached, each branch re-runs the argmin over the
    # whole embeddings table
    assigned = _nc_assign(spark, sf_dir).cache()
    per_true = assigned.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_true")
    )
    per_pred = assigned.groupBy(F.col("pred").alias("plbl")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    tp = (
        assigned.filter(F.col("label") == F.col("pred"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_tp"))
    )
    m = (
        per_true.join(
            F.broadcast(per_pred),  # bound: <= |label| rows
            per_true.label == per_pred.plbl,
            "left",
        )
        # bound: <= |label| rows
        .join(F.broadcast(tp.withColumnRenamed("label", "tlbl")),
              per_true.label == F.col("tlbl"), "left")
        .select(
            "label",
            F.col("n_true").cast("bigint").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("n_tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    prec = F.when(F.col("n_pred") == 0, F.lit(0.0)).otherwise(
        F.col("tp") * F.lit(1.0) / F.col("n_pred")
    )
    rec = F.col("tp") * F.lit(1.0) / F.col("n_true")
    m2 = m.select(
        "label", "n_true", "n_pred", "tp",
        prec.alias("prec"), rec.alias("rec"),
    )
    return m2.select(
        "label", "n_true", "n_pred", "tp",
        F.round("prec", 6).alias("precision"),
        F.round("rec", 6).alias("recall"),
        F.round(
            F.when(F.col("prec") + F.col("rec") == 0, F.lit(0.0)).otherwise(
                2 * F.col("prec") * F.col("rec")
                / (F.col("prec") + F.col("rec"))
            ),
            6,
        ).alias("f1"),
    ).orderBy("label")


# --------------------------------------------------------------------------
# Histogram AUC — the no-global-sort variant, with measured error.
# --------------------------------------------------------------------------

_HB = 64  # fixed score bins


@workload(
    "eval_auc_histogram",
    oracle=f"""
WITH labeled AS ({_O_LABELED}),
bounds AS (SELECT min(z) AS lo, max(z) AS hi FROM labeled),
binned AS (
  SELECT least(CAST(floor((z - b.lo) * {_HB} / (b.hi - b.lo)) AS BIGINT),
               {_HB - 1}) AS bin,
         y
  FROM labeled CROSS JOIN bounds b
),
hist AS (
  SELECT bin,
         sum(y) AS pos,
         sum(1 - y) AS neg
  FROM binned GROUP BY bin
),
cum AS (
  SELECT pos, neg,
         coalesce(sum(neg) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cumneg
  FROM hist
),
h AS (
  SELECT sum(pos * (cumneg + neg / 2.0)) / (sum(pos) * sum(neg))
           AS auc_hist
  FROM cum
),
ranked AS (
  SELECT y, row_number() OVER (ORDER BY z, doc_id) AS r FROM labeled
),
x AS (
  SELECT (sum(CASE WHEN y = 1 THEN r ELSE 0 END)
           - sum(y) * (sum(y) + 1) / 2) * 1.0
         / (sum(y) * sum(1 - y)) AS auc_exact
  FROM ranked
)
SELECT CAST({_HB} AS BIGINT) AS n_bins,
       ROUND(h.auc_hist, 6) AS auc_hist,
       ROUND(x.auc_exact, 6) AS auc_exact,
       ROUND(abs(h.auc_hist - x.auc_exact), 6) AS abs_err
FROM h CROSS JOIN x
""",
)
def eval_auc_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram AUC — the 100 TB form of the ROC area: bucket the
    scores into {n} fixed bins (ONE combiner aggregation, no global
    sort), then the tie-corrected rank identity over the bin
    cumulative curve: AUC ≈ Σ_b pos_b·(cumneg_<b + neg_b/2) / (P·N).
    The same row also carries the EXACT Mann-Whitney AUC and the
    absolute approximation error, so the bin-count knob is
    self-measuring (same pattern as the HLL / quantile-sketch and
    LSH-recall evaluations: every approximation ships with its
    measured error).

    Scale: bounds are one min/max agg; the histogram is a {n}-group
    combiner agg; the cumulative step runs over {n} rows on the
    driver-side partition. The exact branch (global sort) exists
    here only to measure the approximation — drop it at scale.
    Arithmetic is integer counts and dyadic halves → bit-identical
    across engines before the 6-dp rounding.""".replace("{n}", str(_HB))
    labeled = _labeled(spark, sf_dir)
    # bound: one aggregate row
    lo, hi = labeled.agg(F.min("z"), F.max("z")).first()
    binned = labeled.select(
        F.least(
            F.floor((F.col("z") - F.lit(lo)) * _HB / F.lit(hi - lo))
            .cast("bigint"),
            F.lit(_HB - 1),
        ).alias("bin"),
        "y",
    )
    hist = binned.groupBy("bin").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg")
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "pos", "neg",
        F.coalesce(F.sum("neg").over(wcum), F.lit(0)).alias("cumneg"),
    )
    h = cum.agg(
        (
            F.sum(F.col("pos") * (F.col("cumneg") + F.col("neg") / 2.0))
            / (F.sum("pos") * F.sum("neg"))
        ).alias("auc_hist")
    )
    from datanika_core_spark.operators.ranking import global_row_number

    ranked = global_row_number(
        labeled, ["z", "doc_id"], "r"
    ).select("y", "r")
    n_pos = F.sum("y")
    x = ranked.agg(
        (
            (
                F.sum(F.when(F.col("y") == 1, F.col("r")).otherwise(0))
                - n_pos * (n_pos + 1) / 2
            )
            * F.lit(1.0)
            / (n_pos * F.sum(1 - F.col("y")))
        ).alias("auc_exact")
    )
    return h.crossJoin(x).select(
        F.lit(_HB).cast("bigint").alias("n_bins"),
        F.round("auc_hist", 6).alias("auc_hist"),
        F.round("auc_exact", 6).alias("auc_exact"),
        F.round(F.abs(F.col("auc_hist") - F.col("auc_exact")), 6)
        .alias("abs_err"),
    )


# --------------------------------------------------------------------------
# Inter-rater agreement: Cohen's kappa between the two quality models.
# --------------------------------------------------------------------------


@workload(
    "eval_cohens_kappa_raters",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
rated AS (
  SELECT
    CASE WHEN list_sum(list_transform(toks,
           x -> (('0x'||substring(md5('qw:' || x),1,15))::BIGINT
                 % 2001 - 1000) / 1000.0)) >= 0
         THEN 1 ELSE 0 END AS keep_h,
    CASE WHEN {_LR_W0} + {_LR_W_LEN} * ({_F_LEN_DUCK})
              + {_LR_W_STOP} * ({_F_STOP_DUCK}) > 0
         THEN 1 ELSE 0 END AS keep_t
  FROM tok WHERE len(toks) > 0
),
cells AS (
  SELECT count(*) AS n,
         sum(keep_h * keep_t) AS n11,
         sum(keep_h * (1 - keep_t)) AS n10,
         sum((1 - keep_h) * keep_t) AS n01,
         sum((1 - keep_h) * (1 - keep_t)) AS n00
  FROM rated
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
       CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
       ROUND((n11 + n00) * 1.0 / n, 6) AS po,
       ROUND(((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10))
             * 1.0 / (n * n), 6) AS pe,
       ROUND(CASE WHEN (n11 + n10) * (n11 + n01)
                       + (n00 + n01) * (n00 + n10) = n * n
                  THEN 1.0
                  ELSE ((n11 + n00) * 1.0 / n
                        - ((n11 + n10) * (n11 + n01)
                           + (n00 + n01) * (n00 + n10)) * 1.0 / (n * n))
                       / (1 - ((n11 + n10) * (n11 + n01)
                               + (n00 + n01) * (n00 + n10))
                              * 1.0 / (n * n))
             END, 6) AS kappa
FROM cells
""",
)
def eval_cohens_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the engine's two quality raters — the
    hash-weight classifier (quality_classifier_hashed) and the
    GD-trained frozen model (quality_classifier_trained) — the
    standard chance-corrected agreement statistic for deciding
    whether two labelers measure the same thing (kappa near 0 =
    agreement is what marginals alone predict; the two models here
    score DIFFERENT signals — token-hash noise vs length/stopword
    structure — so kappa quantifies how much quality signal they
    actually share). In an LLM-data pipeline this is the routine
    check before swapping one quality filter for another, or before
    ensembling annotator models: po alone overstates agreement
    whenever the keep rates are imbalanced.

    Determinism: both raters reduce to SIGN tests, no libm — the
    hashed rater's sigmoid(mean w) >= 0.5 is exactly
    sum(w) >= 0 (the per-doc weight fold is an ordered array
    reduction, bit-identical in both engines), and the trained
    rater's proba > 0.5 is exactly logit z > 0 (3-term fixed-order
    fp). The kappa arithmetic runs on exact BIGINT confusion
    counts; only the final three ratios are doubles, rounded 6 dp.

    Scale: ONE map-only scan (both raters are scan-stage
    expressions over the same row — no join between the two
    scorings) into a single 5-counter combiner aggregate. The
    confusion cells double as the drill-down: n10/n01 are the
    disagreement queues a labeling review would sample."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.split(F.lower(F.trim(F.col("text"))), _TOKS_RE).alias("toks"),
    ).filter(F.size("toks") > 0)
    fold = (
        "aggregate(transform(toks, x -> "
        "(cast(conv(substring(md5(concat('qw:', x)),1,15),16,10) as bigint)"
        " % 2001 - 1000) / 1000.0), cast(0 as double), (a, v) -> a + v)"
    )
    hk = tok.select(
        "doc_id", "text",
        F.when(F.expr(fold) >= 0, 1).otherwise(0).alias("keep_h"),
    )
    feats = quality_features(hk, "doc_id", "keep_h")
    rated = feats.select(
        "keep_h",
        F.when(
            F.lit(_LR_W0)
            + F.lit(_LR_W_LEN) * F.col("f_len")
            + F.lit(_LR_W_STOP) * F.col("f_stop")
            > 0,
            1,
        ).otherwise(0).alias("keep_t"),
    )
    cells = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep_h") * F.col("keep_t")).alias("n11"),
        F.sum(F.col("keep_h") * (1 - F.col("keep_t"))).alias("n10"),
        F.sum((1 - F.col("keep_h")) * F.col("keep_t")).alias("n01"),
        F.sum((1 - F.col("keep_h")) * (1 - F.col("keep_t"))).alias("n00"),
    )
    a1 = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
    a0 = (F.col("n00") + F.col("n01")) * (F.col("n00") + F.col("n10"))
    po = (F.col("n11") + F.col("n00")) * 1.0 / F.col("n")
    pe = (a1 + a0) * 1.0 / (F.col("n") * F.col("n"))
    return cells.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("n11").cast("bigint").alias("n11"),
        F.col("n10").cast("bigint").alias("n10"),
        F.col("n01").cast("bigint").alias("n01"),
        F.col("n00").cast("bigint").alias("n00"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(
            F.when(a1 + a0 == F.col("n") * F.col("n"), F.lit(1.0))
            .otherwise((po - pe) / (1 - pe)),
            6,
        ).alias("kappa"),
    )


# --------------------------------------------------------------------------
# Two-period Kolmogorov-Smirnov drift test — the distribution-level
# companion to the binned PSI readout: PSI quantifies drift in fixed
# bins, KS finds the worst-case CDF gap at ANY threshold.
# --------------------------------------------------------------------------

_KS_CRIT_05 = 1.358  # c(alpha) for alpha = 0.05, two-sample KS


@workload(
    "drift_ks_two_period",
    oracle=f"""
WITH ev AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
span AS (
  SELECT (min(d) + max(d) + 1) // 2 AS mid FROM ev
),
tagged AS (
  SELECT event_type, c,
         CASE WHEN d < (SELECT mid FROM span) THEN 0 ELSE 1 END AS p
  FROM ev
),
by_val AS (
  SELECT event_type, c,
         CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM tagged GROUP BY event_type, c
),
cum AS (
  SELECT event_type,
         CAST(sum(na) OVER w AS BIGINT) AS cuma,
         CAST(sum(nb) OVER w AS BIGINT) AS cumb
  FROM by_val
  WINDOW w AS (PARTITION BY event_type ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
  SELECT event_type,
         CAST(sum(na) AS BIGINT) AS nat,
         CAST(sum(nb) AS BIGINT) AS nbt
  FROM by_val GROUP BY event_type
),
ks AS (
  SELECT c.event_type,
         CAST(max(abs(c.cuma * t.nbt - c.cumb * t.nat)) AS BIGINT)
           AS ks_num
  FROM cum c JOIN tot t ON t.event_type = c.event_type
  GROUP BY c.event_type
)
SELECT t.event_type, t.nat AS n_a, t.nbt AS n_b,
       ROUND(k.ks_num * 1.0 / (t.nat * t.nbt), 6) AS ks_stat,
       ROUND({_KS_CRIT_05!r} * sqrt((t.nat + t.nbt) * 1.0
             / (t.nat * t.nbt)), 6) AS crit_05,
       k.ks_num * 1.0 / (t.nat * t.nbt)
         > {_KS_CRIT_05!r} * sqrt((t.nat + t.nbt) * 1.0
             / (t.nat * t.nbt)) AS drifted
FROM ks k JOIN tot t ON t.event_type = k.event_type
ORDER BY t.event_type
""",
)
def drift_ks_two_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per event type
    (Kolmogorov 1933, Smirnov 1948): the window is split at the
    midpoint DAY of the table's span, and the statistic is the
    worst-case gap between the two halves' value ECDFs — drift at
    ANY threshold, where the binned PSI readout only sees its ten
    fixed bins. Compared against the large-sample alpha=0.05
    critical value c·sqrt((n_a+n_b)/(n_a·n_b)); the boolean verdict
    is the monitoring hook.

    Integer-exactness: values are BIGINT cents, the split day is an
    integer midpoint, and the KS numerator max|cumA·n_b − cumB·n_a|
    is pure BIGINT — both engines divide the identical integers at
    the very end, so ECDF ties and step placement can never diverge.

    Scale: one combiner groupBy to |types|x|distinct cents| rows,
    one windowed prefix sum over that (partitioned per type), one
    max — the same two-phase shape as the CUSUM and SPRT walks. The
    span probe (min/max day) is a metadata-cheap scalar scan."""
    return _ks_report(_ks_grid(t(spark, sf_dir, "events")))


def _ks_grid(events: DataFrame, mid_day: int | None = None) -> DataFrame:
    """(event_type, c, na, nb): per type and value in cents, the
    counts before (na) and from (nb) epoch day ``mid_day`` — by
    default the midpoint day of the frame's own span. With a fixed
    ``mid_day`` the grid adds across any split of the rows, so the
    streaming twin (streaming/audit.py) folds it per micro-batch."""
    ev = events.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    if mid_day is None:
        ev = ev.crossJoin(
            ev.agg(F.expr("(min(d) + max(d) + 1) div 2").alias("mid"))
        )
        mid = F.col("mid")
    else:
        mid = F.lit(mid_day)
    tagged = ev.select(
        "event_type", "c",
        F.when(F.col("d") < mid, 0).otherwise(1).alias("p"),
    )
    return tagged.groupBy("event_type", "c").agg(
        F.sum(F.when(F.col("p") == 0, 1).otherwise(0))
        .cast("bigint").alias("na"),
        F.sum(F.when(F.col("p") == 1, 1).otherwise(0))
        .cast("bigint").alias("nb"),
    )


def _ks_report(by_val: DataFrame) -> DataFrame:
    """The drift readout from an (event_type, c, na, nb) grid —
    shared by the batch workload and the streaming twin."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = by_val.select(
        "event_type",
        F.sum("na").over(w).cast("bigint").alias("cuma"),
        F.sum("nb").over(w).cast("bigint").alias("cumb"),
    )
    tot = by_val.groupBy("event_type").agg(
        F.sum("na").cast("bigint").alias("nat"),
        F.sum("nb").cast("bigint").alias("nbt"),
    )
    ks = (
        cum.join(F.broadcast(tot), "event_type")  # bound: <= |event_type| rows
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(
                    F.col("cuma") * F.col("nbt")
                    - F.col("cumb") * F.col("nat")
                )
            ).cast("bigint").alias("ks_num")
        )
    )
    stat = F.col("ks_num") * 1.0 / (F.col("nat") * F.col("nbt"))
    crit = F.lit(_KS_CRIT_05) * F.sqrt(
        (F.col("nat") + F.col("nbt")) * 1.0
        / (F.col("nat") * F.col("nbt"))
    )
    return (
        ks.join(tot, "event_type")
        .select(
            "event_type",
            F.col("nat").alias("n_a"),
            F.col("nbt").alias("n_b"),
            F.round(stat, 6).alias("ks_stat"),
            F.round(crit, 6).alias("crit_05"),
            (stat > crit).alias("drifted"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Isotonic calibration (PAV) of the frozen quality model, per language.
# --------------------------------------------------------------------------


@workload(
    "calibration_isotonic_pav",
    # The minimax characterization of isotonic regression
    # (Barlow et al. 1972): fit(i) = max_{j<=i} min_{k>=i} avg(y over
    # bins j..k) — pure selection over exact BIGINT-ratio averages,
    # so no PAV merge loop (and no sequential replay) is needed on
    # either side. Every average is (Δs)·1.0/(Δn) of prefix sums with
    # identical parenthesization — bit-identical doubles — and min/
    # max over bit-identical doubles is engine-independent.
    oracle=f"""
WITH labeled AS (
  SELECT lang,
         {_LR_W0} + {_LR_W_LEN} * ({_F_LEN_DUCK})
           + {_LR_W_STOP} * ({_F_STOP_DUCK}) AS z,
         CASE WHEN ({_F_LEN_DUCK}) + 2 * ({_F_STOP_DUCK})
                   - ({_F_DIGITS_DUCK}) > 1.0
              THEN 1 ELSE 0 END AS y
  FROM documents
),
grid AS (
  SELECT lang, CAST(floor(z * 10) AS BIGINT) AS zbin,
         count(*) AS n, sum(y) AS s
  FROM labeled GROUP BY 1, 2
),
idx AS (
  SELECT lang, zbin, n, s,
         row_number() OVER (PARTITION BY lang ORDER BY zbin) AS i,
         sum(n) OVER (PARTITION BY lang ORDER BY zbin) AS cp,
         sum(s) OVER (PARTITION BY lang ORDER BY zbin) AS sp
  FROM grid
),
pairs AS (
  SELECT a.lang AS lang, a.i AS j, b.i AS k,
         (b.sp - (a.sp - a.s)) * 1.0
           / (b.cp - (a.cp - a.n)) AS avgjk
  FROM idx a JOIN idx b ON b.lang = a.lang AND b.i >= a.i
),
minrev AS (
  SELECT lang, j, k,
         min(avgjk) OVER (PARTITION BY lang, j ORDER BY k DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS m
  FROM pairs
),
fit AS (
  SELECT lang, k AS i, max(m) AS iso
  FROM minrev GROUP BY lang, k
)
SELECT x.lang AS lang,
       CAST(x.i AS BIGINT) AS bin_idx,
       ROUND(x.zbin / 10.0, 1) AS z_lo,
       CAST(x.n AS BIGINT) AS n,
       ROUND(x.s * 1.0 / x.n, 6) AS raw_rate,
       ROUND(f.iso, 6) AS iso_rate
FROM idx x JOIN fit f ON f.lang = x.lang AND f.i = x.i
ORDER BY lang, bin_idx
""",
)
def calibration_isotonic_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the frozen
    quality model per language: bin the linear logit to a 0.1-wide
    score grid, then fit the isotonic regression of the weak label
    rate by the minimax identity fit(i) = max_{j<=i} min_{k>=i}
    avg(j..k) — the closed form whose output equals
    pool-adjacent-violators without PAV's sequential merge loop.
    Emits the reliability curve (raw per-bin rate vs isotonic rate);
    the iso_rate column is the monotone score→probability mapping a
    serving system would look up.

    Determinism: the bin key is floor(z·10) on the bit-identical
    3-term logit (floor is exact); every pooled average is an exact
    BIGINT-ratio double with identical parenthesization; the fit is
    min/max SELECTION over those — nothing accumulates in floats.

    Scale: the corpus collapses to the (lang, score-bin) grid in one
    combiner groupBy — the ONLY row-count-proportional work. The g²
    pair expansion runs per language on grid rows (g ≈ tens), an
    equi-join on lang, so 100 TB changes the grid counts, not the
    pair count. This minimax-on-grid form is how monotone calibration
    avoids both the sequential PAV scan and any driver-side fit."""
    from pyspark.sql import Window as _W

    docs = t(spark, sf_dir, "documents")
    feats = quality_features(docs, "lang")
    labeled = feats.select(
        "lang",
        (
            F.lit(_LR_W0)
            + F.lit(_LR_W_LEN) * F.col("f_len")
            + F.lit(_LR_W_STOP) * F.col("f_stop")
        ).alias("z"),
        (
            F.col("f_len") + 2 * F.col("f_stop") - F.col("f_digits")
            > F.lit(1.0)
        )
        .cast("int")
        .alias("y"),
    )
    grid = labeled.groupBy(
        "lang", F.floor(F.col("z") * 10).cast("bigint").alias("zbin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    wl = _W.partitionBy("lang").orderBy("zbin")
    idx = grid.select(
        "lang", "zbin", "n", "s",
        F.row_number().over(wl).alias("i"),
        F.sum("n").over(wl).alias("cp"),
        F.sum("s").over(wl).alias("sp"),
    )
    a = idx.select(
        "lang", F.col("i").alias("j"),
        (F.col("sp") - F.col("s")).alias("sp0"),
        (F.col("cp") - F.col("n")).alias("cp0"),
    )
    b = idx.select(
        F.col("lang").alias("lang_b"), F.col("i").alias("k"),
        F.col("cp").alias("cpk"), F.col("sp").alias("spk"),
    )
    pairs = a.join(
        b,
        (F.col("lang") == F.col("lang_b")) & (F.col("k") >= F.col("j")),
    ).select(
        "lang", "j", "k",
        (
            (F.col("spk") - F.col("sp0")) * 1.0
            / (F.col("cpk") - F.col("cp0"))
        ).alias("avgjk"),
    )
    wrev = (
        _W.partitionBy("lang", "j")
        .orderBy(F.col("k").desc())
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    minrev = pairs.select(
        "lang", "j", "k", F.min("avgjk").over(wrev).alias("m")
    )
    fit = minrev.groupBy("lang", F.col("k").alias("i")).agg(
        F.max("m").alias("iso")
    )
    return (
        idx.join(fit, ["lang", "i"])
        .select(
            "lang",
            F.col("i").cast("bigint").alias("bin_idx"),
            F.round(F.col("zbin") / 10.0, 1).alias("z_lo"),
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("s") * 1.0 / F.col("n"), 6).alias("raw_rate"),
            F.round("iso", 6).alias("iso_rate"),
        )
        .orderBy("lang", "bin_idx")
    )


# --------------------------------------------------------------------------
# Decile lift / cumulative gains of the frozen quality model.
# --------------------------------------------------------------------------


@workload(
    "eval_decile_lift",
    oracle=f"""
WITH labeled AS ({_O_LABELED}),
deciled AS (
  SELECT y, ntile(10) OVER (ORDER BY z DESC, doc_id) AS decile
  FROM labeled
),
per AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM deciled GROUP BY decile
),
tot AS (
  SELECT sum(n) AS tn, sum(n_pos) AS tp FROM per
)
SELECT p.decile,
       p.n, p.n_pos,
       ROUND(p.n_pos * 1.0 / p.n, 6) AS resp_rate,
       ROUND((p.n_pos * 1.0 / p.n) / (t.tp * 1.0 / t.tn), 6) AS lift,
       ROUND(sum(p.n_pos) OVER (ORDER BY p.decile) * 1.0 / t.tp, 6)
         AS cum_capture
FROM per p CROSS JOIN tot t
ORDER BY p.decile
""",
)
def eval_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table of the frozen quality
    model: rank all docs by score, cut into 10 equal bins, and report
    each bin's response rate, lift over the base rate, and the
    cumulative share of positives captured — the campaign-targeting /
    data-selection readout ("the top 20% of the corpus by model score
    holds X% of the high-quality docs").

    Scale: the exact NTILE here is a global sort; at 100 TB the
    decile boundaries come from an approx-quantile sketch (ONE
    combiner pass, same pattern as eval_auc_histogram) and decile
    assignment becomes a map-only comparison against 9 broadcast
    boundaries — the table below is then identical up to boundary-tie
    placement. The lift arithmetic is a 10-row driver-sized frame
    either way. Determinism: NTILE's order has a doc_id tiebreak, so
    bin membership is a total order; counts are BIGINT."""
    labeled = _labeled(spark, sf_dir)
    from pyspark.sql import Window as _W

    from datanika_core_spark.operators.ranking import global_ntile

    deciled = global_ntile(
        labeled, [F.col("z").desc(), "doc_id"], 10, "decile",
        bucket_by=-F.col("z"),
    ).select("y", F.col("decile").cast("bigint").alias("decile"))
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("n_pos").alias("tp")
    )
    wc = _W.orderBy("decile").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    return (
        per.crossJoin(tot)
        .select(
            "decile", "n", "n_pos",
            F.round(F.col("n_pos") * 1.0 / F.col("n"), 6)
            .alias("resp_rate"),
            F.round(
                (F.col("n_pos") * 1.0 / F.col("n"))
                / (F.col("tp") * 1.0 / F.col("tn")),
                6,
            ).alias("lift"),
            F.round(
                F.sum("n_pos").over(wc) * 1.0 / F.col("tp"), 6
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# Brier score with Murphy decomposition (reliability / resolution).
# --------------------------------------------------------------------------

_BRIER_BINS = 10
_BRIER_UNIT = 100000000

#: Per-doc squared error in units; p_units is the 1e-8-snapped
#: predicted probability (exact BIGINT), y in {{0,1}}.
_BRIER_SQ = (
    f"cast(round(pow(p_units * cast(1.0 as double) / {_BRIER_UNIT} - y, 2)"
    f" * {_BRIER_UNIT}) as bigint)"
)
#: Per-bin reliability / resolution terms in units (nk, spu, sy are
#: the bin's exact integer count / prob-unit sum / positive count;
#: syt, nt the global ones).
_BRIER_REL = (
    f"cast(round(nk * pow(spu * cast(1.0 as double) / nk / {_BRIER_UNIT}"
    f" - sy * cast(1.0 as double) / nk, 2) * {_BRIER_UNIT}) as bigint)"
)
_BRIER_RES = (
    f"cast(round(nk * pow(sy * cast(1.0 as double) / nk"
    f" - syt * cast(1.0 as double) / nt, 2) * {_BRIER_UNIT}) as bigint)"
)


@workload(
    "eval_brier_decomposition",
    oracle=f"""
WITH labeled AS ({_O_LABELED}),
scored AS (
  SELECT y,
         CAST(round(1.0 / (1.0 + exp(-z)) * {_BRIER_UNIT}) AS BIGINT)
           AS p_units
  FROM labeled
),
perdoc AS (
  SELECT y, p_units,
         least(p_units * {_BRIER_BINS} // {_BRIER_UNIT},
               {_BRIER_BINS - 1}) AS bin,
         {_BRIER_SQ} AS sq_units
  FROM scored
),
bins AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS nk,
         CAST(sum(p_units) AS BIGINT) AS spu,
         CAST(sum(y) AS BIGINT) AS sy
  FROM perdoc GROUP BY bin
),
gstats AS (
  SELECT CAST(sum(nk) AS BIGINT) AS nt,
         CAST(sum(sy) AS BIGINT) AS syt,
         (SELECT CAST(sum(sq_units) AS BIGINT) FROM perdoc) AS sqt
  FROM bins
),
terms AS (
  SELECT CAST(sum({_BRIER_REL}) AS BIGINT) AS rel_u,
         CAST(sum({_BRIER_RES}) AS BIGINT) AS res_u
  FROM bins CROSS JOIN gstats
)
SELECT g.nt AS n_docs,
       ROUND(g.sqt * 1.0 / g.nt / {_BRIER_UNIT}, 6) AS brier,
       ROUND(t.rel_u * 1.0 / g.nt / {_BRIER_UNIT}, 6) AS reliability,
       ROUND(t.res_u * 1.0 / g.nt / {_BRIER_UNIT}, 6) AS resolution,
       ROUND((g.syt * 1.0 / g.nt) * (1.0 - g.syt * 1.0 / g.nt), 6)
         AS uncertainty,
       ROUND(g.sqt * 1.0 / g.nt / {_BRIER_UNIT}
             - (t.rel_u * 1.0 / g.nt / {_BRIER_UNIT}
                - t.res_u * 1.0 / g.nt / {_BRIER_UNIT}
                + (g.syt * 1.0 / g.nt) * (1.0 - g.syt * 1.0 / g.nt)),
             6) AS decomp_gap
FROM gstats g CROSS JOIN terms t
""",
)
def eval_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brier score of the frozen quality model with the MURPHY
    DECOMPOSITION: Brier ≈ reliability − resolution + uncertainty,
    where reliability (lower = better-calibrated) penalizes bins
    whose mean prediction drifts from their hit rate, resolution
    (higher = sharper) rewards bins that separate from the base
    rate, and uncertainty is the label's own variance floor. The
    decomposition residual (decomp_gap — nonzero because predictions
    vary WITHIN a bin) ships in the same row, so the {B}-bin knob is
    self-measuring (the eval_auc_histogram convention). Complements
    eval_calibration_quality_model (per-bin curve) with the
    single-number summary a model gate consumes.

    Determinism: probabilities snap to 1e-8 BIGINT units at scoring;
    per-doc squared errors and per-bin terms snap through shared
    texts; every division happens once per output figure. Scale: one
    map-only scoring pass + one {B}-row combiner histogram — the
    whole decomposition runs on {B}+1 driver-sized rows."""
    labeled = _labeled(spark, sf_dir)
    scored = labeled.select(
        "y",
        F.round(1.0 / (1.0 + F.exp(-F.col("z"))) * _BRIER_UNIT)
        .cast("bigint")
        .alias("p_units"),
    )
    perdoc = scored.select(
        "y", "p_units",
        F.least(
            F.expr(f"p_units * {_BRIER_BINS} div {_BRIER_UNIT}"),
            F.lit(_BRIER_BINS - 1).cast("bigint"),
        ).alias("bin"),
        F.expr(_BRIER_SQ).alias("sq_units"),
    )
    bins = perdoc.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        F.sum("p_units").cast("bigint").alias("spu"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    glob = (
        bins.agg(
            F.sum("nk").cast("bigint").alias("nt"),
            F.sum("sy").cast("bigint").alias("syt"),
        )
        .crossJoin(
            perdoc.agg(F.sum("sq_units").cast("bigint").alias("sqt"))
        )
    )
    terms = (
        bins.crossJoin(glob)
        .agg(
            F.sum(F.expr(_BRIER_REL)).cast("bigint").alias("rel_u"),
            F.sum(F.expr(_BRIER_RES)).cast("bigint").alias("res_u"),
        )
    )
    base = F.col("syt") * 1.0 / F.col("nt")
    brier = F.col("sqt") * 1.0 / F.col("nt") / _BRIER_UNIT
    rel = F.col("rel_u") * 1.0 / F.col("nt") / _BRIER_UNIT
    res = F.col("res_u") * 1.0 / F.col("nt") / _BRIER_UNIT
    unc = base * (1.0 - base)
    return glob.crossJoin(terms).select(
        F.col("nt").alias("n_docs"),
        F.round(brier, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(brier - (rel - res + unc), 6).alias("decomp_gap"),
    )


# --------------------------------------------------------------------------
# pass@k estimator over grouped trials (round 8).
# --------------------------------------------------------------------------

_PK_KS = (1, 2, 5, 10)


@workload(
    "eval_pass_at_k",
    oracle=f"""
WITH task AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM events GROUP BY user_id
),
ks AS (SELECT unnest(ARRAY{list(_PK_KS)}) AS k),
per_task AS (
  SELECT ks.k, task.user_id,
         1.0 - list_product(list_transform(range(ks.k),
             i -> greatest(task.n - task.c - i, 0) * 1.0 / (task.n - i)))
           AS p
  FROM task JOIN ks ON task.n >= ks.k
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_tasks,
       ROUND(sum(CAST(round(p * 100000000) AS BIGINT))
             / 100000000.0 / count(*), 6) AS pass_at_k
FROM per_task
GROUP BY k
ORDER BY k
""",
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al. 2021, HumanEval):
    for each task (= user) with n trials of which c succeeded
    (= purchase events), pass@k = 1 − C(n−c, k)/C(n, k), computed as
    the overflow-free telescoped product Π (n−c−i)/(n−i) for
    i = 0..k−1 — THE standard eval aggregate for code/reasoning
    model sampling, here exercised as a grouped-trial corpus metric.
    Tasks with n < k are excluded (the estimator is undefined);
    a term hitting 0 (n−c < k) makes pass@k exactly 1.

    Determinism: n and c are exact BIGINTs; the ≤k-term product
    folds left-to-right from identical rationals in both engines;
    per-task values snap to 1e-8 integer units before the mean so
    summation order can't flip a bit.

    Scale: one user groupBy (map-side combinable) + a k-way explode
    of the task table — linear, no shuffle beyond the groupBy."""
    ev = t(spark, sf_dir, "events")
    task = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("c"),
    )
    per_k = task.select(
        "n", "c",
        F.explode(
            F.array(*[F.lit(k).cast("bigint") for k in _PK_KS])
        ).alias("k"),
    ).filter(F.col("n") >= F.col("k"))
    p = F.lit(1.0) - F.expr(
        "aggregate(sequence(0, int(k) - 1), cast(1.0 as double),"
        " (acc, i) -> acc * greatest(n - c - i, 0L) / (n - i))"
    )
    return (
        per_k.select("k", F.round(p * 100000000).cast("bigint").alias("pu"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tasks"),
            F.round(
                F.sum("pu") / 100000000.0 / F.count(F.lit(1)), 6
            ).alias("pass_at_k"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Bradley-Terry pairwise-preference strengths (the RLHF preference-
# data fit: Bradley & Terry 1952, MM iteration per Hunter 2004).
# --------------------------------------------------------------------------

_BT_ITERS = 10


def _bt_oracle() -> str:
    chain = [
        "it0 AS MATERIALIZED (SELECT i, 1.0 / (SELECT count(*) FROM wins) AS p"
        " FROM wins)"
    ]
    for k in range(1, _BT_ITERS + 1):
        chain.append(
            f"raw{k} AS MATERIALIZED (SELECT n.i AS i,"
            f" max(w.w) / sum(n.n / (pi.p + pj.p)) AS p"
            f" FROM nij n"
            f" JOIN it{k - 1} pi ON pi.i = n.i"
            f" JOIN it{k - 1} pj ON pj.i = n.j"
            f" JOIN wins w ON w.i = n.i"
            f" GROUP BY n.i)"
        )
        chain.append(
            f"it{k} AS MATERIALIZED (SELECT i,"
            f" p / (SELECT sum(p) FROM raw{k}) AS p FROM raw{k})"
        )
    return f"""
WITH bq AS MATERIALIZED (
  SELECT l_orderkey AS ok, p_brand AS b, sum(l_quantity) AS q
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
),
wins_d AS MATERIALIZED (
  SELECT w.b AS i, l.b AS j, count(*) AS w
  FROM bq w JOIN bq l ON w.ok = l.ok AND w.q > l.q
  GROUP BY 1, 2
),
nij AS MATERIALIZED (
  SELECT i, j, sum(w) AS n FROM (
    SELECT i, j, w FROM wins_d
    UNION ALL SELECT j, i, w FROM wins_d
  ) GROUP BY 1, 2
),
wins AS MATERIALIZED (SELECT i, sum(w) AS w FROM wins_d GROUP BY 1),
{','.join(chain)}
SELECT it{_BT_ITERS}.i AS brand,
       round(it{_BT_ITERS}.p, 6) AS strength,
       CAST(wins.w AS BIGINT) AS wins,
       CAST((SELECT sum(n) FROM nij WHERE nij.i = it{_BT_ITERS}.i)
            AS BIGINT) AS comparisons
FROM it{_BT_ITERS} JOIN wins ON wins.i = it{_BT_ITERS}.i
ORDER BY brand
"""


@workload("preference_bradley_terry", oracle=_bt_oracle())
def preference_bradley_terry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bradley-Terry strength estimation from pairwise preferences —
    the fit behind RLHF preference data and ranking-from-comparisons
    pipelines. Comparisons come from the order data: within each
    order, brand i "beats" brand j when i's total quantity is
    strictly larger (ties contribute nothing), giving ~96 K
    comparisons over 25 brands at sf0.01. The MM iteration (Hunter
    2004) runs a FIXED {it} rounds from the uniform start:
    p_i <- W_i / sum_j n_ij / (p_i + p_j), renormalized to sum 1 each
    round — deterministic, so the DuckDB oracle replays it exactly as
    an unrolled CTE chain (the k-truss/Kneser-Ney precedent for
    iterative oracles).

    Scale: the comparison table aggregates to |brands|² = 600 rows
    BEFORE any iteration (one shuffle over lineitem⋈part, the only
    corpus-sized stage); wins and n_ij are cached 25/600-row frames
    and each MM round is two broadcast joins + one 25-row aggregate —
    iteration cost is independent of corpus size, exactly how a
    100 TB preference log should fit: reduce to the sufficient
    statistics (W_i, n_ij) in one pass, iterate on those."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    pt = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bq = (
        li.join(pt, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("l_orderkey").alias("ok"),
            F.col("p_brand").alias("b"),
        )
        .agg(F.sum("l_quantity").alias("q"))
    )
    return bt_strengths(spark, bq)


def bt_strengths(spark: SparkSession, bq: DataFrame) -> DataFrame:
    """The BT fit from the (ok, b, q) sufficient-input frame: derive
    directed wins / the symmetric comparison matrix, run the fixed
    {it}-round MM iteration, return (brand, strength, wins,
    comparisons). Shared VERBATIM by the batch workload and the
    streaming PreferenceStore so their parity is by construction
    (the PH-monitor convention). Fixed _BT_ITERS rounds."""
    wv = bq.select(
        F.col("ok"), F.col("b").alias("i"), F.col("q").alias("qi")
    )
    lv = bq.select(
        F.col("ok").alias("ok2"), F.col("b").alias("j"),
        F.col("q").alias("qj"),
    )
    wins_d = (
        wv.join(
            lv,
            (F.col("ok") == F.col("ok2")) & (F.col("qi") > F.col("qj")),
        )
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nij = (
        wins_d.select("i", "j", "w")
        .unionAll(
            wins_d.select(
                F.col("j").alias("i"), F.col("i").alias("j"), "w"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("w").alias("n"))
        .cache()
    )
    wins = wins_d.groupBy("i").agg(F.sum("w").alias("w")).cache()
    k = wins.count()  # materializes both cached sufficient stats
    if k == 0:
        # empty comparison set (e.g. a store before its first
        # absorb): an empty, correctly-typed readout — never a
        # divide-by-zero in the uniform start
        return spark.createDataFrame(
            [],
            "brand string, strength double, wins bigint,"
            " comparisons bigint",
        )
    p = wins.select("i", (F.lit(1.0) / k).alias("p"))
    # each round reads p TWICE (the strengths and their sum), so an
    # unbounded chain doubles the logical plan per iteration (2^10 x
    # the corpus-join subtree — measured analyzer OOM); the rolling
    # checkpoint pins each round's 25 rows and frees the previous
    from datanika_core_spark.blocks import RollingCheckpoint

    roll = RollingCheckpoint(spark)
    for _ in range(_BT_ITERS):
        raw = (
            nij.join(
                F.broadcast(p.select("i", "p")), "i"  # bound: <= |brand| rows
            )
            .join(
                F.broadcast(  # bound: <= |brand| rows
                    p.select(F.col("i").alias("j"),
                             F.col("p").alias("pj"))
                ),
                "j",
            )
            .groupBy("i")
            .agg(
                (F.lit(1.0)
                 / F.sum(F.col("n") / (F.col("p") + F.col("pj"))))
                .alias("inv_s")
            )
            .join(wins, "i")
            .select("i", (F.col("w") * F.col("inv_s")).alias("p"))
        )
        raw = roll(raw)
        tot = raw.agg(F.sum("p").alias("tot"))
        p = raw.crossJoin(tot).select(
            "i", (F.col("p") / F.col("tot")).alias("p")
        )
    comps = nij.groupBy("i").agg(F.sum("n").alias("comparisons"))
    return (
        p.join(wins, "i")
        .join(comps, "i")
        .select(
            F.col("i").alias("brand"),
            F.round("p", 6).alias("strength"),
            F.col("w").cast("bigint").alias("wins"),
            F.col("comparisons").cast("bigint").alias("comparisons"),
        )
        .orderBy("brand")
    )


preference_bradley_terry.__doc__ = (
    preference_bradley_terry.__doc__.replace("{it}", str(_BT_ITERS))
)
