"""Corpus-curation operators: near-dup canonicalization (connected
components), deterministic stratified sampling, and text
normalization — the steps that turn raw documents + near-dup pairs
into a training corpus (beyond-reference, SURVEY.md §7 Phase 4).

Scale design:
- Connected components runs min-label propagation on the NEAR-DUP
  PAIR set, which LSH keeps orders of magnitude smaller than the
  corpus (pairs ≈ dup clusters, corpus ≈ everything) — each iteration
  is one small equi-join + groupBy, and iterations are bounded by
  cluster diameter (near-dup clusters are shallow; 2-4 rounds in
  practice). For adversarial graphs use the alternating large/small-
  star algorithm (Kiveris et al., "Connected Components in MapReduce
  and Beyond", SoCC'14) — same per-round shape, O(log n) rounds.
- Sampling is a pure per-row filter on an md5-derived hash — no
  shuffle, deterministic across engines and reruns (re-running a 100
  TB sample never re-reads previously sampled rows differently).
- Normalization is regexp/char expressions only — whole-stage
  codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.blocks import RollingCheckpoint
from datanika_core_spark.workloads import t, workload
from datanika_core_spark.workloads.text_dedup import (
    O_MINHASH_PAIRS_CTES,
    _O_HASH,
    _corpus_neardup,
    _spark_hash,
    dedup_minhash_lsh,
)

# --------------------------------------------------------------------------
# Connected-components canonicalization over MinHash near-dup pairs.
# --------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Min-label propagation over an undirected edge set
    ``(doc_a, doc_b)`` → ``(doc_id, canonical_id)`` where
    canonical_id is the smallest doc_id in the component.

    Driver loop over METADATA only (one `changed` count per round);
    the data path is per-round one join + one groupBy on the edge
    set. ``localCheckpoint`` truncates lineage so the plan doesn't
    grow with iterations.
    """
    spark = edges.sparkSession
    # base holds the frames EVERY round reads (edge set, seed
    # labels); roll holds the per-round label frame and frees round
    # N-1's blocks as round N materializes — storage stays O(1) in
    # iterations instead of O(rounds) pinned block sets.
    base = RollingCheckpoint(spark)
    roll = RollingCheckpoint(spark)
    sym = base.adopt(
        edges.selectExpr("doc_a AS u", "doc_b AS v").unionByName(
            edges.selectExpr("doc_b AS u", "doc_a AS v")
        )
    )
    labels = base.adopt(
        sym.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    looped = False
    for _ in range(max_iter):
        looped = True
        neigh = (
            sym.join(labels, sym.v == labels.doc_id)
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        nxt = roll(
            labels.join(neigh, labels.doc_id == neigh.u, "left")
            .select(
                "doc_id",
                F.least("label", F.coalesce("nmin", "label")).alias("new_label"),
                "label",
            )
        )
        changed = nxt.filter(F.col("new_label") < F.col("label")).count()
        labels = nxt.select("doc_id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    if looped:
        # the returned frame derives only from the LAST round's
        # checkpoint; the edge/seed blocks are no longer inputs
        base.release()
    return labels.select("doc_id", F.col("label").alias("canonical_id"))


@workload(
    "dedup_cc_canonical",
    oracle=f"""
WITH RECURSIVE {O_MINHASH_PAIRS_CTES},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT doc_id, canonical_id,
       CAST(count(*) OVER (PARTITION BY canonical_id) AS BIGINT)
         AS component_size,
       doc_id <> canonical_id AS is_duplicate
FROM (
  SELECT u AS doc_id, least(min(v), u) AS canonical_id
  FROM reach GROUP BY u
)
ORDER BY doc_id
""",
)
def dedup_cc_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over
    the MinHash+LSH pair set; each doc maps to the smallest doc_id of
    its component (the canonical copy to keep). The oracle computes
    the same closure with a recursive CTE — viable at oracle scale
    only; the Spark loop is the distributed path."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    w = Window.partitionBy("canonical_id")
    return (
        cc.withColumn("component_size", F.count(F.lit(1)).over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "canonical_id", "component_size", "is_duplicate")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Deterministic stratified sampling (per-source rates).
# --------------------------------------------------------------------------

# per-stratum keep-rate in percent, derived from the source's numeric
# suffix: src0→10%, src1→17%, ... ((n*7) % 80 + 10) — spread across
# strata but stable.
_RATE_SQL_SPARK = (
    "(cast(substring(source, 4) as int) * 7) % 80 + 10"
)
_RATE_SQL_DUCK = "(CAST(substr(source, 4) AS INT) * 7) % 80 + 10"


@workload(
    "sample_stratified_deterministic",
    oracle=f"""
SELECT source,
       CAST({_RATE_SQL_DUCK} AS BIGINT) AS rate_pct,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN {_O_HASH.format(x="'smpl-' || CAST(doc_id AS VARCHAR)")} % 100
                      < {_RATE_SQL_DUCK}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents
GROUP BY source
ORDER BY source
""",
)
def sample_stratified_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with DETERMINISTIC membership: a doc is
    in-sample iff md5('smpl-'||doc_id) % 100 < its stratum's rate.
    Unlike rand()-based sampleBy, membership is a pure function of
    the row — reruns, retries and incremental extensions of a 100 TB
    sample agree without coordination. Per-row filter: no shuffle
    before the (tiny) per-stratum count aggregation."""
    docs = t(spark, sf_dir, "documents")
    rate = F.expr(_RATE_SQL_SPARK)
    in_sample = (
        F.expr(_spark_hash("concat('smpl-', cast(doc_id as string))")) % 100 < rate
    )
    return (
        docs.groupBy("source")
        .agg(
            F.first(rate).cast("bigint").alias("rate_pct"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(in_sample.cast("int")).cast("bigint").alias("n_sampled"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Text normalization / cleaning.
# --------------------------------------------------------------------------

_URL_RE = r"https?://\S+"
_CTRL_RE = "[\\x00-\\x1f]"


@workload(
    "text_normalize_clean",
    oracle=f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS orig_len,
       CAST(length(clean) AS BIGINT) AS clean_len,
       CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS BIGINT) AS n_urls,
       substr(clean, 1, 40) AS head
FROM (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
              '{_URL_RE}', ' ', 'g'),
              '{_CTRL_RE}', ' ', 'g'),
              '\\s+', ' ', 'g')) AS clean
  FROM documents
)
""",
)
def text_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pass for training text: lowercase, scrub URLs
    and control characters, collapse whitespace — regexp expressions
    only (codegen, no UDF, no shuffle). Returns length deltas and a
    40-char head as the cleaning audit. Unordered: there is no
    LIMIT, and a global sort would shuffle the whole text column
    (plus a range-sampling pass) for an order nothing consumes."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), _URL_RE, " "),
                _CTRL_RE, " ",
            ),
            r"\s+", " ",
        )
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("orig_len"),
        F.length(clean).cast("bigint").alias("clean_len"),
        F.size(F.regexp_extract_all("text", F.lit(_URL_RE), 0))
        .cast("bigint")
        .alias("n_urls"),
        F.substring(clean, 1, 40).alias("head"),
    )


# --------------------------------------------------------------------------
# Leakage-safe train/val/test split: split by dup-CLUSTER, not by doc.
# --------------------------------------------------------------------------


@workload(
    "split_leakage_safe",
    oracle=f"""
WITH RECURSIVE {O_MINHASH_PAIRS_CTES},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
canon AS (
  SELECT u AS doc_id, least(min(v), u) AS canonical_id
  FROM reach GROUP BY u
),
assigned AS (
  SELECT c.doc_id, coalesce(k.canonical_id, c.doc_id) AS canonical_id
  FROM corpus c LEFT JOIN canon k ON k.doc_id = c.doc_id
)
SELECT doc_id, canonical_id,
       CASE WHEN h < 80 THEN 'train'
            WHEN h < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, canonical_id,
         {_O_HASH.format(x="'split:' || CAST(canonical_id AS VARCHAR)")}
           % 100 AS h
  FROM assigned
)
ORDER BY doc_id
""",
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that can't leak through near-dups:
    the 80/10/10 hash split keys on the CANONICAL id of each doc's
    near-dup cluster (connected components over the MinHash pair
    set), so every member of a cluster lands in the same split — the
    step naive per-doc hashing gets wrong and the reason benchmark
    contamination survives "deduplicated" corpora. Docs with no
    near-dup are their own cluster. One LSH pair pipeline + the small
    CC loop + a map-only hash assignment; nothing quadratic,
    deterministic across engines and reruns."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    corpus = _corpus_neardup(spark, sf_dir).select("doc_id")
    assigned = (
        # bound: near-dup cluster members; plan changes without it
        corpus.join(F.broadcast(cc), "doc_id", "left")
        .withColumn("canonical_id",
                    F.coalesce(F.col("canonical_id"), F.col("doc_id")))
    )
    h = F.expr(
        _spark_hash("concat('split:', cast(canonical_id as string))")
    ) % 100
    return (
        assigned.withColumn(
            "split",
            F.when(h < 80, "train").when(h < 90, "val").otherwise("test"),
        )
        .select("doc_id", "canonical_id", "split")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Contrastive pair mining: (anchor, positive, negatives) triplets.
# --------------------------------------------------------------------------

_NEG_K = 2  # negatives per anchor


@workload(
    "contrastive_pairs_mined",
    oracle=f"""
WITH RECURSIVE {O_MINHASH_PAIRS_CTES},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
canon AS (
  SELECT u AS doc_id, least(min(v), u) AS canonical_id
  FROM reach GROUP BY u
),
idx AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY doc_id) - 1 AS pos
  FROM corpus
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM corpus),
negcand AS (
  SELECT p.doc_a AS anchor, p.doc_b AS positive, j.j,
         {_O_HASH.format(
             x="'neg:' || CAST(p.doc_a AS VARCHAR) || ':' "
               "|| CAST(j.j AS VARCHAR)")} % nn.n AS neg_pos
  FROM pairs p
  CROSS JOIN (SELECT unnest(range(0, {_NEG_K})) AS j) j
  CROSS JOIN nn
)
SELECT c.anchor, c.positive, i.doc_id AS negative,
       CAST(c.j AS BIGINT) AS neg_no
FROM negcand c
JOIN idx i ON i.pos = c.neg_pos
LEFT JOIN canon ka ON ka.doc_id = c.anchor
LEFT JOIN canon kn ON kn.doc_id = i.doc_id
WHERE coalesce(kn.canonical_id, i.doc_id)
      <> coalesce(ka.canonical_id, c.anchor)
ORDER BY anchor, positive, neg_no
""",
)
def contrastive_pairs_mined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets from the dedup machinery:
    anchors/positives are the MinHash near-dup pairs; each anchor
    draws k=2 deterministic hash-indexed negatives from the corpus,
    rejecting any negative that falls inside the anchor's own
    near-dup cluster (connected components — the same anti-leakage
    rule as split_leakage_safe). Everything is joins on hash-derived
    indexes: no RNG state, rerun-stable, and the corpus-index join
    replaces "ORDER BY rand() LIMIT k" (a full sort at 100 TB) with
    an equi-join on a precomputed row-number index."""
    from datanika_core_spark.operators.ordering import with_global_offset

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    corpus = _corpus_neardup(spark, sf_dir).select("doc_id")
    n = corpus.count()
    idx = with_global_offset(
        corpus.withColumn("one", F.lit(1)), "doc_id", "one", "pos", 32
    ).select("doc_id", "pos")

    js = spark.range(_NEG_K).select(F.col("id").alias("j"))
    cand = (
        pairs.selectExpr("doc_a AS anchor", "doc_b AS positive")
        .join(js)
        .withColumn(
            "neg_pos",
            F.expr(_spark_hash(
                "concat('neg:', cast(anchor as string), ':', "
                "cast(j as string))"
            )) % F.lit(n),
        )
    )
    ka = cc.selectExpr("doc_id AS anchor", "canonical_id AS a_canon")
    kn = cc.selectExpr("doc_id AS negative", "canonical_id AS n_canon")
    return (
        cand.join(idx, cand.neg_pos == idx.pos)
        .withColumnRenamed("doc_id", "negative")
        # bound: near-dup cluster members; plan changes without it
        .join(F.broadcast(ka), "anchor", "left")
        # bound: near-dup cluster members; plan changes without it
        .join(F.broadcast(kn), "negative", "left")
        .filter(
            F.coalesce(F.col("n_canon"), F.col("negative"))
            != F.coalesce(F.col("a_canon"), F.col("anchor"))
        )
        .select("anchor", "positive", "negative",
                F.col("j").cast("bigint").alias("neg_no"))
        .orderBy("anchor", "positive", "neg_no")
    )


# --------------------------------------------------------------------------
# K-fold cross-validation assignment (deterministic, balance-audited).
# --------------------------------------------------------------------------

_KFOLDS = 5


@workload(
    "kfold_assignment_balanced",
    oracle=f"""
WITH folds AS (
  SELECT label,
         {_O_HASH.format(x="'fold-' || CAST(vec_id AS VARCHAR)")}
           % {_KFOLDS} AS fold
  FROM embeddings
),
per_label AS (
  SELECT label, count(*) AS n_label FROM folds GROUP BY label
)
SELECT f.label, CAST(f.fold AS BIGINT) AS fold,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(count(*) * 1.0 / max(p.n_label), 6) AS frac_of_label
FROM folds f JOIN per_label p USING (label)
GROUP BY f.label, f.fold
ORDER BY f.label, f.fold
""",
)
def kfold_assignment_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment over the labeled embedding
    set: fold = md5('fold-'||vec_id) % 5, audited per (label, fold)
    — each cell's fraction of its label should sit near 1/5, the
    check that hash-fold assignment didn't correlate with the label.
    Membership is a pure row function, so training jobs on different
    clusters reconstruct identical folds with no shared state (the
    same property sample_stratified_deterministic relies on).

    Scale: one map-side hash + one combiner-friendly agg; the
    per-label totals broadcast back for the fraction."""
    emb = t(spark, sf_dir, "embeddings")
    folds = emb.select(
        "label",
        (
            F.expr(_spark_hash("concat('fold-', cast(vec_id as string))"))
            % _KFOLDS
        ).alias("fold"),
    )
    per_label = folds.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_label")
    )
    return (
        folds.join(F.broadcast(per_label), "label")  # bound: <= |label| rows
        .groupBy("label", "fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.count(F.lit(1)) * F.lit(1.0) / F.max("n_label"), 6
            ).alias("frac_of_label"),
        )
        .select(
            "label",
            F.col("fold").cast("bigint").alias("fold"),
            "n",
            "frac_of_label",
        )
        .orderBy("label", "fold")
    )


# --------------------------------------------------------------------------
# Two-dimensional token quota (per-source AND per-language budgets).
# --------------------------------------------------------------------------

_Q2_SRC = 400   # token budget per source
_Q2_LANG = 900  # token budget per language


@workload(
    "quota_two_dim_prefilter",
    oracle=f"""
WITH lens AS (
  SELECT doc_id, source, lang,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tokens
  FROM documents
),
cums AS (
  SELECT doc_id, source, lang, tokens,
         sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS src_cum,
         sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS lang_cum
  FROM lens
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN src_cum <= {_Q2_SRC}
                      AND lang_cum <= {_Q2_LANG}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       CAST(sum(CASE WHEN src_cum <= {_Q2_SRC}
                      AND lang_cum <= {_Q2_LANG}
                THEN tokens ELSE 0 END) AS BIGINT) AS admitted_tokens
FROM cums
GROUP BY source, lang
ORDER BY source, lang
""",
)
def quota_two_dim_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget admission under TWO simultaneous quotas: a doc
    is admitted iff its doc_id-ordered running token total stays
    within budget in BOTH its source ({_Q2_SRC} tokens) and its
    language ({_Q2_LANG} tokens). The rule is the static
    (conservative) relaxation of sequential greedy admission —
    cumsums run over ALL docs rather than admitted-only, so the two
    window passes stay independent and one-pass-parallel; exact
    greedy is inherently sequential (each admission mutates both
    counters) and is what corpus_token_quota implements for the
    single-dimension case.

    Scale: two window shuffles (source key, lang key) over
    (doc, tokens) pairs, then a combiner agg — no iteration, no
    driver loop; the same shape at any corpus size."""
    lens = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "tokens"
        ),
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lang = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = lens.withColumn(
        "src_cum", F.sum("tokens").over(w_src)
    ).withColumn("lang_cum", F.sum("tokens").over(w_lang))
    admitted = (F.col("src_cum") <= _Q2_SRC) & (
        F.col("lang_cum") <= _Q2_LANG
    )
    return (
        cums.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(admitted.cast("int")).cast("bigint").alias("n_admitted"),
            F.sum(F.when(admitted, F.col("tokens")).otherwise(0))
            .cast("bigint")
            .alias("admitted_tokens"),
        )
        .orderBy("source", "lang")
    )


# --------------------------------------------------------------------------
# EXACT greedy token-quota admission (sequential within each source).
# --------------------------------------------------------------------------

_QG_BUDGET = 400  # per-source token budget


@workload(
    "quota_greedy_per_source",
    oracle=f"""
WITH RECURSIVE lens AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS i
  FROM documents
),
greedy AS (
  SELECT source, i, doc_id, tokens,
         CASE WHEN tokens <= {_QG_BUDGET} THEN tokens ELSE 0 END AS used,
         tokens <= {_QG_BUDGET} AS admitted
  FROM lens WHERE i = 1
  UNION ALL
  SELECT l.source, l.i, l.doc_id, l.tokens,
         CASE WHEN g.used + l.tokens <= {_QG_BUDGET}
              THEN g.used + l.tokens ELSE g.used END,
         g.used + l.tokens <= {_QG_BUDGET}
  FROM lens l JOIN greedy g
    ON l.source = g.source AND l.i = g.i + 1
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted,
       CAST(max(used) AS BIGINT) AS tokens_used
FROM greedy
GROUP BY source
ORDER BY source
""",
)
def quota_greedy_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT greedy quota admission: docs stream through each source
    in doc_id order and one is admitted iff the tokens ADMITTED so
    far plus its own fit the budget — the true sequential recurrence
    (each admission mutates the counter), unlike the static cumsum
    relaxation (quota_two_dim_prefilter / corpus_token_quota), which
    under-admits after the first oversized doc is skipped.

    This is the canonical applyInPandas case the brief calls out:
    per-key imperative state that no window/agg composition
    expresses. One shuffle keyed by source; each group folds in a
    vectorized-enough pandas loop bounded by docs-per-source; the
    oracle replays the identical recurrence as a recursive CTE.

    Scale: groups are independent — 1000 executors each fold their
    own sources; a mega-source's fold is O(its docs), the same cost
    any sequential admission policy pays, and the admitted set is
    deterministic so reruns agree."""
    import pandas as pd

    lens = t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "tokens"
        ),
    )

    def admit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        used = 0
        n_adm = 0
        for toks in pdf["tokens"]:
            if used + toks <= _QG_BUDGET:
                used += toks
                n_adm += 1
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [len(pdf)],
                "n_admitted": [n_adm],
                "tokens_used": [used],
            }
        )

    return (
        lens.groupBy("source")
        .applyInPandas(
            admit,
            "source string, n_docs bigint, n_admitted bigint,"
            " tokens_used bigint",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Systematic PPS sampling (probability proportional to size).
# --------------------------------------------------------------------------

_PPS_N = 20  # target picks


@workload(
    "sample_systematic_pps",
    oracle=f"""
WITH w AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS weight
  FROM documents
),
cum AS (
  SELECT doc_id, weight,
         sum(weight) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS c,
         sum(weight) OVER () AS total
  FROM w
)
SELECT doc_id,
       weight,
       CAST((c * {_PPS_N}) // total
            - ((c - weight) * {_PPS_N}) // total AS BIGINT) AS n_hits
FROM cum
WHERE (c * {_PPS_N}) // total > ((c - weight) * {_PPS_N}) // total
ORDER BY doc_id
""",
)
def sample_systematic_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: docs are
    laid end-to-end on a line scaled by weight (chars), and every
    (total/{_PPS_N})-th point picks the doc it lands in — the
    low-variance sampler survey statistics uses for weighted
    subsampling (a doc's inclusion probability is exactly
    n·w/W, and a doc heavier than the step is picked with
    multiplicity, reported as n_hits). Membership is a pure integer
    function of the cumulative weights: doc i is hit iff
    floor(C_i·n/W) > floor(C_{{i-1}}·n/W) — BIGINT division both
    sides, zero float anywhere, so the sample is bit-stable across
    engines and reruns (same property the stratified sampler gets
    from hashing, here with exact weighted quotas).

    Scale: one scan for weights, one global prefix sum (the
    range-partitioned carry-in decomposition every cumulative
    workload here shares), then a per-row filter — the winners are
    ~n rows regardless of corpus size."""
    from datanika_core_spark.operators.ranking import global_prefix_sum

    docs = t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.length("text").cast("bigint").alias("weight")
    )
    tot = w.agg(F.sum("weight").cast("bigint").alias("total"))
    cum = global_prefix_sum(w, ["doc_id"], "weight", "c").crossJoin(
        tot
    )
    # `div` is true integral division — a double `/` then cast can
    # flip the floor by a half-ulp once c*n nears 2^53 and silently
    # change sample membership vs the integer-`//` oracle
    hi = F.expr(f"(c * {_PPS_N}) div total")
    lo = F.expr(f"((c - weight) * {_PPS_N}) div total")
    return (
        cum.filter(hi > lo)
        .select("doc_id", "weight", (hi - lo).alias("n_hits"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement (A-ES exponential keys).
# --------------------------------------------------------------------------

_AES_K = 5  # docs kept per source

#: deterministic uniform in (0, 1] from the 60-bit md5 hash
_S_AES_U = ("(cast({h} as double) + 1.0D) / 1152921504606846976.0D")
_O_AES_U = ("(CAST({h} AS DOUBLE) + CAST(1 AS DOUBLE))"
            " / CAST(1152921504606846976 AS DOUBLE)")


@workload(
    "weighted_sample_aes_docs",
    oracle=rf"""
WITH w AS (
  SELECT doc_id, source,
         CAST(len(list_filter({{toks}}, t -> t <> '')) AS BIGINT) AS weight
  FROM documents WHERE text IS NOT NULL
),
keyed AS (
  SELECT doc_id, source, weight,
         ln({_O_AES_U.format(
             h=_O_HASH.format(
                 x="'aes-' || CAST(doc_id AS VARCHAR)"))})
           / CAST(weight AS DOUBLE) AS k
  FROM w WHERE weight > 0
),
ranked AS (
  SELECT source, doc_id, weight,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY k DESC, doc_id) AS BIGINT) AS rank
  FROM keyed
)
SELECT source, doc_id, weight, rank
FROM ranked WHERE rank <= {_AES_K}
ORDER BY source, rank
""".format(toks=r"regexp_split_to_array(lower(trim(text)), '\s+')"),
)
def weighted_sample_aes_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k = {k} docs per
    source, weights = token counts — Efraimidis-Spirakis A-ES
    (2006): each row draws u ~ U(0,1] and ranks by the exponential
    key ln(u)/w (the monotone twin of u^(1/w)); the top-k per group
    is an exact weighted sample without replacement. u comes from
    the engine-portable md5 hash, so the SAMPLE IS A PURE FUNCTION
    OF THE DATA: re-runs, both engines, and disjoint 100 TB
    partitions all agree without coordination — the same property
    sample_stratified_deterministic relies on, upgraded from
    per-stratum rates to per-ROW weights (the mixture-sampling
    primitive: sample training docs proportional to length/quality
    without a global shuffle).

    Scale: key evaluation is map-side scalar math in the scan; the
    only shuffle is the per-source top-k (rank window on |groups|
    partitions — or TakeOrdered per group at extreme skew). The
    exact-distribution proof is the estimator's: P(doc first) =
    w_i/Σw within each exponential-race round."""
    docs = t(spark, sf_dir, "documents").filter("text is not null")
    w = docs.select(
        "doc_id", "source",
        F.expr(r"cast(size(filter(split(lower(trim(text)), '\\s+'),"
               r" t -> t <> '')) as bigint)").alias("weight"),
    ).filter(F.col("weight") > 0)
    u = _S_AES_U.format(
        h=_spark_hash("concat('aes-', cast(doc_id as string))")
    )
    keyed = w.withColumn(
        "k", F.expr(f"ln({u}) / cast(weight as double)")
    )
    win = Window.partitionBy("source").orderBy(
        F.col("k").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("rank",
                         F.row_number().over(win).cast("bigint"))
        .filter(F.col("rank") <= _AES_K)
        .select("source", "doc_id", "weight", "rank")
        .orderBy("source", "rank")
    )


weighted_sample_aes_docs.__doc__ = weighted_sample_aes_docs.__doc__.format(
    k=_AES_K
)


# --------------------------------------------------------------------------
# Leakage-safe out-of-fold target encoding.
# --------------------------------------------------------------------------

_TE_K = 5       # folds
_TE_ALPHA = 20  # smoothing pseudo-count toward the global mean


@workload(
    "feature_target_encoding_oof",
    oracle=f"""
WITH base AS (
  SELECT n.n_name AS nation,
         ('0x'||substring(md5('te-' || CAST(o.o_orderkey AS VARCHAR)),1,15))
           ::BIGINT % {_TE_K} AS fold,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
cell AS (
  SELECT nation, fold, count(*) AS n_f, sum(cents) AS s_f
  FROM base GROUP BY 1, 2
),
cat AS (
  SELECT nation, sum(n_f) AS n_c, sum(s_f) AS s_c
  FROM cell GROUP BY 1
),
tot AS (SELECT sum(n_c) AS n_t, sum(s_c) AS s_t FROM cat)
SELECT cell.nation AS nation,
       CAST(cell.fold AS BIGINT) AS fold,
       CAST(cell.n_f AS BIGINT) AS n_in_fold,
       CAST(cat.n_c - cell.n_f AS BIGINT) AS n_leave,
       ROUND(((cat.s_c - cell.s_f) * 1.0
              + {_TE_ALPHA} * (tot.s_t * 1.0 / tot.n_t))
             / (cat.n_c - cell.n_f + {_TE_ALPHA}) / 100.0, 4)
         AS oof_encoding,
       ROUND(cat.s_c * 1.0 / cat.n_c / 100.0, 4) AS naive_encoding
FROM cell JOIN cat ON cat.nation = cell.nation CROSS JOIN tot
ORDER BY nation, fold
""",
)
def feature_target_encoding_oof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leakage-safe target encoding of the customer's nation against
    order value: rows are hash-assigned to {_TE_K} folds, and the
    encoding served to fold f is the smoothed mean computed from the
    OTHER folds only — (S_c − S_f + α·ȳ) / (n_c − n_f + α) — the
    out-of-fold construction that stops the target of a training row
    from leaking into its own feature (the classic way naive target
    encoding inflates offline metrics). Emits the OOF encoding per
    (category, fold) next to the naive all-data encoding so the gap
    is visible.

    Determinism: fold assignment is the md5 bucket; every sum/count
    is BIGINT; the smoothed blend is one fixed-order float expression
    of integers in both engines.

    Scale: one fact scan with dimension joins, a combiner groupBy to
    the |categories|×k cell grid, then grid-sized rollups — the
    leave-one-fold-out subtraction means k-fold encoding costs ONE
    pass, not k passes. At 100 TB with high-cardinality categories
    the cell grid is still |categories|×k rows, shuffled once on the
    natural key."""
    ords = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    base = (
        ords.join(cust, ords.o_custkey == cust.c_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            (
                F.expr(
                    _spark_hash(
                        "concat('te-', cast(o_orderkey as string))"
                    )
                )
                % _TE_K
            ).alias("fold"),
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            .alias("cents"),
        )
    )
    cell = base.groupBy("nation", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_f"),
        F.sum("cents").alias("s_f"),
    )
    wc = Window.partitionBy("nation")
    wt = Window.partitionBy()
    grid = cell.select(
        "nation", "fold", "n_f", "s_f",
        F.sum("n_f").over(wc).alias("n_c"),
        F.sum("s_f").over(wc).alias("s_c"),
        F.sum("n_f").over(wt).alias("n_t"),
        F.sum("s_f").over(wt).alias("s_t"),
    )
    return grid.select(
        "nation",
        F.col("fold").cast("bigint").alias("fold"),
        F.col("n_f").alias("n_in_fold"),
        (F.col("n_c") - F.col("n_f")).cast("bigint").alias("n_leave"),
        F.round(
            (
                (F.col("s_c") - F.col("s_f")) * 1.0
                + _TE_ALPHA * (F.col("s_t") * 1.0 / F.col("n_t"))
            )
            / (F.col("n_c") - F.col("n_f") + _TE_ALPHA)
            / 100.0,
            4,
        ).alias("oof_encoding"),
        F.round(
            F.col("s_c") * 1.0 / F.col("n_c") / 100.0, 4
        ).alias("naive_encoding"),
    ).orderBy("nation", "fold")


# --------------------------------------------------------------------------
# Submodular max-coverage greedy document selection.
# --------------------------------------------------------------------------

_MCG_K = 8


def _mcg_oracle() -> str:
    parts = []
    sel = []
    for i in range(1, _MCG_K + 1):
        if i == 1:
            parts.append("""
g1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
       FROM ds GROUP BY doc_id),
p1 AS (SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1),
c1 AS (SELECT DISTINCT ds.sh AS sh FROM ds JOIN p1 USING (doc_id))""")
        else:
            parts.append(f"""
g{i} AS (
  SELECT ds.doc_id, CAST(count(*) AS BIGINT) AS gain
  FROM ds LEFT JOIN c{i - 1} c ON c.sh = ds.sh
  WHERE c.sh IS NULL
  GROUP BY ds.doc_id
),
p{i} AS (SELECT doc_id, gain FROM g{i}
         ORDER BY gain DESC, doc_id LIMIT 1),
c{i} AS (
  SELECT sh FROM c{i - 1}
  UNION
  SELECT DISTINCT ds.sh FROM ds JOIN p{i} USING (doc_id)
)""")
        sel.append(f"SELECT {i} AS sel_rank, doc_id, gain FROM p{i}")
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
ds AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
      range(1, len(toks)-1),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
    ELSE [] END) AS sh
  FROM toks
),
tot AS (SELECT CAST(count(DISTINCT sh) AS BIGINT) AS t FROM ds),
{",".join(parts)},
sel AS ({" UNION ALL ".join(sel)})
SELECT CAST(sel.sel_rank AS BIGINT) AS sel_rank,
       sel.doc_id AS doc_id,
       sel.gain AS gain,
       CAST(sum(sel.gain) OVER (ORDER BY sel.sel_rank) AS BIGINT)
         AS cum_coverage,
       ROUND(sum(sel.gain) OVER (ORDER BY sel.sel_rank)
             * 1.0 / tot.t, 6) AS coverage_pct
FROM sel CROSS JOIN tot
ORDER BY sel_rank
"""


@workload("select_max_coverage_greedy", oracle=_mcg_oracle())
def select_max_coverage_greedy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Submodular max-coverage greedy selection of {_MCG_K}
    documents: each round picks the doc covering the most
    NOT-YET-COVERED word-3-gram shingles — the (1−1/e)-approximate
    coverage maximizer (Nemhauser 1978), and the standard
    budget-constrained curation selector ('which K documents teach
    the model the most new n-grams?' — the coverage pull that
    complements coreset_kcenter_greedy's embedding-space spread and
    SemDeDup's redundancy removal). Reports each pick's marginal
    gain (non-increasing — the submodularity certificate tested in
    the property suite) and the cumulative coverage fraction.

    Determinism: gains are exact BIGINT shingle counts; every argmax
    breaks ties on doc_id; no floats until the display percentage.
    The oracle replays the identical greedy as an unrolled
    {_MCG_K}-round CTE chain.

    Scale: the (doc, shingle) incidence builds once (one explode +
    distinct — the same frame the MinHash index shingles); each
    round is one anti-join of the incidence against the covered-set
    table + a counted groupBy + TakeOrdered(1), with the covered set
    re-checkpointed per round (O(1) storage in rounds; its size is
    bounded by K·max-doc-shingles, NOT corpus size — the broadcast
    stays small at any scale). Lazy-greedy and stochastic-greedy
    drop the per-round full pass when K grows."""
    from datanika_core_spark.blocks import RollingCheckpoint
    from datanika_core_spark.operators.minhash import with_shingles

    docs = t(spark, sf_dir, "documents")
    ds = (
        with_shingles(docs.select("doc_id", "text"))
        .select("doc_id", F.explode("shingles").alias("sh"))
        .distinct()
        .cache()
    )
    tot = ds.select("sh").distinct().count()
    roll = RollingCheckpoint(spark)
    covered = None
    picks = []
    cum = 0
    for rank in range(1, _MCG_K + 1):
        if covered is None:
            gains = ds.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("gain")
            )
        else:
            gains = (
                # bound: shingles of <= _MCG_K picked docs
                ds.join(F.broadcast(covered), "sh", "left_anti")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("gain"))
            )
        top = gains.orderBy(
            F.col("gain").desc(), "doc_id"
        ).limit(1).collect()[0]  # bound: limit(1)
        cum += int(top["gain"])
        picks.append((rank, int(top["doc_id"]), int(top["gain"]), cum))
        new_cov = ds.filter(F.col("doc_id") == int(top["doc_id"])) \
            .select("sh")
        covered = (
            new_cov if covered is None
            else covered.unionByName(new_cov).distinct()
        )
        covered = roll(covered)
    ds.unpersist()
    roll.release()
    out = spark.createDataFrame(
        [(r, d, g, c, c * 1.0 / tot) for r, d, g, c in picks],
        "sel_rank bigint, doc_id bigint, gain bigint,"
        " cum_coverage bigint, coverage_pct double",
    )
    return out.select(
        "sel_rank", "doc_id", "gain", "cum_coverage",
        F.round("coverage_pct", 6).alias("coverage_pct"),
    ).orderBy("sel_rank")


# --------------------------------------------------------------------------
# Rendezvous (HRW) reshard advisor: who moves when shards scale out?
# --------------------------------------------------------------------------

_HRW_OLD = 8
_HRW_NEW = 10

_S_HRW_H = ("cast(conv(substring(md5(concat('hrw-', cast(s as string),"
            " '-', cast(doc_id as string))),1,15),16,10) as bigint)")
_O_HRW_H = ("('0x'||substring(md5('hrw-' || CAST(s AS VARCHAR) || '-'"
            " || CAST(doc_id AS VARCHAR)),1,15))::BIGINT")


def _o_hrw_assign(k: int, alias: str) -> str:
    return f"""
  SELECT doc_id, s AS {alias}
  FROM (
    SELECT d.doc_id, r.s, {_O_HRW_H} AS h,
           row_number() OVER (PARTITION BY d.doc_id
                              ORDER BY {_O_HRW_H} DESC, r.s) AS rn
    FROM (SELECT doc_id FROM documents) d,
         unnest(range(0, {k})) AS r(s)
  ) WHERE rn = 1
"""


@workload(
    "shard_rebalance_hrw",
    oracle=f"""
WITH old_a AS ({_o_hrw_assign(_HRW_OLD, "old_shard")}),
new_a AS ({_o_hrw_assign(_HRW_NEW, "new_shard")})
SELECT n.new_shard AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN o.old_shard = n.new_shard
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_stayed,
       CAST(sum(CASE WHEN o.old_shard <> n.new_shard
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in,
       ROUND(sum(CASE WHEN o.old_shard <> n.new_shard THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS moved_frac
FROM new_a n JOIN old_a o ON o.doc_id = n.doc_id
GROUP BY n.new_shard
ORDER BY n.new_shard
""",
)
def shard_rebalance_hrw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing reshard advisor:
    assign every doc to its HRW shard under the OLD ({old}) and NEW
    ({new}) shard counts — shard(d) = argmax_s md5(s, d) — and report
    per new shard how many docs stayed vs moved. HRW's guarantee is
    the point: scaling {old} → {new} moves ONLY the docs whose argmax
    landed on a new shard (≈ 2/{new} of the corpus), while modulo
    sharding (doc_id % k, cf. export_shard_manifest) would reshuffle
    ~{old}/{new} of everything — this table is the migration bill for
    a reshard, computed before you commit to it.

    Determinism: the weight is the portable md5 hash; the argmax
    window carries a shard-id tiebreak. Scale: the assignment is a
    k-way map fanout + per-doc argmax (map-side top-1 via the
    window on the doc-partitioned grid — at 100 TB compute it as a
    scan-stage array fold over k inline hashes, no explode, which is
    the same arithmetic); old/new assignments join on doc_id."""
    from pyspark.sql import Window as _W

    docs = t(spark, sf_dir, "documents").select("doc_id")

    def _assign(k: int, alias: str) -> DataFrame:
        grid = docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("s"),
        ).withColumn("h", F.expr(_S_HRW_H))
        w = _W.partitionBy("doc_id").orderBy(F.col("h").desc(), "s")
        return (
            grid.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("s").cast("bigint").alias(alias))
        )

    old_a = _assign(_HRW_OLD, "old_shard")
    new_a = _assign(_HRW_NEW, "new_shard")
    joined = new_a.join(old_a, "doc_id")
    moved = F.sum(
        F.when(F.col("old_shard") != F.col("new_shard"), 1).otherwise(0)
    )
    return (
        joined.groupBy(F.col("new_shard").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("old_shard") == F.col("new_shard"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_stayed"),
            moved.cast("bigint").alias("n_moved_in"),
            F.round(moved * 1.0 / F.count(F.lit(1)), 6).alias("moved_frac"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# B-cubed cluster-quality evaluation: band-0 buckets vs verified CC truth.
# --------------------------------------------------------------------------

_B3_UNIT = 100000000

#: B³ F1 from the exact integer (p_units, r_units, n) — shared text;
#: 2.0 leads so the products run in double (p_u·r_u overflows int64).
_B3_F1 = (
    f"cast(2.0 as double) * p_u * r_u / (p_u + r_u) / n / {_B3_UNIT}"
)


@workload(
    "dedup_bcubed_cluster_eval",
    oracle=f"""
WITH RECURSIVE {O_MINHASH_PAIRS_CTES},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
canon AS (
  SELECT u AS doc_id, least(min(v), u) AS truth FROM reach GROUP BY u
),
assigned AS (
  SELECT s.doc_id,
         coalesce(c.truth, s.doc_id) AS truth,
         b.bh AS cand
  FROM sigs s
  LEFT JOIN canon c ON c.doc_id = s.doc_id
  JOIN bands b ON b.doc_id = s.doc_id AND b.b = 0
),
cells AS (
  SELECT cand, truth, CAST(count(*) AS BIGINT) AS n_ct
  FROM assigned GROUP BY cand, truth
),
csz AS (SELECT cand, CAST(sum(n_ct) AS BIGINT) AS n_c
        FROM cells GROUP BY cand),
tsz AS (SELECT truth, CAST(sum(n_ct) AS BIGINT) AS n_t
        FROM cells GROUP BY truth),
terms AS (
  SELECT CAST(sum(n_ct * n_ct * {_B3_UNIT} // n_c) AS BIGINT) AS p_u,
         CAST(sum(n_ct * n_ct * {_B3_UNIT} // n_t) AS BIGINT) AS r_u,
         CAST(sum(n_ct) AS BIGINT) AS n
  FROM cells JOIN csz USING (cand) JOIN tsz USING (truth)
)
SELECT n AS n_docs,
       ROUND(p_u * 1.0 / n / {_B3_UNIT}, 6) AS bcubed_precision,
       ROUND(r_u * 1.0 / n / {_B3_UNIT}, 6) AS bcubed_recall,
       ROUND({_B3_F1}, 6) AS bcubed_f1
FROM terms
""",
)
def dedup_bcubed_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed evaluation of a CHEAP clustering against the verified
    truth: candidate clusters are the single-band-0 LSH buckets (zero
    verification cost — what a one-pass dedup would use), truth
    clusters are the connected components over the fully verified
    MinHash pair set (dedup_cc_canonical's output), and B³
    precision/recall/F1 score the candidate per ELEMENT: for doc d,
    P(d) = |C(d)∩T(d)|/|C(d)|, R(d) = |C(d)∩T(d)|/|T(d)| — the
    standard cluster-quality metric that, unlike pairwise recall
    (dedup_lsh_recall_eval), weights every document once and
    penalizes both over-merging and fragmentation. The whole metric
    reduces to the (candidate, truth) CONTINGENCY CELLS:
    B³P = Σ n_ct²/n_c / N, B³R = Σ n_ct²/n_t / N.

    Determinism: cell counts are exact integers; each cell's term is
    integer-div snapped to 1e-8 units; F1 evaluates one shared text
    over the exact unit sums. Scale: two cluster-assignment columns
    + ONE groupBy to cells (≤ |docs| rows) + two size rollups — the
    eval costs one shuffle regardless of corpus size; the truth CC
    is the expensive input and is exactly what you'd have already
    materialized to act on."""
    from datanika_core_spark.operators.minhash import (
        MH_K, MH_P, MH_R, SHINGLES_EXPR,
    )
    from datanika_core_spark.workloads.text_dedup import _with_toks

    corpus = _with_toks(_corpus_neardup(spark, sf_dir))
    sh = corpus.filter(F.size("toks") >= 3).withColumn(
        "shingles", F.expr(SHINGLES_EXPR)
    )
    sigs = sh.select(
        "doc_id",
        F.expr(
            f"transform(array(transform(shingles, sh -> "
            f"{_spark_hash('sh')})), hs -> "
            f"transform(sequence(0, {MH_K - 1}), s -> "
            f"array_min(transform(hs, h -> "
            f"((h % {MH_P}) * (2*s + 1) + s) % {MH_P}))))[0]"
        ).alias("sig"),
    )
    cand = sigs.select(
        "doc_id",
        F.expr(
            f"md5(concat_ws(',', transform(slice(sig, 1, {MH_R}),"
            f" x -> cast(x as string))))"
        ).alias("cand"),
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs).select(
        "doc_id", F.col("canonical_id").alias("truth")
    )
    assigned = cand.join(cc, "doc_id", "left").select(
        "cand",
        F.coalesce("truth", F.col("doc_id")).alias("truth"),
    )
    cells = assigned.groupBy("cand", "truth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ct")
    )
    csz = cells.groupBy("cand").agg(
        F.sum("n_ct").cast("bigint").alias("n_c")
    )
    tsz = cells.groupBy("truth").agg(
        F.sum("n_ct").cast("bigint").alias("n_t")
    )
    terms = (
        cells.join(csz, "cand")
        .join(tsz, "truth")
        .agg(
            F.sum(F.expr(f"n_ct * n_ct * {_B3_UNIT} div n_c"))
            .cast("bigint").alias("p_u"),
            F.sum(F.expr(f"n_ct * n_ct * {_B3_UNIT} div n_t"))
            .cast("bigint").alias("r_u"),
            F.sum("n_ct").cast("bigint").alias("n"),
        )
    )
    return terms.select(
        F.col("n").alias("n_docs"),
        F.round(F.col("p_u") * 1.0 / F.col("n") / _B3_UNIT, 6)
        .alias("bcubed_precision"),
        F.round(F.col("r_u") * 1.0 / F.col("n") / _B3_UNIT, 6)
        .alias("bcubed_recall"),
        F.round(F.expr(_B3_F1), 6).alias("bcubed_f1"),
    )


# --------------------------------------------------------------------------
# DSIR importance weights: hashed-unigram log-likelihood ratio of a
# target domain vs the raw pool (round 8).
# --------------------------------------------------------------------------

_DSIR_B = 1024  # hashed feature buckets
_DSIR_UNIT = 100000000  # 1e-8 log-ratio snap
_DSIR_TOPK = 50
_DSIR_TARGET_LANG = "en"
_DSIR_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"


@workload(
    "curation_dsir_importance",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang,
         ('0x'||substring(md5(t.term),1,15))::BIGINT % {_DSIR_B} AS b
  FROM (SELECT doc_id, lang, unnest({_DSIR_TOKS}) AS term
        FROM documents) t
),
raw_b AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY b
),
tgt_b AS (
  SELECT b, CAST(count(*) AS BIGINT) AS ct
  FROM tok WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
),
norms AS (
  SELECT (SELECT sum(cr) FROM raw_b) AS nr,
         (SELECT coalesce(sum(ct), 0) FROM tgt_b) AS nt
),
lr AS (
  SELECT r.b,
         CAST(round((ln(coalesce(t.ct, 0) + 1) - ln(norms.nt + {_DSIR_B})
                     - ln(r.cr + 1) + ln(norms.nr + {_DSIR_B}))
                    * {_DSIR_UNIT}) AS BIGINT) AS lr_units
  FROM raw_b r LEFT JOIN tgt_b t ON t.b = r.b
  CROSS JOIN norms
),
docw AS (
  SELECT tok.doc_id, tok.lang,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(lr.lr_units) AS BIGINT) AS w_units
  FROM tok JOIN lr ON lr.b = tok.b
  GROUP BY tok.doc_id, tok.lang
)
SELECT doc_id, lang, n_tok,
       ROUND(w_units / {_DSIR_UNIT}.0 / n_tok, 6) + 0.0 AS dsir_weight,
       CAST(row_number() OVER (
           ORDER BY w_units * 1.0 / n_tok DESC, doc_id) AS BIGINT) AS rank
FROM docw
WHERE lang <> '{_DSIR_TARGET_LANG}'
QUALIFY rank <= {_DSIR_TOPK}
ORDER BY rank
""",
)
def curation_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, Data Selection via Importance
    Resampling): estimate importance weights for raw-pool documents
    as the log-likelihood ratio of a TARGET domain's hashed-unigram
    LM over the raw pool's — here target = the English slice, pool =
    the whole corpus, features = md5-hashed token buckets (B=1024,
    add-one smoothed). Reports the top-k non-target documents by
    per-token mean log-ratio: the docs DSIR would up-sample to make
    the pool look like the target. Length-normalizing the ratio
    removes the long-doc bias of the raw sum.

    Determinism: bucket counts are exact BIGINTs, per-bucket
    log-ratios snap to 1e-8 integer units BEFORE the per-doc sum, so
    summation order can't flip a bit; ROUND()+0.0 canonicalizes
    -0.0; ties break on doc_id.

    Scale: one explode + bucket groupBy for each distribution
    (map-side combinable, B=1024 rows out); the doc-scoring join is
    tokens→lr on the bucket key with a BROADCAST of the 1024-row
    ratio table — map-only scoring, exactly how DSIR streams the
    pool at pretraining scale."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    ).select(
        "doc_id", "lang",
        F.expr(
            "pmod(cast(conv(substring(md5(term),1,15),16,10) as bigint),"
            f" {_DSIR_B})"
        ).alias("b"),
    )
    raw_b = tok.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cr")
    )
    tgt_b = tok.filter(F.col("lang") == _DSIR_TARGET_LANG).groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    nr = raw_b.agg(F.sum("cr")).first()[0]  # bound: one aggregate row
    nt = tgt_b.agg(F.sum("ct")).first()[0] or 0  # bound: one aggregate row
    lr = (
        raw_b.join(tgt_b, "b", "left")
        .select(
            "b",
            F.round(
                (
                    F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1)
                    - F.log(F.lit(float(nt + _DSIR_B)))
                    - F.log(F.col("cr") + 1)
                    + F.log(F.lit(float(nr + _DSIR_B)))
                ) * _DSIR_UNIT
            ).cast("bigint").alias("lr_units"),
        )
    )
    docw = (
        tok.join(F.broadcast(lr), "b")  # bound: <= _DSIR_B bucket rows
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum("lr_units").cast("bigint").alias("w_units"),
        )
        .filter(F.col("lang") != _DSIR_TARGET_LANG)
    )
    wr = Window.orderBy(
        (F.col("w_units") * 1.0 / F.col("n_tok")).desc(), F.col("doc_id")
    )
    return (
        docw.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= _DSIR_TOPK)
        .select(
            "doc_id", "lang", "n_tok",
            (
                F.round(
                    F.col("w_units") / float(_DSIR_UNIT) / F.col("n_tok"),
                    6,
                ) + F.lit(0.0)
            ).alias("dsir_weight"),
            "rank",
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# DSIR two-LM KL diagnostics: per-source domain distance to the target.
# --------------------------------------------------------------------------

#: 1e-12 per-cell KL-term snap (terms are O(1e-2); 1024 cells keep
#: the BIGINT sum far from overflow)
_DSIR_KL_UNIT = 1000000000000


@workload(
    "curation_dsir_kl_diagnostics",
    oracle=f"""
WITH tok AS (
  SELECT source, lang,
         ('0x'||substring(md5(t.term),1,15))::BIGINT % {_DSIR_B} AS b
  FROM (SELECT source, lang, unnest({_DSIR_TOKS}) AS term
        FROM documents) t
),
tgt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS ct
  FROM tok WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
),
nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM tgt),
srcs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ns FROM tok GROUP BY source
),
sb AS (
  SELECT source, b, CAST(count(*) AS BIGINT) AS cs
  FROM tok GROUP BY source, b
),
grid AS (
  SELECT s.source, s.ns, g.b
  FROM srcs s CROSS JOIN (SELECT unnest(range({_DSIR_B})) AS b) g
),
cell AS (
  SELECT grid.source, grid.ns,
         (coalesce(tgt.ct, 0) + 1) * 1.0 / (nt.nt + {_DSIR_B}) AS pt,
         (coalesce(sb.cs, 0) + 1) * 1.0 / (grid.ns + {_DSIR_B}) AS qs
  FROM grid
  LEFT JOIN sb ON sb.source = grid.source AND sb.b = grid.b
  LEFT JOIN tgt ON tgt.b = grid.b
  CROSS JOIN nt
),
terms AS (
  SELECT source, ns,
         CAST(round(pt * (ln(pt) - ln(qs)) * {_DSIR_KL_UNIT})
              AS BIGINT) AS kl_ts_u,
         CAST(round(qs * (ln(qs) - ln(pt)) * {_DSIR_KL_UNIT})
              AS BIGINT) AS kl_st_u
  FROM cell
)
SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
       ROUND(sum(kl_ts_u) / {_DSIR_KL_UNIT}.0, 6) AS kl_target_source,
       ROUND(sum(kl_st_u) / {_DSIR_KL_UNIT}.0, 6) AS kl_source_target,
       ROUND((sum(kl_ts_u) + sum(kl_st_u)) / {_DSIR_KL_UNIT}.0, 6)
           AS jeffreys
FROM terms GROUP BY source
ORDER BY source
""",
)
def curation_dsir_kl_diagnostics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The source-level diagnostic DSIR's paper (Xie et al. 2023)
    computes before resampling: per-source KL divergence between each
    source's hashed-unigram LM and the target domain's (here: the
    English slice), both directions plus the symmetric Jeffreys sum.
    curation_dsir_importance ranks DOCUMENTS for resampling; this
    ranks SOURCES for mixture decisions — which feeds to up/down-
    weight wholesale before any per-doc work. Add-one smoothing over
    the same B={_DSIR_B} md5 buckets as the importance workload, so
    the two read the same feature space.

    Determinism: bucket counts are exact BIGINTs; each of the
    source x {_DSIR_B} KL terms snaps to 1e-12 integer units before
    the per-source sum, so cross-engine summation order can't move a
    bit.

    Scale: ONE token-bucket groupBy over the corpus (map-side
    combinable, {_DSIR_B} x |sources| cells max), then all KL
    arithmetic runs on the dense |sources| x {_DSIR_B} grid — a few
    thousand rows regardless of corpus size; the target distribution
    ({_DSIR_B} rows) broadcasts."""
    docs = t(spark, sf_dir, "documents")
    B = _DSIR_B
    tok = docs.select(
        "source", "lang",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    ).select(
        "source", "lang",
        F.expr(
            "cast(conv(substring(md5(term),1,15),16,10) as bigint)"
            f" % {B}"
        ).alias("b"),
    )
    tgt = (
        tok.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    nt = tgt.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).cast("bigint").alias("nt")
    )
    srcs = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    )
    sb = tok.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cs")
    )
    grid = srcs.crossJoin(
        spark.range(B).select(F.col("id").alias("b"))
    )
    cell = (
        # bound: <= |source| x _DSIR_B rows
        grid.join(F.broadcast(sb), ["source", "b"], "left")
        .join(F.broadcast(tgt), "b", "left")  # bound: <= _DSIR_B bucket rows
        .crossJoin(nt)
        .select(
            "source", "ns",
            (
                (F.coalesce(F.col("ct"), F.lit(0)) + 1) * 1.0
                / (F.col("nt") + B)
            ).alias("pt"),
            (
                (F.coalesce(F.col("cs"), F.lit(0)) + 1) * 1.0
                / (F.col("ns") + B)
            ).alias("qs"),
        )
    )
    u = float(_DSIR_KL_UNIT)
    terms = cell.select(
        "source", "ns",
        F.round(
            F.col("pt") * (F.log("pt") - F.log("qs")) * u
        ).cast("bigint").alias("kl_ts_u"),
        F.round(
            F.col("qs") * (F.log("qs") - F.log("pt")) * u
        ).cast("bigint").alias("kl_st_u"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("ns").cast("bigint").alias("n_tokens"),
            F.round(F.sum("kl_ts_u") / u, 6).alias("kl_target_source"),
            F.round(F.sum("kl_st_u") / u, 6).alias("kl_source_target"),
            F.round(
                (F.sum("kl_ts_u") + F.sum("kl_st_u")) / u, 6
            ).alias("jeffreys"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Horvitz-Thompson estimation from the systematic PPS sample.
# --------------------------------------------------------------------------

#: 1e-6 snap for per-winner HT terms (terms are O(total/n); the
#: ≤n-winner sum stays far from BIGINT range)
_HT_UNIT = 1000000


@workload(
    "sample_pps_ht_estimate",
    oracle=f"""
WITH w AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
              AS BIGINT) AS toks
  FROM documents
),
cum AS (
  SELECT doc_id, weight, toks,
         sum(weight) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS c,
         sum(weight) OVER () AS total
  FROM w
),
hits AS (
  SELECT doc_id, weight, toks, total,
         CAST((c * {_PPS_N}) // total
              - ((c - weight) * {_PPS_N}) // total AS BIGINT) AS n_hits
  FROM cum
  WHERE (c * {_PPS_N}) // total > ((c - weight) * {_PPS_N}) // total
),
terms AS (
  SELECT n_hits,
         -- promote to double BEFORE multiplying by the corpus-wide
         -- total: n_hits*toks*total as a BIGINT product overflows at
         -- warehouse scale (total ~ corpus chars)
         CAST(round(n_hits * toks * 1.0
                    / ({_PPS_N} * weight) * total * {_HT_UNIT}) AS BIGINT)
             AS tok_u,
         CAST(round(n_hits * 1.0
                    / ({_PPS_N} * weight) * total * {_HT_UNIT}) AS BIGINT)
             AS doc_u
  FROM hits
),
truth AS (
  SELECT CAST(sum(toks) AS BIGINT) AS true_tokens,
         CAST(count(*) AS BIGINT) AS true_docs
  FROM w
)
SELECT CAST(sum(n_hits) AS BIGINT) AS n_sample,
       truth.true_tokens,
       ROUND(sum(tok_u) / {_HT_UNIT}.0, 2) AS ht_tokens,
       ROUND(abs(sum(tok_u) / {_HT_UNIT}.0 - truth.true_tokens)
             / truth.true_tokens, 6) AS tok_rel_err,
       truth.true_docs,
       ROUND(sum(doc_u) / {_HT_UNIT}.0, 2) AS ht_docs,
       ROUND(abs(sum(doc_u) / {_HT_UNIT}.0 - truth.true_docs)
             / truth.true_docs, 6) AS doc_rel_err
FROM terms CROSS JOIN truth
GROUP BY truth.true_tokens, truth.true_docs
""",
)
def sample_pps_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation from the systematic PPS sample —
    the ESTIMATOR the sampler exists for: with inclusion expectation
    E[hits_i] = n·wᵢ/W, Ŷ = Σ_winners hits·yᵢ·W/(n·wᵢ) is unbiased
    for any y. Estimates the corpus token total (y = tokens, weight
    = chars — correlated, so PPS variance is small) and the doc
    count (y = 1 — anti-correlated with weight, showing where PPS is
    the WRONG design), each with measured relative error vs the full
    scan: the pps sampler's eval twin, in the recall-eval tradition
    (the full-scan truth is the eval harness, not the production
    path — production reads only the ≤n winners).

    Determinism: sample membership is the sampler's pure-BIGINT
    quota rule; per-winner HT terms snap to 1e-6 units before the
    ≤n-row sum, so summation order can't move a bit.

    Scale: the sampler's one scan + global prefix sum; the estimator
    adds arithmetic on ≤n winner rows. The truth branch is one
    map-side-combinable aggregate of the same scan."""
    docs = t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("weight"),
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast("bigint").alias("toks"),
    )
    from datanika_core_spark.operators.ranking import global_prefix_sum

    tot = w.agg(F.sum("weight").cast("bigint").alias("total"))
    cum = global_prefix_sum(w, ["doc_id"], "weight", "c").crossJoin(
        tot
    )
    hi = F.expr(f"(c * {_PPS_N}) div total")
    lo = F.expr(f"((c - weight) * {_PPS_N}) div total")
    hits = cum.filter(hi > lo).select(
        "weight", "toks", "total", (hi - lo).alias("n_hits")
    )
    u = float(_HT_UNIT)
    terms = hits.select(
        "n_hits",
        # double promotion before the * total keeps the product out
        # of BIGINT range at warehouse scale (oracle mirrors the order)
        F.round(
            F.col("n_hits") * F.col("toks") * 1.0
            / (_PPS_N * F.col("weight")) * F.col("total") * u
        ).cast("bigint").alias("tok_u"),
        F.round(
            F.col("n_hits") * 1.0
            / (_PPS_N * F.col("weight")) * F.col("total") * u
        ).cast("bigint").alias("doc_u"),
    )
    truth = w.agg(
        F.sum("toks").cast("bigint").alias("true_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("true_docs"),
    )
    est = terms.agg(
        F.sum("n_hits").cast("bigint").alias("n_sample"),
        F.sum("tok_u").alias("tok_us"),
        F.sum("doc_u").alias("doc_us"),
    )
    return est.crossJoin(truth).select(
        "n_sample",
        "true_tokens",
        F.round(F.col("tok_us") / u, 2).alias("ht_tokens"),
        F.round(
            F.abs(F.col("tok_us") / u - F.col("true_tokens"))
            / F.col("true_tokens"),
            6,
        ).alias("tok_rel_err"),
        "true_docs",
        F.round(F.col("doc_us") / u, 2).alias("ht_docs"),
        F.round(
            F.abs(F.col("doc_us") / u - F.col("true_docs"))
            / F.col("true_docs"),
            6,
        ).alias("doc_rel_err"),
    )

