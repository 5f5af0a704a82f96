"""Corpus-quality operators for training-data curation: Gopher-style
repetition filters, a staged filter funnel, temperature-scaled source
mixture weights, and deterministic PII redaction (beyond-reference,
SURVEY.md §7 Phase 4 — modeled on the published Gopher/C4 curation
rules: Rae et al. 2021 §A1.1, Raffel et al. 2020 §2.2).

Scale design:
- Repetition metrics: the only shuffle is the per-(doc, token)
  count for the top-token fraction — two keyed aggregations on
  doc_id, both map-side-combinable; bigram dedup ratios are pure
  higher-order array expressions (no shuffle, no UDF).
- The filter funnel is ONE pass over the corpus: every stage is a
  conditional aggregate on the same scan, so adding stages costs
  zero extra I/O (vs. the naive one-count-per-stage loop that
  re-reads 100 TB per stage).
- Mixture weights aggregate to |sources|×|langs| rows — the global
  normalization window runs on that tiny aggregate, not the corpus.
- PII redaction is regexp_replace/regexp_count only — stays in
  whole-stage codegen. The corpus has no real PII, so deterministic
  fake emails/phones are injected (doc_id-derived, identically on
  the oracle side) to prove the redaction actually fires; the
  `residual_*` columns assert the redacted text has zero matches
  left, and a bit_xor fingerprint of the redacted text proves both
  engines produced byte-identical output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.workloads import t, workload
from datanika_core_spark.workloads.text_dedup import (
    _O_HASH,
    _O_TOKS,
    _norm_docs,
    _spark_hash,
    _with_toks,
)

# --------------------------------------------------------------------------
# Shared fragments.
# --------------------------------------------------------------------------

# Bigram arrays (1-based element_at on both engines).
_BIGRAMS_SPARK = (
    "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks)-1),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"
    " ELSE array() END"
)
_BIGRAMS_DUCK = (
    "CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),"
    " i -> toks[i] || ' ' || toks[i+1]) ELSE [] END"
)

# dup-bigram fraction: 1 - distinct/total (0 for degenerate docs).
# NB: SQL-literal 1.0 is DECIMAL in Spark — decimal division rounds
# differently from DuckDB's double at threshold boundaries, so force
# double arithmetic explicitly.
_DBF_SPARK = (
    "CASE WHEN size(bigrams) = 0 THEN CAST(0.0 AS DOUBLE) ELSE"
    " CAST(1.0 AS DOUBLE)"
    " - CAST(size(array_distinct(bigrams)) AS DOUBLE) / size(bigrams) END"
)
_DBF_DUCK = (
    "CASE WHEN len(bigrams) = 0 THEN 0.0 ELSE"
    " 1.0 - len(list_distinct(bigrams)) * 1.0 / len(bigrams) END"
)

# Count of the single most frequent token, computed per-row with NO
# shuffle: sort the token array, then the longest run of equal
# adjacent elements IS the max token count. O(n log n) per document
# inside whole-stage codegen — replaces explode + two keyed
# aggregations (two shuffles of every token in the corpus) + a join
# back; at 100 TB the explode shape shuffles ~the corpus itself.
_TOP_CNT_SPARK = """aggregate(
  array_sort(toks),
  named_struct('run', 0, 'best', 0, 'prev', CAST(NULL AS STRING)),
  (acc, x) -> named_struct(
     'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1),
     'best', greatest(acc.best,
                      IF(acc.prev IS NOT NULL AND x = acc.prev,
                         acc.run + 1, 1)),
     'prev', x),
  acc -> acc.best)"""

_STOPWORDS_IN = "'the', 'a', 'and', 'of', 'to', 'is'"

# Gopher-ish thresholds, calibrated so the synthetic corpus splits
# non-trivially (top-token frac spans 0.05-0.30, dup-bigram 0-0.13).
_TTF_MAX = 0.12
_DBF_MAX = 0.05
_STOP_MIN = 0.02
_MIN_TOKENS = 30


# --------------------------------------------------------------------------
# Gopher repetition filter: top-token fraction + duplicate-bigram
# fraction per document.
# --------------------------------------------------------------------------


@workload(
    "corpus_gopher_repetition",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_O_TOKS} AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
topc AS (
  SELECT doc_id, max(c) AS top_cnt
  FROM (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
  GROUP BY 1
),
bg AS (SELECT doc_id, {_BIGRAMS_DUCK} AS bigrams FROM d)
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       round(top_cnt * 1.0 / len(d.toks), 6) AS top_tok_frac,
       round({_DBF_DUCK}, 6) AS dup_bigram_frac,
       (top_cnt * 1.0 / len(d.toks) <= {_TTF_MAX}
        AND {_DBF_DUCK} <= {_DBF_MAX}) AS keep
FROM d JOIN topc USING (doc_id) JOIN bg USING (doc_id)
ORDER BY doc_id
""",
)
def corpus_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile (Gopher A1.1-style): fraction
    of tokens taken by the single most frequent token, and fraction
    of duplicated bigrams; `keep` applies both thresholds.

    The whole profile is ONE map-only pass: the top-token count is
    the longest equal-run of the sorted token array (_TOP_CNT_SPARK)
    and bigram stats are array expressions — no shuffle, no join,
    no UDF."""
    # sort FIRST (r11): the sorted-run/bigram folds below a final
    # orderBy would run twice via range-partitioner sampling — same
    # fix as quality_classifier_hashed (measured there: 2.51 s →
    # 1.08 s at sf0.1)
    d = (_with_toks(_norm_docs(spark, sf_dir))
         .select("doc_id", "toks").orderBy("doc_id"))
    bg = d.withColumn("bigrams", F.expr(_BIGRAMS_SPARK)) \
          .withColumn("top_cnt", F.expr(_TOP_CNT_SPARK))
    dbf = F.expr(_DBF_SPARK)
    ttf = F.col("top_cnt") * F.lit(1.0) / F.size("toks")
    return (
        bg
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.round(ttf, 6).alias("top_tok_frac"),
            F.round(dbf, 6).alias("dup_bigram_frac"),
            ((ttf <= _TTF_MAX) & (dbf <= _DBF_MAX)).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Filter funnel: staged survivor counts in ONE corpus pass.
# --------------------------------------------------------------------------

_FUNNEL_STAGES = [
    ("total", "true"),
    ("lang_en", "lang = 'en'"),
    ("len_ok", f"size(toks) >= {_MIN_TOKENS}"),
    ("repetition_ok", f"({_DBF_SPARK.replace('bigrams', 'bg')}) <= {_DBF_MAX}"),
    ("stopword_ok", f"stop_ratio >= {_STOP_MIN}"),
]

_FUNNEL_STAGES_DUCK = [
    ("total", "true"),
    ("lang_en", "lang = 'en'"),
    ("len_ok", f"len(toks) >= {_MIN_TOKENS}"),
    ("repetition_ok", f"({_DBF_DUCK.replace('bigrams', 'bg')}) <= {_DBF_MAX}"),
    ("stopword_ok", f"stop_ratio >= {_STOP_MIN}"),
]


def _funnel_oracle() -> str:
    # cumulative-AND survivor count per stage, all from one agg row
    conds, selects = [], []
    for i, (name, cond) in enumerate(_FUNNEL_STAGES_DUCK):
        conds.append(cond)
        selects.append(
            f"SELECT {i} AS stage_no, '{name}' AS stage,"
            f" CAST(count_if({' AND '.join(conds)}) AS BIGINT) AS n FROM d"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH d AS (
  SELECT doc_id, lang, toks, {_BIGRAMS_DUCK} AS bg,
         len(list_filter(toks, x -> x IN ({_STOPWORDS_IN})))
           * 1.0 / len(toks) AS stop_ratio
  FROM (SELECT doc_id, lang, {_O_TOKS} AS toks FROM documents)
),
stages AS ({union}),
total AS (SELECT n AS tot FROM stages WHERE stage_no = 0)
SELECT stage_no, stage, n, round(n * 1.0 / tot, 6) AS frac
FROM stages, total
ORDER BY stage_no
"""


@workload("corpus_filter_funnel", oracle=_funnel_oracle())
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor counts through a cumulative curation funnel
    (language -> length -> repetition -> stopword-density), computed
    as conditional aggregates over a SINGLE corpus scan — stage
    counts at 100 TB cost one pass, not one pass per stage."""
    d = (
        _with_toks(_norm_docs(spark, sf_dir))
        .select(
            "doc_id",
            "lang",
            "toks",
            F.expr(_BIGRAMS_SPARK.replace("toks", "toks")).alias("bg"),
        )
        .withColumn(
            "stop_ratio",
            F.expr(f"size(filter(toks, x -> x IN ({_STOPWORDS_IN})))")
            * F.lit(1.0) / F.size("toks"),
        )
    )
    conds: list[str] = []
    aggs = []
    for i, (name, cond) in enumerate(_FUNNEL_STAGES):
        conds.append(cond)
        aggs.append(
            F.count_if(F.expr(" AND ".join(conds))).alias(f"s{i}")
        )
    row = d.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, '{name}', s{i}" for i, (name, _) in enumerate(_FUNNEL_STAGES)
    )
    n_stage = len(_FUNNEL_STAGES)
    return (
        row.select(
            F.expr(
                f"stack({n_stage}, {stack_args}) AS (stage_no, stage, n)"
            ),
            F.col("s0").alias("tot"),
        )
        .select(
            F.col("stage_no").cast("int").alias("stage_no"),
            "stage",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") * F.lit(1.0) / F.col("tot"), 6).alias("frac"),
        )
        .orderBy("stage_no")
    )


# --------------------------------------------------------------------------
# Temperature-scaled mixture weights per (source, lang).
# --------------------------------------------------------------------------

_MIX_TEMP = 0.7  # tokens^0.7, the multilingual-sampling convention


@workload(
    "corpus_mixture_weights",
    oracle=f"""
WITH g AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_O_TOKS})) AS BIGINT) AS tokens
  FROM documents
  GROUP BY source, lang
)
SELECT source, lang, n_docs, tokens,
       round(power(tokens, {_MIX_TEMP})
             / sum(power(tokens, {_MIX_TEMP})) OVER (), 6) AS weight
FROM g
ORDER BY source, lang
""",
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling weights per (source, lang) bucket: token counts
    scaled by temperature tokens^0.7 and normalized — the standard
    up-weighting of low-resource slices when composing a training
    mixture. The normalization window runs over the aggregate
    (|sources|x|langs| rows), never the corpus."""
    g = (
        _with_toks(_norm_docs(spark, sf_dir))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size("toks")).cast("bigint").alias("tokens"),
        )
    )
    w = Window.partitionBy()
    p = F.pow(F.col("tokens"), F.lit(_MIX_TEMP))
    return g.select(
        "source", "lang", "n_docs", "tokens",
        F.round(p / F.sum(p).over(w), 6).alias("weight"),
    ).orderBy("source", "lang")


# --------------------------------------------------------------------------
# Per-source token quota (batch twin of streaming_token_quota).
# --------------------------------------------------------------------------

_QUOTA_BUDGET = 800


@workload(
    "corpus_token_quota",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len({_O_TOKS}) AS BIGINT) AS tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, tokens,
         CAST(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id)
           AS BIGINT) AS used_after
  FROM d
)
SELECT doc_id, source, tokens, used_after
FROM c WHERE used_after <= {_QUOTA_BUDGET}
ORDER BY source, doc_id
""",
)
def corpus_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each source's contribution to the corpus at a token
    budget: keep a document iff the running per-source token total
    (in doc_id order, counting every doc) stays within budget —
    'truncate at overflow' semantics, identical to the streaming
    operator streaming/stateful.py::TokenQuotaProcessor (the parity
    test drives both). One window shuffle on source."""
    return _batch_token_quota(
        _norm_docs(spark, sf_dir), budget=_QUOTA_BUDGET
    )


def _batch_token_quota(docs: DataFrame, budget: int) -> DataFrame:
    toks = F.size(F.split("text", r"\s+"))
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select(
            "doc_id", "source", toks.cast("bigint").alias("tokens")
        )
        .withColumn(
            "used_after", F.sum("tokens").over(w).cast("bigint")
        )
        .filter(F.col("used_after") <= budget)
        .orderBy("source", "doc_id")
    )


# --------------------------------------------------------------------------
# PII redaction with deterministic injection + fingerprint proof.
# --------------------------------------------------------------------------

_EMAIL_PAT = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_PAT = "\\+1-555-[0-9]{4}"


@workload(
    "pii_redact_injected",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, source,
         lower(trim(text))
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || doc_id || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents
),
red AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{_EMAIL_PAT}')) AS n_email,
         len(regexp_extract_all(text, '{_PHONE_PAT}')) AS n_phone,
         regexp_replace(regexp_replace(text, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                        '{_PHONE_PAT}', '<PHONE>', 'g') AS clean
  FROM aug
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count_if(n_email > 0) AS BIGINT) AS email_docs,
       CAST(count_if(n_phone > 0) AS BIGINT) AS phone_docs,
       CAST(sum(n_email) AS BIGINT) AS emails_redacted,
       CAST(sum(n_phone) AS BIGINT) AS phones_redacted,
       CAST(sum(len(regexp_extract_all(clean, '{_EMAIL_PAT}'))
                + len(regexp_extract_all(clean, '{_PHONE_PAT}')))
         AS BIGINT) AS residual_matches,
       bit_xor({_O_HASH.format(x='clean')}) AS clean_fingerprint
FROM red
GROUP BY source
ORDER BY source
""",
)
def pii_redact_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails + phone numbers) with
    deterministically injected fakes (the synthetic corpus has no
    real PII; both engines inject identically from doc_id).

    `residual_matches` must be 0 — the redacted text contains no
    remaining PII — and `clean_fingerprint` bit_xors a 60-bit md5 of
    every redacted document, proving byte-identical redaction across
    engines without shipping the text. Pure regexp expressions:
    whole-stage codegen, zero UDFs, no shuffle beyond the final
    per-source aggregate."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.lower(F.trim(F.col("text"))).alias("text")
    )
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    red = aug.select(
        "source",
        F.regexp_count("text", F.lit(_EMAIL_PAT)).alias("n_email"),
        F.regexp_count("text", F.lit(_PHONE_PAT)).alias("n_phone"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_PAT, "<EMAIL>"),
            _PHONE_PAT,
            "<PHONE>",
        ).alias("clean"),
    )
    return (
        red.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_if(F.col("n_email") > 0).cast("bigint").alias("email_docs"),
            F.count_if(F.col("n_phone") > 0).cast("bigint").alias("phone_docs"),
            F.sum("n_email").cast("bigint").alias("emails_redacted"),
            F.sum("n_phone").cast("bigint").alias("phones_redacted"),
            F.sum(
                F.regexp_count("clean", F.lit(_EMAIL_PAT))
                + F.regexp_count("clean", F.lit(_PHONE_PAT))
            ).cast("bigint").alias("residual_matches"),
            F.expr(f"bit_xor({_spark_hash('clean')})").alias(
                "clean_fingerprint"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Quality-weighted decile sampling (curriculum-style).
# --------------------------------------------------------------------------

_N_BINS = 10


@workload(
    "corpus_quality_bins",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         least(1.0, len(toks) / 100.0)
           * (0.5 + 0.5 * (len(list_filter(toks,
                x -> x IN ({_STOPWORDS_IN}))) * 1.0 / len(toks)))
           AS quality
  FROM (SELECT doc_id, {_O_TOKS} AS toks FROM documents)
),
binned AS (
  SELECT doc_id, quality,
         ntile({_N_BINS}) OVER (ORDER BY quality, doc_id) AS bin
  FROM scored
),
sampled AS (
  SELECT bin, doc_id, quality,
         ({_O_HASH.format(x="'qbin:' || doc_id")}) % 100
           < bin * {100 // _N_BINS} AS picked
  FROM binned
)
SELECT CAST(bin AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count_if(picked) AS BIGINT) AS n_sampled,
       round(min(quality), 6) AS q_min,
       round(max(quality), 6) AS q_max
FROM sampled
GROUP BY bin
ORDER BY bin
""",
)
def corpus_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-bin documents by the composite quality score, then
    sample each bin at a rate proportional to its bin index (top
    decile keeps ~100%, bottom ~10%) — quality-weighted sampling a la
    curriculum/QuRating-style data selection, with the md5-hash
    membership rule making the sample deterministic and rerun-stable
    (same property as the stratified sampler).

    ntile's ORDER BY carries a doc_id tiebreak so bin edges are
    total-ordered — identical across engines and partitionings. The
    decile assignment runs through operators/ranking.global_ntile
    (range-repartition + per-partition rank + broadcast offsets), so
    no single task ever sees more than one range partition."""
    from datanika_core_spark.operators.ranking import global_ntile

    docs = _with_toks(_norm_docs(spark, sf_dir))
    n_tokens = F.size("toks")
    stop_hits = F.expr(f"size(filter(toks, x -> x IN ({_STOPWORDS_IN})))")
    quality = (
        F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        * (F.lit(0.5) + F.lit(0.5) * (stop_hits * F.lit(1.0) / n_tokens))
    )
    binned = global_ntile(
        docs.select("doc_id", quality.alias("quality")),
        ["quality", "doc_id"], _N_BINS, "bin",
    )
    picked = (
        F.expr(_spark_hash("concat('qbin:', doc_id)")) % 100
        < F.col("bin") * (100 // _N_BINS)
    )
    return (
        binned.withColumn("picked", picked)
        .groupBy(F.col("bin").cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_if(F.col("picked")).cast("bigint").alias("n_sampled"),
            F.round(F.min("quality"), 6).alias("q_min"),
            F.round(F.max("quality"), 6).alias("q_max"),
        )
        .orderBy("bin")
    )


@workload(
    "export_shard_manifest",
    oracle=f"""
SELECT CAST(('0x'||substring(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
            % 8 AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
            AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
ORDER BY shard
""",
)
def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export path's budget manifest, oracle-verified: the same
    deterministic md5 shard assignment `operators/export.py` writes
    with (hash(doc_id) % 8), aggregated to per-shard docs / tokens /
    chars. Because assignment is a pure function of the row key, the
    manifest — and the shard layout it describes — is identical
    across engines, reruns, and cluster sizes; an incremental
    re-export moves only new docs."""
    from datanika_core_spark.operators.export import assign_shard

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast("bigint").alias("dl"),
    )
    sharded = assign_shard(docs, "doc_id", 8)
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Source-concentration Gini coefficient (corpus inequality measure).
# --------------------------------------------------------------------------


@workload(
    "corpus_gini_concentration",
    oracle="""
WITH mass AS (
  SELECT source,
         sum(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
           AS toks
  FROM documents GROUP BY source
),
ranked AS (
  SELECT toks,
         row_number() OVER (ORDER BY toks, source) AS i,
         count(*) OVER () AS n,
         sum(toks) OVER () AS total
  FROM mass
)
SELECT CAST(max(n) AS BIGINT) AS n_sources,
       CAST(max(total) AS BIGINT) AS total_tokens,
       ROUND(2.0 * sum(i * toks) / (max(n) * max(total))
             - (max(n) + 1.0) / max(n), 6) AS gini
FROM ranked
""",
)
def corpus_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token mass across sources — the single
    number that says whether the corpus blend is balanced (→0) or a
    few domains dominate (→1); the alarm a data-mixing pipeline
    watches as crawls grow unevenly (complements
    corpus_mixture_weights, which fixes the imbalance this detects).

    Scale: per-source mass is a combiner agg; the rank/total windows
    run over |sources| rows. Deterministic tie order (toks, source)
    keeps the rank — and hence the statistic — rerun-stable."""
    from pyspark.sql import Window

    mass = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(
                F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
            ).alias("toks")
        )
    )
    ranked = mass.select(
        "toks",
        F.row_number()
        .over(Window.orderBy("toks", "source"))
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.sum("toks").over(Window.partitionBy()).alias("total"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_sources"),
        F.max("total").cast("bigint").alias("total_tokens"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("toks"))
            / (F.max("n") * F.max("total"))
            - (F.max("n") + F.lit(1.0)) / F.max("n"),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers.
# --------------------------------------------------------------------------

_KA_K = 5  # minimum acceptable equivalence-class size


@workload(
    "privacy_k_anonymity",
    oracle=f"""
WITH classes AS (
  SELECT event_type,
         date_trunc('day', ts) AS day,
         CAST(floor(value / 50) AS BIGINT) AS value_band,
         count(*) AS class_size
  FROM events
  GROUP BY event_type, day, value_band
)
SELECT CAST({_KA_K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(class_size) AS BIGINT) AS min_class_size,
       CAST(sum(CASE WHEN class_size < {_KA_K} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_violating_classes,
       CAST(sum(CASE WHEN class_size < {_KA_K} THEN class_size ELSE 0 END)
         AS BIGINT) AS rows_at_risk,
       ROUND(sum(CASE WHEN class_size < {_KA_K} THEN class_size ELSE 0 END)
             * 1.0 / sum(class_size), 6) AS at_risk_frac
FROM classes
""",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: group the release candidate by its
    quasi-identifier tuple (event type, day, 50-unit value band) and
    report how many equivalence classes fall below k=5 members and
    what fraction of rows they expose — the re-identification gate a
    dataset passes before leaving the platform (the PII regex scrub
    above removes direct identifiers; this measures the INDIRECT
    ones). rows_at_risk > 0 means suppress or generalize those
    classes before release.

    Scale: one combiner-friendly groupBy on the QI tuple + a 1-row
    rollup — runs at any corpus size; the QI choice is the knob, the
    plan shape never changes."""
    ev = t(spark, sf_dir, "events")
    classes = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.floor(F.col("value") / 50).cast("bigint").alias("value_band"),
        )
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    viol = F.when(F.col("class_size") < _KA_K, F.col("class_size")).otherwise(0)
    return classes.agg(
        F.lit(_KA_K).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.sum((F.col("class_size") < _KA_K).cast("int"))
        .cast("bigint")
        .alias("n_violating_classes"),
        F.sum(viol).cast("bigint").alias("rows_at_risk"),
        F.round(
            F.sum(viol) * F.lit(1.0) / F.sum("class_size"), 6
        ).alias("at_risk_frac"),
    )


# --------------------------------------------------------------------------
# l-diversity audit (sensitive-attribute diversity per QI class).
# --------------------------------------------------------------------------

_LD_L = 3  # minimum distinct sensitive values per equivalence class


@workload(
    "privacy_l_diversity",
    oracle=f"""
WITH classes AS (
  SELECT event_type,
         date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS class_size,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
  FROM events
  GROUP BY event_type, day
)
SELECT CAST({_LD_L} AS BIGINT) AS l,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(n_sensitive) AS BIGINT) AS min_diversity,
       CAST(sum(CASE WHEN n_sensitive < {_LD_L} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_violating_classes,
       CAST(sum(CASE WHEN n_sensitive < {_LD_L} THEN class_size ELSE 0 END)
         AS BIGINT) AS rows_at_risk,
       ROUND(sum(CASE WHEN n_sensitive < {_LD_L} THEN class_size ELSE 0 END)
             * 1.0 / sum(class_size), 6) AS at_risk_frac
FROM classes
""",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the
    complement k-anonymity misses: a class can be large (k-safe) yet
    have every member share ONE sensitive value, so membership alone
    discloses it. Group by the quasi-identifier tuple (event type,
    day), count DISTINCT sensitive values (user_id stands in for the
    sensitive attribute), and report classes below l = {l} and the
    row mass they expose — the homogeneity-attack gate that runs
    alongside privacy_k_anonymity before a release.

    Scale: one groupBy with a COUNT DISTINCT per class — map-side
    partial distinct on (QI, sensitive), then the class rollup; swap
    the exact distinct for the HLL register sketch
    (operators/hll_store.py) when the sensitive domain per class
    outgrows memory — the audit thresholds on "at least l", which a
    ±13% m=64 estimate answers for any l ≪ class sizes."""
    ev = t(spark, sf_dir, "events")
    classes = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("class_size"),
            F.count_distinct("user_id").cast("bigint").alias("n_sensitive"),
        )
    )
    risk = F.when(
        F.col("n_sensitive") < _LD_L, F.col("class_size")
    ).otherwise(0)
    return classes.agg(
        F.lit(_LD_L).cast("bigint").alias("l"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("n_sensitive").cast("bigint").alias("min_diversity"),
        F.sum((F.col("n_sensitive") < _LD_L).cast("int"))
        .cast("bigint")
        .alias("n_violating_classes"),
        F.sum(risk).cast("bigint").alias("rows_at_risk"),
        F.round(
            F.sum(risk) * F.lit(1.0) / F.sum("class_size"), 6
        ).alias("at_risk_frac"),
    )


privacy_l_diversity.__doc__ = privacy_l_diversity.__doc__.format(l=_LD_L)


# --------------------------------------------------------------------------
# Per-source distributional divergence (Jensen-Shannon) vs the rest
# of the corpus — the mixture-curation companion to corpus_mixture_
# weights: a source whose token DISTRIBUTION diverges is boilerplate,
# off-domain, or mis-crawled even when its quota and quality bins
# look normal.
# --------------------------------------------------------------------------


@workload(
    "source_divergence_jsd",
    oracle="""
WITH toks AS (
  SELECT source,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
filtered AS (SELECT source, tok FROM toks WHERE tok <> ''),
cnts AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM filtered GROUP BY source, tok
),
gtok AS (
  SELECT tok, CAST(sum(c) AS BIGINT) AS g FROM cnts GROUP BY tok
),
tots AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM cnts GROUP BY source
),
grand AS (SELECT CAST(sum(g) AS BIGINT) AS n FROM gtok),
terms AS (
  SELECT c.source,
         c.c * 1.0 / t.tot AS p,
         (gl.g - c.c) * 1.0 / (gr.n - t.tot) AS q
  FROM cnts c
  JOIN gtok gl ON gl.tok = c.tok
  JOIN tots t ON t.source = c.source
  CROSS JOIN grand gr
),
per_source AS (
  SELECT source,
         0.5 * sum(p * ln(p)
                   + CASE WHEN q > 0 THEN q * ln(q) ELSE 0 END
                   - (p + q) * ln((p + q) / 2)) AS covered,
         sum(q) AS q_cov
  FROM terms GROUP BY source
)
SELECT p.source AS source, t.tot AS n_tokens,
       ROUND(p.covered + 0.5 * ln(2) * (1 - p.q_cov), 6) AS jsd_nats
FROM per_source p JOIN tots t ON t.source = p.source
ORDER BY jsd_nats DESC, p.source
""",
)
def source_divergence_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution
    against the REST of the corpus (Lin 1991) — per-source, not
    pairwise, so the output is S rows and the cost does not square
    with the source count. A high-JSD source is distributionally
    alien (template boilerplate, wrong domain, mojibake) even when
    volume quotas and quality bins pass; JSD is symmetric, bounded
    by ln 2, and defined even where supports differ — exactly why it
    beats raw KL for this screen.

    The trick that keeps it one-join: tokens ABSENT from a source
    contribute exactly 0.5·ln2·q to its JSD, so their total is
    0.5·ln2·(1 − Σ_covered q) and the sum only ever runs over the
    source's OWN (token, count) rows joined to the global counts —
    no source × vocabulary expansion anywhere.

    Scale: two combiner groupBys (source×token, token), one
    equi-join between them, one fold to S rows. The rest-
    distribution is derived by subtraction (g − c), so no second
    scan and no anti-join."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    cnts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    glob = cnts.groupBy("tok").agg(F.sum("c").cast("bigint").alias("g"))
    tots = cnts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("tot")
    )
    grand = glob.agg(F.sum("g").cast("bigint").alias("n"))
    terms = (
        cnts.join(glob, "tok")
        .join(F.broadcast(tots), "source")  # bound: <= |source| rows
        .crossJoin(grand)
        .select(
            "source",
            (F.col("c") * 1.0 / F.col("tot")).alias("p"),
            ((F.col("g") - F.col("c")) * 1.0
             / (F.col("n") - F.col("tot"))).alias("q"),
        )
    )
    per_source = terms.groupBy("source").agg(
        (0.5 * F.sum(
            F.col("p") * F.log("p")
            + F.when(F.col("q") > 0,
                     F.col("q") * F.log("q")).otherwise(0.0)
            - (F.col("p") + F.col("q"))
            * F.log((F.col("p") + F.col("q")) / 2)
        )).alias("covered"),
        F.sum("q").alias("q_cov"),
    )
    import math as _m

    return (
        per_source.join(F.broadcast(tots), "source")  # bound: <= |source| rows
        .select(
            "source",
            F.col("tot").alias("n_tokens"),
            F.round(
                F.col("covered")
                + 0.5 * _m.log(2) * (1 - F.col("q_cov")),
                6,
            ).alias("jsd_nats"),
        )
        .orderBy(F.col("jsd_nats").desc(), "source")
    )


# --------------------------------------------------------------------------
# Collocation extraction — PMI-ranked adjacent bigrams: the corpus-
# analysis primitive behind phrase vocabularies ("new york" units for
# a tokenizer) and boilerplate phrase detection.
# --------------------------------------------------------------------------

_COLL_MIN_SUPPORT = 5
_COLL_TOPK = 20


@workload(
    "collocation_pmi_bigrams",
    oracle=f"""
WITH toklists AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
unigrams AS (
  SELECT unnest(toks) AS tok FROM toklists
),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM unigrams
  WHERE tok <> '' GROUP BY tok
),
bigrams AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM toklists WHERE len(toks) >= 2
),
bg AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS nxy FROM bigrams
  WHERE bg NOT LIKE ' %' AND bg NOT LIKE '% ' GROUP BY bg
),
tots AS (
  SELECT (SELECT CAST(sum(n) AS BIGINT) FROM uni) AS nn,
         (SELECT CAST(sum(nxy) AS BIGINT) FROM bg) AS bb
),
scored AS (
  SELECT b.bg, b.nxy, ux.n AS nx, uy.n AS ny,
         ((CAST(b.nxy AS DOUBLE) * (CAST(t.nn AS DOUBLE)
            * CAST(t.nn AS DOUBLE))) / CAST(t.bb AS DOUBLE))
           / (CAST(ux.n AS DOUBLE) * CAST(uy.n AS DOUBLE)) AS ratio
  FROM bg b
  JOIN uni ux ON ux.tok = split_part(b.bg, ' ', 1)
  JOIN uni uy ON uy.tok = split_part(b.bg, ' ', 2)
  CROSS JOIN tots t
  WHERE b.nxy >= {_COLL_MIN_SUPPORT}
)
SELECT bg AS bigram, nxy AS n_pair, nx, ny,
       ROUND(ln(ratio), 6) AS pmi_nats,
       CAST(row_number() OVER (ORDER BY ratio DESC, bg) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {_COLL_TOPK}
ORDER BY rank
""",
)
def collocation_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked adjacent-bigram collocations (Church & Hanks 1990):
    pairs that co-occur far above chance — phrase-vocabulary
    candidates for a tokenizer, and (at the other extreme) the
    template phrases boilerplate detection keys on. PMI =
    ln(p(x,y) / p(x)p(y)) with p(x,y) over adjacent positions and a
    min-support floor of {_COLL_MIN_SUPPORT} (PMI is notoriously a
    rare-pair amplifier; the floor is the standard fix).

    Determinism: the RANKING key is the PMI ratio computed from the
    four exact BIGINT counts with an identical parenthesization in
    both engines — bit-identical doubles, so order (and tie-break on
    the bigram string) agrees; ln() only ever lands in the ROUNDED
    display column.

    Scale: two combiner groupBys (unigrams, adjacent bigrams — both
    explode a token array once) and two equi-joins of the bigram
    frame against the unigram counts; the top-k is over the
    support-filtered survivors."""
    return _colloc_report(_colloc_grid(t(spark, sf_dir, "documents")))


def _colloc_grid(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(kind, key, n): unigram (kind 'u') and adjacent-bigram (kind
    'b') counts of the documents' tokens — additive across any split
    of the documents, so the streaming twin (streaming/colloc.py)
    folds it per micro-batch."""
    toklists = docs.select(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("toks")
    )
    uni = (
        toklists.select(F.explode("toks").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    bg = (
        toklists.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ',"
                    " element_at(toks, i + 1)))"
                )
            ).alias("bg")
        )
        .filter(~F.col("bg").startswith(" ") & ~F.col("bg").endswith(" "))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nxy"))
    )
    return uni.select(F.lit("u").alias("kind"), F.col("tok").alias("key"),
                      "n").unionByName(
        bg.select(F.lit("b").alias("kind"), F.col("bg").alias("key"),
                  F.col("nxy").alias("n"))
    )


def _colloc_report(grid: DataFrame) -> DataFrame:
    """The top-k PMI ranking from a (kind, key, n) grid — shared by
    the batch workload and the streaming twin."""
    uni = grid.filter(F.col("kind") == "u").select(
        F.col("key").alias("tok"), "n"
    )
    bg = grid.filter(F.col("kind") == "b").select(
        F.col("key").alias("bg"), F.col("n").alias("nxy")
    )
    tots = uni.agg(F.sum("n").cast("bigint").alias("nn")).crossJoin(
        bg.agg(F.sum("nxy").cast("bigint").alias("bb"))
    )
    ux = uni.select(F.col("tok").alias("tx"), F.col("n").alias("nx"))
    uy = uni.select(F.col("tok").alias("ty"), F.col("n").alias("ny"))
    scored = (
        bg.filter(F.col("nxy") >= _COLL_MIN_SUPPORT)
        .withColumn("tx", F.split(F.col("bg"), " ").getItem(0))
        .withColumn("ty", F.split(F.col("bg"), " ").getItem(1))
        .join(ux, "tx")
        .join(uy, "ty")
        .crossJoin(tots)
        .withColumn(
            "ratio",
            F.expr(
                "((CAST(nxy AS DOUBLE) * (CAST(nn AS DOUBLE)"
                " * CAST(nn AS DOUBLE))) / CAST(bb AS DOUBLE))"
                " / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))"
            ),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("ratio").desc(), "bg")
        ).cast("bigint"),
    )
    return (
        ranked.filter(F.col("rank") <= _COLL_TOPK)
        .select(
            F.col("bg").alias("bigram"),
            F.col("nxy").alias("n_pair"),
            "nx", "ny",
            F.round(F.log("ratio"), 6).alias("pmi_nats"),
            "rank",
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# t-closeness — the third leg of the privacy trio (k-anonymity:
# class size; l-diversity: distinct sensitive values; this:
# sensitive-value DISTRIBUTION distance from the global one).
# --------------------------------------------------------------------------

_TC_LEVELS = 10      # ordered sensitive domain: global value deciles
_TC_T_NUM, _TC_T_DEN = 1, 5  # t = 0.2 as an exact rational


@workload(
    "privacy_t_closeness",
    oracle=f"""
WITH ev AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(round(value * 100) AS BIGINT) AS c, event_id
  FROM events
),
lv AS (
  SELECT event_type, day,
         ntile({_TC_LEVELS}) OVER (ORDER BY c, event_id) AS lvl
  FROM ev
),
cls AS (
  SELECT event_type, day, lvl, CAST(count(*) AS BIGINT) AS n
  FROM lv GROUP BY event_type, day, lvl
),
grid AS (
  SELECT c.event_type, c.day, l.lvl, coalesce(x.n, 0) AS n
  FROM (SELECT DISTINCT event_type, day FROM cls) c
  CROSS JOIN (SELECT unnest(range(1, {_TC_LEVELS} + 1)) AS lvl) l
  LEFT JOIN cls x ON x.event_type = c.event_type AND x.day = c.day
                 AND x.lvl = l.lvl
),
glvl AS (
  SELECT lvl, CAST(sum(n) AS BIGINT) AS g FROM cls GROUP BY lvl
),
big_n AS (SELECT CAST(sum(g) AS BIGINT) AS nn FROM glvl),
pre AS (
  SELECT gr.event_type, gr.day,
         CAST(sum(gr.n) OVER w AS BIGINT) AS cum_c,
         CAST(sum(gl.g) OVER w AS BIGINT) AS cum_g
  FROM grid gr JOIN glvl gl ON gl.lvl = gr.lvl
  WINDOW w AS (PARTITION BY gr.event_type, gr.day ORDER BY gr.lvl
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
emd AS (
  SELECT p.event_type, p.day,
         CAST(max(p.cum_c) AS BIGINT) AS n_c,
         CAST(sum(abs(p.cum_c * b.nn - p.cum_g * max_cc.n_c))
              AS BIGINT) AS emd_num
  FROM pre p
  CROSS JOIN big_n b
  JOIN (SELECT event_type, day, max(cum_c) AS n_c
        FROM pre GROUP BY event_type, day) max_cc
    ON max_cc.event_type = p.event_type AND max_cc.day = p.day
  GROUP BY p.event_type, p.day
),
flagged AS (
  SELECT e.*,
         e.emd_num * {_TC_T_DEN}
           > e.n_c * b.nn * ({_TC_LEVELS} - 1) * {_TC_T_NUM}
           AS violating,
         e.emd_num * 1.0 / (e.n_c * b.nn * ({_TC_LEVELS} - 1)) AS emd
  FROM emd e CROSS JOIN big_n b
)
SELECT ROUND({_TC_T_NUM} * 1.0 / {_TC_T_DEN}, 6) AS t,
       CAST(count(*) AS BIGINT) AS n_classes,
       ROUND(max(emd), 6) AS max_emd,
       CAST(sum(CASE WHEN violating THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(sum(CASE WHEN violating THEN n_c ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       ROUND(sum(CASE WHEN violating THEN n_c ELSE 0 END) * 1.0
             / sum(n_c), 6) AS at_risk_frac
FROM flagged
""",
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third privacy gate after k-anonymity (class size) and
    l-diversity (distinct values): a class passes only if its
    sensitive-value DISTRIBUTION stays within Earth-Mover distance t
    of the global one, closing the skewness attack l-diversity
    misses (a class can have l distinct values yet be 99% one of
    them). The sensitive domain is the ordered decile level of the
    BIGINT-cents event value, so the ordered-domain EMD is the
    prefix-sum form Σ|P_i − Q_i|/(m−1) — and with cross-multiplied
    BIGINT prefixes |cum_c·N − cum_g·n_c| the violation verdict
    (t = {_TC_T_NUM}/{_TC_T_DEN}) is an exact integer comparison;
    floats appear only in the rounded report columns.

    Scale: the decile assignment here is one global ntile (the
    sf-scale stand-in — at 100 TB compute the 9 global boundaries
    once and bin by comparison, the same two-phase discipline as the
    prefix-sum workloads); after it everything is a combiner groupBy
    to |classes|×{_TC_LEVELS} rows and one windowed prefix sum over
    that grid."""
    from pyspark.sql import Window as _W

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
        "event_id",
    )
    from datanika_core_spark.operators.ranking import global_ntile

    lv = global_ntile(
        ev, ["c", "event_id"], _TC_LEVELS, "lvl"
    ).select("event_type", "day", "lvl")
    cls = lv.groupBy("event_type", "day", "lvl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    levels = spark.range(1, _TC_LEVELS + 1).select(
        F.col("id").cast("int").alias("lvl")
    )
    classes = cls.select("event_type", "day").distinct()
    grid = (
        classes.crossJoin(levels)
        .join(cls, ["event_type", "day", "lvl"], "left")
        .select(
            "event_type", "day", "lvl",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        )
    )
    glob = cls.groupBy("lvl").agg(F.sum("n").cast("bigint").alias("g"))
    big_n = glob.agg(F.sum("g").cast("bigint").alias("nn"))
    w = (
        _W.partitionBy("event_type", "day")
        .orderBy("lvl")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    pre = grid.join(F.broadcast(glob), "lvl").select(  # bound: <= |lvl| rows
        "event_type", "day",
        F.sum("n").over(w).cast("bigint").alias("cum_c"),
        F.sum("g").over(w).cast("bigint").alias("cum_g"),
    )
    nc = pre.groupBy("event_type", "day").agg(
        F.max("cum_c").cast("bigint").alias("n_c")
    )
    emd = (
        pre.join(nc, ["event_type", "day"])
        .crossJoin(big_n)
        .groupBy("event_type", "day")
        .agg(
            F.max("n_c").alias("n_c"),
            F.sum(
                F.abs(
                    F.col("cum_c") * F.col("nn")
                    - F.col("cum_g") * F.col("n_c")
                )
            ).cast("bigint").alias("emd_num"),
        )
    )
    flagged = emd.crossJoin(big_n).select(
        "n_c",
        (
            F.col("emd_num") * _TC_T_DEN
            > F.col("n_c") * F.col("nn") * (_TC_LEVELS - 1) * _TC_T_NUM
        ).alias("violating"),
        (
            F.col("emd_num") * 1.0
            / (F.col("n_c") * F.col("nn") * (_TC_LEVELS - 1))
        ).alias("emd"),
    )
    risk = F.when(F.col("violating"), F.col("n_c")).otherwise(0)
    return flagged.agg(
        F.round(F.lit(_TC_T_NUM * 1.0 / _TC_T_DEN), 6).alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.round(F.max("emd"), 6).alias("max_emd"),
        F.sum(F.col("violating").cast("int")).cast("bigint")
        .alias("n_violating_classes"),
        F.sum(risk).cast("bigint").alias("rows_at_risk"),
        F.round(F.sum(risk) * 1.0 / F.sum("n_c"), 6).alias("at_risk_frac"),
    )


# --------------------------------------------------------------------------
# Differentially-private count release with budget accounting.
# --------------------------------------------------------------------------

_DP_EPS_NUM, _DP_EPS_DEN = 1, 2   # epsilon = 0.5 per release
_DP_RELEASES = 4                   # sequential releases of the SAME stat
_DP_DENOM = float(1 << 60)


@workload(
    "privacy_dp_laplace_release",
    oracle=f"""
WITH cnt AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
  FROM events GROUP BY event_type
),
rel AS (
  SELECT c.event_type AS event_type, r.range AS release,
         c.n_true AS n_true,
         ('0x' || substring(md5('dp-' || c.event_type || '-'
            || CAST(r.range AS VARCHAR)), 1, 15))::BIGINT
            / {_DP_DENOM!r} AS u
  FROM cnt c CROSS JOIN range({_DP_RELEASES}) r
),
noised AS (
  SELECT event_type, release, n_true,
         n_true + (-({_DP_EPS_DEN}.0 / {_DP_EPS_NUM})
           * CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END
           * ln(1.0 - 2.0 * abs(u - 0.5))) AS released
  FROM rel
)
SELECT event_type,
       CAST(release AS BIGINT) AS release,
       n_true,
       ROUND(released, 4) AS released,
       ROUND(avg(released) OVER (PARTITION BY event_type
                                 ORDER BY release
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW), 4) AS running_mean,
       ROUND((release + 1) * {_DP_EPS_NUM}.0 / {_DP_EPS_DEN}, 2)
         AS eps_spent
FROM noised
ORDER BY event_type, release
""",
)
def privacy_dp_laplace_release(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Differentially-private release of per-type distinct-user
    counts under sequential composition: each of {_DP_RELEASES}
    releases adds fresh Laplace(1/ε) noise (ε = {_DP_EPS_NUM}/
    {_DP_EPS_DEN}; sensitivity 1 for a distinct-user count), and the
    running mean column demonstrates the averaging attack the budget
    exists to bound — repeated releases of the same statistic
    converge toward the true count, which is exactly why eps_spent
    (basic composition: k·ε) must be tracked and capped. The fourth
    leg of the privacy family (k-anonymity, l-diversity,
    t-closeness audit the DATA; this audits the RELEASE mechanism).

    Determinism: the Laplace draw is the inverse CDF
    −(1/ε)·sign(u−½)·ln(1−2|u−½|) applied to the md5 60-bit
    uniform keyed on (type, release) — reproducible noise for the
    parity gate (a production release would use a real CSPRNG; the
    mechanism's shape, sensitivity, and accounting are what this
    workload pins). The one ln() lands directly in 4dp-rounded
    output columns — the ≤1-ulp libm spread is far inside.

    Scale: one COUNT(DISTINCT) groupBy (or swap in the HLL store
    for approximate counts at 100 TB), then a ×{_DP_RELEASES}
    constant fan-out and window means on the |types|-row grid —
    the DP layer is free; the only sized work is the count
    itself."""
    ev = t(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_true")
    )
    rel = cnt.select(
        "event_type", "n_true",
        F.explode(F.expr(f"sequence(0, {_DP_RELEASES - 1})"))
        .alias("release"),
    ).select(
        "event_type", "release", "n_true",
        (
            F.expr(
                _spark_hash(
                    "concat('dp-', event_type, '-',"
                    " cast(release as string))"
                )
            )
            / F.lit(_DP_DENOM)
        ).alias("u"),
    )
    b = float(_DP_EPS_DEN) / _DP_EPS_NUM
    noise = (
        -F.lit(b)
        * F.when(F.col("u") < 0.5, -1.0).otherwise(1.0)
        * F.log(1.0 - 2.0 * F.abs(F.col("u") - 0.5))
    )
    noised = rel.select(
        "event_type", "release", "n_true",
        (F.col("n_true") + noise).alias("released"),
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("release")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return noised.select(
        "event_type",
        F.col("release").cast("bigint").alias("release"),
        "n_true",
        F.round("released", 4).alias("released"),
        F.round(F.avg("released").over(wrun), 4).alias("running_mean"),
        F.round(
            (F.col("release") + 1) * float(_DP_EPS_NUM) / _DP_EPS_DEN, 2
        ).alias("eps_spent"),
    ).orderBy("event_type", "release")


# --------------------------------------------------------------------------
# Warner randomized response: locally-private rate estimation.
# --------------------------------------------------------------------------

_RR_FLIP_PCT = 25  # flip probability p = 0.25 -> debias factor 1/(1-2p) = 2

_S_RR_COIN = ("cast(conv(substring(md5(concat('rr-',"
              " cast(user_id as string))),1,15),16,10) as bigint)"
              " % 100")
_O_RR_COIN = ("('0x'||substring(md5('rr-' ||"
              " CAST(user_id AS VARCHAR)),1,15))::BIGINT % 100")


@workload(
    "privacy_randomized_response",
    oracle=f"""
WITH users AS (
  SELECT user_id,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS truth
  FROM events GROUP BY user_id
),
reported AS (
  SELECT user_id % 4 AS cohort, truth,
         CASE WHEN {_O_RR_COIN} < {_RR_FLIP_PCT}
              THEN 1 - truth ELSE truth END AS report
  FROM users
)
SELECT cohort,
       CAST(count(*) AS BIGINT) AS n_users,
       ROUND(sum(truth) * 1.0 / count(*), 6) AS true_rate,
       ROUND(sum(report) * 1.0 / count(*), 6) AS observed_rate,
       ROUND((sum(report) * 1.0 / count(*) - 0.25) / 0.5, 6)
         AS debiased_estimate,
       ROUND(abs((sum(report) * 1.0 / count(*) - 0.25) / 0.5
                 - sum(truth) * 1.0 / count(*)), 6) AS abs_err
FROM reported
GROUP BY cohort
ORDER BY cohort
""",
)
def privacy_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Warner randomized response — the local-DP mechanism: each
    user reports whether they purchased, but FLIPS the answer with
    probability p = 1/4 (deterministic md5 coin, so the mechanism
    replays bit-identically on both engines), giving every
    individual plausible deniability (ε = ln((1-p)/p) = ln 3 local
    DP); the aggregate debiases via t = (observed − p)/(1 − 2p).
    Reported per 4-way user cohort with the TRUE rate and the
    estimator's actual error alongside — the self-measuring-
    approximation convention (cf. privacy_dp_laplace_release, which
    protects the central aggregate; this protects the raw event
    stream before it is ever collected).

    Scale: one groupBy(user) for the per-user bit, one combiner agg
    per cohort — the privatized report column is what a client
    would actually transmit, so the pipeline after it never sees
    the truth. All counts BIGINT; the debias arithmetic runs once
    per cohort row."""
    users = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("bigint").alias("truth")
        )
    )
    reported = users.select(
        (F.col("user_id") % 4).alias("cohort"),
        "truth",
        F.when(
            F.expr(_S_RR_COIN) < _RR_FLIP_PCT, 1 - F.col("truth")
        ).otherwise(F.col("truth")).alias("report"),
    )
    n = F.count(F.lit(1))
    obs = F.sum("report") * 1.0 / n
    tr = F.sum("truth") * 1.0 / n
    return (
        reported.groupBy("cohort")
        .agg(
            n.cast("bigint").alias("n_users"),
            F.round(tr, 6).alias("true_rate"),
            F.round(obs, 6).alias("observed_rate"),
            F.round((obs - 0.25) / 0.5, 6).alias("debiased_estimate"),
            F.round(F.abs((obs - 0.25) / 0.5 - tr), 6).alias("abs_err"),
        )
        .orderBy("cohort")
    )


# --------------------------------------------------------------------------
# Heaps'-law vocabulary growth: V(n) = K·n^beta over ingest deciles.
# --------------------------------------------------------------------------

_HL_POINTS = 10
_HL_UNIT = 100000000

#: log-log OLS slope from the snapped integer moments (k points;
#: sx/sy/sxy/sxx are BIGINT unit sums) — shared text.
_HL_BETA = (
    "((k * sxy - sx * sy) * cast(1.0 as double)"
    " / (k * sxx - sx * sx))"
)


@workload(
    "corpus_heaps_law",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY doc_id) AS r,
         (SELECT count(*) FROM documents) AS nd
  FROM documents
),
firstr AS (
  SELECT term, CAST(min(rk.r) AS BIGINT) AS first_r
  FROM (SELECT doc_id, unnest({_O_TOKS}) AS term FROM documents) tk
  JOIN ranked rk ON rk.doc_id = tk.doc_id
  GROUP BY term
),
pts AS (
  -- greatest(..., 1): on degenerate corpora (< 10 docs) early
  -- deciles would size to 0, which the engine's non-equi join drops
  -- while a correlated count keeps with vocab=0 (then ln(0));
  -- pinning n_docs >= 1 keeps both engines on the same rows
  SELECT i AS decile,
         greatest(CAST((SELECT nd FROM ranked LIMIT 1) * i
                       // {_HL_POINTS} AS BIGINT),
                  CAST(1 AS BIGINT)) AS n_docs
  FROM unnest(range(1, {_HL_POINTS} + 1)) AS g(i)
),
vg AS (
  SELECT p.decile, p.n_docs,
         CAST((SELECT count(*) FROM firstr f WHERE f.first_r <= p.n_docs)
              AS BIGINT) AS vocab
  FROM pts p
  -- drop vocab=0 deciles exactly like the engine's inner join does
  WHERE (SELECT count(*) FROM firstr f WHERE f.first_r <= p.n_docs) >= 1
),
lg AS (
  SELECT decile, n_docs, vocab,
         CAST(round(ln(n_docs) * {_HL_UNIT}) AS BIGINT) AS xu,
         CAST(round(ln(vocab) * {_HL_UNIT}) AS BIGINT) AS yu
  FROM vg
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(xu) AS BIGINT) AS sx,
         CAST(sum(yu) AS BIGINT) AS sy,
         CAST(sum(xu // 10000 * (yu // 10000)) AS BIGINT) AS sxy,
         CAST(sum(xu // 10000 * (xu // 10000)) AS BIGINT) AS sxx
  FROM lg
)
SELECT l.decile, l.n_docs, l.vocab,
       ROUND({_HL_BETA.replace('sx * sy', 'sx // 10000 * (sy // 10000)')
              .replace('sx * sx', 'sx // 10000 * (sx // 10000)')}, 6)
         AS heaps_beta
FROM lg l CROSS JOIN mom
ORDER BY l.decile
""",
)
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: the corpus's distinct-term count
    V(n) at each ingest decile, plus the fitted power-law exponent β
    (log-log OLS over the 10 checkpoints) — the companion diagnostic
    to zipf_slope_terms: β near the English-corpus 0.4-0.6 band
    means healthy lexical growth, β collapsing toward 0 means the
    crawl is saturating into boilerplate/duplicates (the same signal
    dedup_marginal_rate_by_batch reads per batch, here as ONE
    corpus-level exponent).

    Determinism: V(n) comes from each term's FIRST ingest rank (one
    groupBy min — no sequential scan), checkpoint sizes are integer
    divisions, and the regression moments are 1e-4-snapped integer
    products of 1e-8-snapped logs (exact BIGINTs; the final slope is
    one shared-text division). Scale: explode → per-term min rank is
    the only corpus-sized pass (map-side combined); the fit runs on
    10 rows."""
    from datanika_core_spark.operators.ranking import global_row_number

    docs = t(spark, sf_dir, "documents")
    nd = docs.count()
    ranked = global_row_number(
        docs.select("doc_id"), ["doc_id"], "r"
    )
    firstr = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term"),
        )
        .join(ranked, "doc_id")
        .groupBy("term")
        .agg(F.min("r").cast("bigint").alias("first_r"))
    )
    # greatest(..., 1) mirrors the oracle: degenerate corpora
    # (< 10 docs) would otherwise size early deciles to 0 docs.
    pts = spark.range(1, _HL_POINTS + 1).select(
        F.col("id").cast("bigint").alias("decile"),
        F.greatest(
            (F.lit(nd) * F.col("id") / _HL_POINTS).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("n_docs"),
    )
    vg = (
        pts
        .join(firstr, F.col("first_r") <= F.col("n_docs"))
        .groupBy("decile", "n_docs")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    lg = vg.select(
        "decile", "n_docs", "vocab",
        F.round(F.log("n_docs") * _HL_UNIT).cast("bigint").alias("xu"),
        F.round(F.log("vocab") * _HL_UNIT).cast("bigint").alias("yu"),
    )
    mom = lg.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("xu").cast("bigint").alias("sx"),
        F.sum("yu").cast("bigint").alias("sy"),
        F.sum(F.expr("xu div 10000 * (yu div 10000)"))
        .cast("bigint").alias("sxy"),
        F.sum(F.expr("xu div 10000 * (xu div 10000)"))
        .cast("bigint").alias("sxx"),
    )
    beta = F.expr(
        _HL_BETA.replace("sx * sy", "sx div 10000 * (sy div 10000)")
        .replace("sx * sx", "sx div 10000 * (sx div 10000)")
    )
    return (
        lg.crossJoin(mom)
        .select(
            "decile", "n_docs", "vocab",
            F.round(beta, 6).alias("heaps_beta"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# MATTR lexical diversity — the windowed type-token ratio.
# --------------------------------------------------------------------------

#: MATTR sliding-window width (tokens)
_MATTR_W = 25


@workload(
    "text_mattr_diversity",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term,
         generate_subscripts(
             regexp_split_to_array(lower(trim(text)), '\\s+'), 1) AS pos
  FROM documents
),
sized AS (
  SELECT doc_id, lang, term, pos,
         count(*) OVER (PARTITION BY doc_id) AS len,
         coalesce(lag(pos) OVER (PARTITION BY doc_id, term
                                 ORDER BY pos), 0) AS prev
  FROM tok
),
contrib AS (
  SELECT doc_id, lang, term, len, len - {_MATTR_W} + 1 AS nwin,
         greatest(0, least(pos, len - {_MATTR_W} + 1)
                     - greatest(prev, pos - {_MATTR_W}, 0)) AS c
  FROM sized WHERE len >= {_MATTR_W}
),
per_doc AS (
  SELECT doc_id, lang,
         CAST(sum(c) AS BIGINT) AS firsts,
         CAST(max(nwin) AS BIGINT) AS nwin,
         CAST(count(*) AS BIGINT) AS toks
  FROM contrib GROUP BY 1, 2
),
lang_types AS (
  SELECT lang, CAST(count(DISTINCT term) AS BIGINT) AS n_types
  FROM contrib GROUP BY lang
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d.nwin) AS BIGINT) AS n_windows,
       ROUND(sum(d.firsts) * 1.0 / sum(d.nwin) / {_MATTR_W}, 6) AS mattr,
       ROUND(max(lt.n_types) * 1.0 / sum(d.toks), 6) AS ttr
FROM per_doc d JOIN lang_types lt ON lt.lang = d.lang
GROUP BY d.lang
ORDER BY d.lang
""",
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR lexical diversity per language (Covington & McFall
    2010): the plain type-token ratio (TTR) shrinks with document
    length (Heaps' law), so corpora of different lengths aren't
    comparable — MATTR fixes it by averaging the distinct-token
    count over every sliding window of W={_MATTR_W} tokens. Low
    MATTR flags repetitive/templated text the quality filters
    should down-weight; TTR is reported alongside to show the bias.

    The trick that makes it ONE pass instead of L windows per doc:
    token at position j is the first occurrence within a window
    starting at s iff prev(j) < s ≤ j and the window covers j, so
    its total contribution to Σ_windows distinct is
    max(0, min(j, nwin) − max(prev_j, j−W, 0)) — pure integer
    arithmetic off one lag window, no per-window expansion. MATTR =
    Σ contributions / (n_windows · W) exactly.

    Determinism: integer counts end to end, two display ratios.

    Scale: one shuffle on (doc_id, term) for the lag, one lang
    groupBy — both map-side combinable; nothing materializes the
    window × token cross product (docs shorter than W drop on both
    sides)."""
    docs = t(spark, sf_dir, "documents")
    W = _MATTR_W
    tok = docs.select(
        "doc_id", "lang",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("pos0", "term"),
    ).select("doc_id", "lang", "term", (F.col("pos0") + 1).alias("pos"))
    wdoc = Window.partitionBy("doc_id")
    wterm = Window.partitionBy("doc_id", "term").orderBy("pos")
    sized = tok.select(
        "doc_id", "lang", "term", "pos",
        F.count(F.lit(1)).over(wdoc).alias("len"),
        F.coalesce(F.lag("pos").over(wterm), F.lit(0)).alias("prev"),
    )
    contrib = sized.filter(F.col("len") >= W).select(
        "doc_id", "lang", "term",
        (F.col("len") - W + 1).alias("nwin"),
        F.greatest(
            F.lit(0),
            F.least(F.col("pos"), F.col("len") - W + 1)
            - F.greatest(
                F.col("prev"), F.col("pos") - W, F.lit(0)
            ),
        ).alias("c"),
    )
    per_doc = contrib.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("bigint").alias("firsts"),
        F.max("nwin").cast("bigint").alias("nwin"),
        F.count(F.lit(1)).cast("bigint").alias("toks"),
    )
    lang_types = contrib.groupBy("lang").agg(
        F.count_distinct("term").cast("bigint").alias("n_types")
    )
    return (
        per_doc.join(F.broadcast(lang_types), "lang")  # bound: <= |lang| rows
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nwin").cast("bigint").alias("n_windows"),
            F.round(
                F.sum("firsts") * 1.0 / F.sum("nwin") / W, 6
            ).alias("mattr"),
            F.round(
                F.max("n_types") * 1.0 / F.sum("toks"), 6
            ).alias("ttr"),
        )
        .select("lang", "n_docs", "n_windows", "mattr", "ttr")
        .orderBy("lang")
    )
