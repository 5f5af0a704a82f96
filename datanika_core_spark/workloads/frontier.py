"""Crawl-frontier scheduling, passage-level boilerplate removal,
distribution-shaping filters and n-gram LM stats — the ingestion-side
operators of a crawl→corpus pipeline (upstream of the curation chain
in workloads/pipeline.py).

Reference parity: the reference (an ELT orchestration platform) has
no crawl layer; these belong to the beyond-reference training-data
families the project brief mandates. Scale notes per workload; the
common theme is that every one is a single scan + one keyed shuffle,
with all per-row scoring as columnar expressions (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.operators.minhash import (
    spark_hash_expr as _spark_hash,
)
from datanika_core_spark.workloads import t, workload

_O_HASH = "('0x'||substring(md5({x}),1,15))::BIGINT"
_O_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"

# --------------------------------------------------------------------------
# Crawl-frontier per-domain quota (politeness scheduling).
# --------------------------------------------------------------------------

_FRONTIER_K = 40  # fetch slots per domain per scheduling round


@workload(
    "crawl_frontier_quota",
    oracle=f"""
SELECT doc_id, source,
       ROUND(priority, 6) AS priority,
       CAST(fetch_rank AS BIGINT) AS fetch_rank,
       fetch_rank <= {_FRONTIER_K} AS admitted
FROM (
  SELECT doc_id, source, priority,
         row_number() OVER (
           PARTITION BY source
           ORDER BY priority DESC, doc_id
         ) AS fetch_rank
  FROM (
    SELECT doc_id, source,
           n_chars * 1.0 / 200
             + ({_O_HASH.format(x="'prio-' || CAST(doc_id AS VARCHAR)")}
                % 1000) / 1000.0 AS priority
    FROM documents
  )
)
ORDER BY source, fetch_rank
""",
)
def crawl_frontier_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain politeness scheduling: rank every frontier URL
    (doc) within its domain (source) by a priority score — here a
    length prior plus a deterministic md5 tiebreak jitter, standing
    in for a learned fetch-value model — and admit the top K per
    domain into this round's fetch budget.

    Scale: ONE shuffle, keyed by domain. Domains are numerous and
    individually small (the web's domain distribution), so the
    window's per-key sort is bounded; a mega-domain (skew) caps at
    its quota anyway, and AQE skew-split handles the sort spill. The
    full ranked frontier (not just admitted rows) is returned so the
    scheduler can persist `fetch_rank` as the next round's resume
    point — reruns are deterministic (no rand())."""
    docs = t(spark, sf_dir, "documents")
    priority = (
        F.col("n_chars") * F.lit(1.0) / 200
        + (
            F.expr(_spark_hash("concat('prio-', cast(doc_id as string))"))
            % 1000
        )
        / 1000.0
    )
    w = Window.partitionBy("source").orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", priority.alias("priority")
        )
        .withColumn("fetch_rank", F.row_number().over(w))
        .select(
            "doc_id",
            "source",
            F.round("priority", 6).alias("priority"),
            F.col("fetch_rank").cast("bigint").alias("fetch_rank"),
            (F.col("fetch_rank") <= _FRONTIER_K).alias("admitted"),
        )
        .orderBy("source", "fetch_rank")
    )


# --------------------------------------------------------------------------
# Passage-level boilerplate removal (shared-chunk suppression).
# --------------------------------------------------------------------------

_CHUNK = 8       # tokens per passage
_BP_MIN_DOCS = 4  # a passage seen in >= this many docs is boilerplate

# non-overlapping 8-token chunks of the token array (tail shorter than
# _CHUNK kept: truncation would silently exempt doc tails from the
# frequency count)
_CHUNKS_SPARK = (
    f"transform(sequence(0, (size(toks)-1) DIV {_CHUNK}),"
    f" i -> concat_ws(' ', slice(toks, i*{_CHUNK}+1, {_CHUNK})))"
)
_CHUNKS_DUCK = (
    f"list_transform(range(0, ((len(toks)-1) // {_CHUNK}) + 1),"
    f" i -> array_to_string(list_slice(toks, i*{_CHUNK}+1,"
    f" i*{_CHUNK}+{_CHUNK}), ' '))"
)


@workload(
    "boilerplate_passage_removal",
    headline=True,
    oracle=f"""
WITH chunks AS (
  SELECT doc_id, {_O_HASH.format(x='chunk')} AS ch
  FROM (
    SELECT doc_id, unnest(chunks) AS chunk
    FROM (SELECT doc_id, {_CHUNKS_DUCK} AS chunks
          FROM (SELECT doc_id, {_O_TOKS} AS toks FROM documents))
  )
),
freq AS (
  SELECT ch, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY ch
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.n_docs >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_boilerplate,
       ROUND(sum(CASE WHEN f.n_docs >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
         * 1.0 / count(*), 6) AS bp_ratio
FROM chunks c JOIN freq f USING (ch)
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def boilerplate_passage_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate suppression at passage granularity:
    hash each non-overlapping 8-token passage, count how many
    DISTINCT docs contain it corpus-wide, and report each doc's
    boilerplate fraction (passages shared by >= 4 docs) — the drop
    decision happens per passage, not per doc, so navigation chrome
    and license headers vanish while unique prose survives.

    Scale: ONE pass over the corpus (a hash-frequency subplan joined
    back would re-run the explode+hash lineage — Spark doesn't reuse
    unexchanged subplans). Explode → the r12 SHARED EXCHANGE: an
    explicit repartition(ch) is the only pre-window shuffle — hash
    partitioning on ch satisfies the (doc, ch) agg's clustered
    distribution (ch is a grouping key) AND the ch-window's, so the
    agg and the window run in one stage on one exchange (guide §2.4
    "window functions partitioned by the same key as a preceding
    aggregation do not need a second shuffle"; measured 0.77 → 0.69 s
    at sf0.1, static plan 3 hash exchanges → 2). Trade: the exchange
    carries the raw exploded (doc, ch) stream instead of the
    map-side-combined triples — within-doc exact-chunk repeats are
    the rare case, and the old shape's SECOND full-stream exchange
    (agg output reshuffled by ch for the window) cost more than the
    forfeited combine at every duplication factor below 2×. Then
    count(*) OVER (PARTITION BY ch) over the unique rows IS the
    distinct-doc frequency. Post-explode shuffles touch (doc, hash,
    cnt) triples only — tiny next to the corpus text."""
    docs = t(spark, sf_dir, "documents")
    per_doc = (
        docs.select(
            "doc_id",
            F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
        )
        .select("doc_id", F.explode(F.expr(_CHUNKS_SPARK)).alias("chunk"))
        .select("doc_id", F.expr(_spark_hash("chunk")).alias("ch"))
        .repartition("ch")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("ch"))
    is_bp = F.when(n_docs >= _BP_MIN_DOCS, F.col("cnt")).otherwise(0)
    return (
        per_doc.select("doc_id", "cnt", is_bp.alias("bp_cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_chunks"),
            F.sum("bp_cnt").cast("bigint").alias("n_boilerplate"),
            F.round(
                F.sum("bp_cnt") * F.lit(1.0) / F.sum("cnt"), 6
            ).alias("bp_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Cross-document repeated-substring spans (overlapping n-grams).
# --------------------------------------------------------------------------

_SPAN = 10  # tokens per overlapping window

# all overlapping 10-grams (guarded: sequence(1, 0) in Spark would
# generate a DESCENDING [1, 0], not an empty array)
_SPANS_SPARK = (
    f"CASE WHEN size(toks) >= {_SPAN} THEN"
    f" transform(sequence(1, size(toks)-{_SPAN}+1),"
    f" i -> concat_ws(' ', slice(toks, i, {_SPAN})))"
    f" ELSE array() END"
)
_SPANS_DUCK = (
    f"CASE WHEN len(toks) >= {_SPAN} THEN"
    f" list_transform(range(1, len(toks)-{_SPAN}+2),"
    f" i -> array_to_string(list_slice(toks, i, i+{_SPAN}-1), ' '))"
    f" ELSE [] END"
)


@workload(
    "dedup_repeated_span_fraction",
    headline=True,
    oracle=f"""
WITH grams AS (
  SELECT doc_id, {_O_HASH.format(x='g')} AS gh
  FROM (
    SELECT doc_id, unnest(spans) AS g
    FROM (SELECT doc_id, {_SPANS_DUCK} AS spans
          FROM (SELECT doc_id, {_O_TOKS} AS toks FROM documents))
  )
),
freq AS (
  SELECT gh, count(DISTINCT doc_id) AS n_docs FROM grams GROUP BY gh
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeated,
       ROUND(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS rep_fraction
FROM grams g JOIN freq f USING (gh)
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
)
def dedup_repeated_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal (the suffix-array criterion of
    "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022, at fixed width): every OVERLAPPING 10-token
    span is hashed, spans occurring in >= 2 distinct docs are
    repeated, and each doc reports its repeated-span fraction —
    docs above a threshold get their duplicated spans cut or the
    whole doc dropped.

    Scale: overlapping windows inflate the explode x10 vs the
    non-overlapping chunker (boilerplate_passage_removal) — still
    linear in corpus tokens, and the groupBy(hash) combiner
    collapses repeats map-side. A true suffix array finds
    variable-length maximal repeats; fixed-width spans are the
    shuffle-friendly approximation (any repeat >= 10 tokens contains
    a repeated 10-gram, so recall at the threshold width is exact)."""
    docs = t(spark, sf_dir, "documents")
    # single corpus pass, same shape as boilerplate_passage_removal:
    # agg to unique (doc, gram-hash) rows, window count over the
    # hash gives the distinct-doc frequency without a join-back that
    # would re-run the explode+hash lineage. r12 SHARED EXCHANGE: the
    # explicit repartition(gh) is the only pre-window shuffle — it
    # satisfies both the (doc, gh) agg's and the gh-window's
    # clustered distribution, fusing them into one stage (guide §2.4;
    # boilerplate_passage_removal's docstring has the byte-level
    # trade; measured 1.59 → 1.52 s at sf0.1, 3 hash exchanges → 2)
    per_doc = (
        docs.select(
            "doc_id",
            F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
        )
        .select("doc_id", F.explode(F.expr(_SPANS_SPARK)).alias("g"))
        .select("doc_id", F.expr(_spark_hash("g")).alias("gh"))
        .repartition("gh")
        .groupBy("doc_id", "gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    rep_cnt = F.when(n_docs >= 2, F.col("cnt")).otherwise(0)
    return (
        per_doc.select("doc_id", "cnt", rep_cnt.alias("rep_cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_spans"),
            F.sum("rep_cnt").cast("bigint").alias("n_repeated"),
            F.round(
                F.sum("rep_cnt") * F.lit(1.0) / F.sum("cnt"), 6
            ).alias("rep_fraction"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Length-band filter from per-language percentiles.
# --------------------------------------------------------------------------


@workload(
    "length_percentile_filter",
    oracle="""
WITH lens AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_toks
  FROM documents
),
bands AS (
  SELECT lang,
         quantile_cont(n_toks, 0.05) AS p05,
         quantile_cont(n_toks, 0.95) AS p95
  FROM lens GROUP BY lang
)
SELECT lang,
       ROUND(p05, 4) AS p05,
       ROUND(p95, 4) AS p95,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_toks < p05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_too_short,
       CAST(sum(CASE WHEN n_toks > p95 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_too_long
FROM lens JOIN bands USING (lang)
GROUP BY lang, p05, p95
ORDER BY lang
""",
)
def length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-derived length filtering: compute each language's 5th /
    95th percentile token count (exact linear-interpolation
    `percentile`, matching DuckDB's quantile_cont), then count the
    docs outside the band — the adaptive alternative to hard-coded
    min/max length cutoffs, which break on languages with different
    tokenization density.

    Scale: two shuffles on `lang` (percentile agg, then the
    band-count agg after a broadcast join of the tiny per-lang band
    table). Exact percentile sorts per language group — at 100 TB
    swap `percentile` for `percentile_approx` (t-digest sketch,
    mergeable map-side, no sort); the exact version here doubles as
    the oracle for that approximation's error measurement."""
    lens = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "n_toks"
        ),
    )
    bands = lens.groupBy("lang").agg(
        F.expr("percentile(n_toks, 0.05)").alias("p05"),
        F.expr("percentile(n_toks, 0.95)").alias("p95"),
    )
    return (
        lens.join(F.broadcast(bands), "lang")  # bound: <= |lang| rows
        .groupBy("lang", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_toks") < F.col("p05")).cast("int"))
            .cast("bigint")
            .alias("n_too_short"),
            F.sum((F.col("n_toks") > F.col("p95")).cast("int"))
            .cast("bigint")
            .alias("n_too_long"),
        )
        .select(
            "lang",
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
            "n_docs",
            "n_too_short",
            "n_too_long",
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Winsorization of a metric column (robust outlier clamping).
# --------------------------------------------------------------------------


@workload(
    "winsorize_event_values",
    oracle="""
WITH bands AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS p01,
         quantile_cont(value, 0.99) AS p99
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN e.value < b.p01 OR e.value > b.p99
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
       ROUND(avg(e.value), 4) AS mean_raw,
       ROUND(avg(CASE WHEN e.value < b.p01 THEN b.p01
                      WHEN e.value > b.p99 THEN b.p99
                      ELSE e.value END), 4) AS mean_winsor,
       ROUND(stddev_samp(e.value), 4) AS std_raw,
       ROUND(stddev_samp(CASE WHEN e.value < b.p01 THEN b.p01
                              WHEN e.value > b.p99 THEN b.p99
                              ELSE e.value END), 4) AS std_winsor
FROM events e JOIN bands b USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
""",
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize the event `value` metric per event type — clamp to
    the [p01, p99] band — and report raw vs winsorized mean/stddev,
    the standard robustification before a metric feeds a quality
    classifier or reward model (one fat-finger value otherwise drags
    the mean for its whole group).

    Scale: same two-shuffle shape as length_percentile_filter —
    percentile agg per type, broadcast the tiny band table back, one
    final agg. The clamp itself is a columnar CASE (codegen'd), and
    at 100 TB the exact percentile becomes percentile_approx."""
    events = t(spark, sf_dir, "events")
    bands = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    clamped = F.when(F.col("value") < F.col("p01"), F.col("p01")).when(
        F.col("value") > F.col("p99"), F.col("p99")
    ).otherwise(F.col("value"))
    out_of_band = (
        (F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99"))
    ).cast("int")
    return (
        # bound: <= |event_type| rows
        events.join(F.broadcast(bands), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(out_of_band).cast("bigint").alias("n_clamped"),
            F.round(F.avg("value"), 4).alias("mean_raw"),
            F.round(F.avg(clamped), 4).alias("mean_winsor"),
            F.round(F.stddev_samp("value"), 4).alias("std_raw"),
            F.round(F.stddev_samp(clamped), 4).alias("std_winsor"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Mixture resampling to a uniform source distribution.
# --------------------------------------------------------------------------


@workload(
    "mixture_resample_uniform",
    oracle=f"""
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
),
target AS (SELECT min(n) AS floor_n FROM counts)
SELECT c.source,
       CAST(c.n AS BIGINT) AS n_docs,
       ROUND(t.floor_n * 1.0 / c.n, 6) AS keep_rate,
       CAST((
         SELECT count(*) FROM documents d
         WHERE d.source = c.source
           AND {_O_HASH.format(x="'mix-' || CAST(d.doc_id AS VARCHAR)")}
               % 1000000 < CAST(t.floor_n * 1000000.0 / c.n AS BIGINT)
       ) AS BIGINT) AS n_kept
FROM counts c CROSS JOIN target t
ORDER BY c.source
""",
)
def mixture_resample_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every source to the smallest source's size —
    uniform mixture, the degenerate case of data-mixing weights
    (corpus_mixture_weights computes the weights; this workload
    EXECUTES a resample). Membership is deterministic:
    md5('mix-'||doc_id) % 1e6 < floor(rate*1e6), so incremental
    corpus extensions keep prior sampling decisions without
    coordination, and the realized count concentrates within
    ~1/sqrt(n) of the target.

    Scale: per-source counts are a combiner-friendly agg; the rate
    table (sources × 1 row) broadcasts back; the keep decision is a
    per-row filter — no second shuffle over the corpus. At 100 TB
    the same plan holds with sources in the thousands."""
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    floor_n = counts.agg(F.min("n").alias("floor_n"))
    # cache: `rates` feeds BOTH the keep-filter join and the final
    # report join — uncached, each use re-runs the per-source count
    # aggregation (a full corpus scan each time); cached, the
    # sources×1-row table is computed once. Tiny (one row per
    # source), so this holds at 100 TB.
    rates = counts.crossJoin(floor_n).select(
        "source",
        "n",
        (F.col("floor_n") * F.lit(1000000.0) / F.col("n"))
        .cast("bigint")
        .alias("thresh_ppm"),
        (F.col("floor_n") * F.lit(1.0) / F.col("n")).alias("keep_rate"),
    ).cache()
    kept = (
        docs.join(F.broadcast(rates), "source")  # bound: <= |source| rows
        .filter(
            F.expr(_spark_hash("concat('mix-', cast(doc_id as string))"))
            % 1000000
            < F.col("thresh_ppm")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        # bound: <= |source| rows
        rates.join(F.broadcast(kept), "source", "left")
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.round("keep_rate", 6).alias("keep_rate"),
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Bigram language-model counts (tokenizer/LM training stats).
# --------------------------------------------------------------------------

_BIGRAM_TOPK = 15

_BIGRAMS_PAIRS_SPARK = (
    "transform(sequence(1, size(toks)-1),"
    " i -> struct(toks[i-1] as w1, toks[i] as w2))"
)
_BIGRAMS_PAIRS_DUCK = (
    "list_transform(range(1, len(toks)),"
    " i -> {'w1': toks[i], 'w2': toks[i+1]})"
)


@workload(
    "bigram_lm_topk",
    oracle=f"""
WITH pairs AS (
  SELECT lang, u.bg.w1 AS w1, u.bg.w2 AS w2
  FROM (SELECT lang, {_BIGRAMS_PAIRS_DUCK} AS bgs
        FROM (SELECT lang, {_O_TOKS} AS toks FROM documents)
        WHERE len(toks) >= 2),
       unnest(bgs) AS u(bg)
),
big AS (
  SELECT lang, w1, w2, count(*) AS c
  FROM pairs GROUP BY lang, w1, w2
),
uni AS (
  SELECT lang, w1, sum(c) AS c1 FROM big GROUP BY lang, w1
)
SELECT lang, w1, w2,
       CAST(c AS BIGINT) AS pair_count,
       ROUND(c * 1.0 / c1, 6) AS cond_prob
FROM (
  SELECT b.lang, b.w1, b.w2, b.c, u.c1,
         row_number() OVER (
           PARTITION BY b.lang
           ORDER BY b.c DESC, b.w1, b.w2
         ) AS rk
  FROM big b JOIN uni u USING (lang, w1)
)
WHERE rk <= {_BIGRAM_TOPK}
ORDER BY lang, pair_count DESC, w1, w2
""",
)
def bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bigram LM statistics: the top-{_BIGRAM_TOPK}
    bigrams by count with their conditional probability
    P(w2 | w1) = c(w1,w2) / c(w1·) — the counting pass behind
    tokenizer merges (BPE picks the argmax pair) and n-gram LM
    estimation, with a total-order tiebreak so top-k is
    deterministic.

    Scale: explode → groupBy(lang,w1,w2) with map-side partial
    aggregation (natural-language bigram frequency is Zipfian, so
    combiners collapse most of the volume before the shuffle). The
    unigram table derives from the bigram table — no second corpus
    pass — and the top-k window runs on the already-aggregated
    (small) count table."""
    docs = t(spark, sf_dir, "documents")
    pairs = (
        docs.select(
            "lang",
            F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
        )
        .filter(F.size("toks") >= 2)
        .select("lang", F.explode(F.expr(_BIGRAMS_PAIRS_SPARK)).alias("bg"))
        .select("lang", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    big = pairs.groupBy("lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    uni = big.groupBy("lang", "w1").agg(F.sum("c").alias("c1"))
    w = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("w1"), F.col("w2")
    )
    return (
        big.join(uni, ["lang", "w1"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BIGRAM_TOPK)
        .select(
            "lang",
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("pair_count"),
            F.round(F.col("c") * F.lit(1.0) / F.col("c1"), 6).alias(
                "cond_prob"
            ),
        )
        .orderBy("lang", F.col("pair_count").desc(), "w1", "w2")
    )


# --------------------------------------------------------------------------
# BPE merge learning (iterative; Python-reference-verified, no SQL oracle).
# --------------------------------------------------------------------------

_BPE_MERGES = 10

#: Shared recursive-CTE text replaying the BPE merge loop: `words`
#: (frequency-weighted vocab), `vocab0` (char-split symbol lists,
#: word identity carried), and `bpe` — one row set per merge round,
#: each round argmaxing pair counts over the working vocabulary and
#: rewriting every word with the greedy left-to-right list_reduce
#: fold. Used by bpe_learned_merges (reads the merge columns) and
#: bpe_tokenize_corpus (reads the final symbol lists per word).
_O_BPE_CTES = rf"""words AS (
  SELECT w AS word, count(*) AS cnt FROM (
    SELECT unnest({_O_TOKS}) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
vocab0 AS (
  SELECT word, string_split(word, '') AS syms, cnt FROM words
),
bpe AS (
  SELECT 0 AS rank, CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
         CAST(NULL AS BIGINT) AS pc, word, syms, cnt
  FROM vocab0
  UNION ALL
  SELECT r.rank + 1, best.a, best.b, best.pc, r.word,
         string_split(
           list_reduce(list_prepend('', r.syms), (acc, s) ->
             CASE WHEN s = best.b AND ends_with(acc, chr(31) || best.a)
                  THEN acc || s
                  ELSE acc || chr(31) || s END),
           chr(31))[2:],
         r.cnt
  FROM bpe r CROSS JOIN (
    SELECT a, b, pc FROM (
      SELECT (t.p).a AS a, (t.p).b AS b, CAST(sum(t.cnt) AS BIGINT) AS pc
      FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
                 i -> struct_pack(a := syms[i], b := syms[i+1]))) AS p,
               cnt
        FROM bpe
      ) t
      GROUP BY 1, 2
    ) ORDER BY pc DESC, a, b LIMIT 1
  ) best
  WHERE r.rank < {_BPE_MERGES}
)"""


@workload(
    "bpe_learned_merges",
    # Recursive-CTE oracle: DuckDB's recursive CTEs allow aggregates
    # and self-joins in the recursive term, so the full BPE loop
    # replays in SQL — each round counts adjacent pairs over the
    # working vocabulary (unnest + GROUP BY), argmaxes with the same
    # (count desc, pair lexicographic) tiebreak, and rewrites every
    # word with a list_reduce greedy left-to-right fold (the fold is
    # exactly Sennrich Algorithm 1's scan: merge when the
    # accumulator's last symbol is `a` and the next is `b`; the
    # just-merged `ab` can never re-match as `a` since b is
    # non-empty). RE2's missing lookahead is irrelevant here — the
    # fold never uses regex. Same technique as the r4 EWMA /
    # Holt-Winters recursive oracles (timeseries.py).
    oracle=f"""
WITH RECURSIVE {_O_BPE_CTES}
SELECT rank, a AS "left", b AS "right", a || b AS merged, pc AS pair_count
FROM (SELECT DISTINCT rank, a, b, pc FROM bpe WHERE rank >= 1)
ORDER BY rank
""",
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first {n} BPE merges learned from the corpus (Sennrich
    et al. 2016) — rank, merged pair and its frequency-weighted
    count. Iterative: each rank depends on the previous merge's
    rewrite, so this is a driver loop over the (small) vocabulary
    table, not a single declarative plan — see operators/bpe.py for
    the scale analysis (corpus scanned once; iterations run on the
    vocab)."""
    from datanika_core_spark.operators.bpe import learn_merges

    docs = t(spark, sf_dir, "documents")
    merges = learn_merges(docs, n_merges=_BPE_MERGES)
    return spark.createDataFrame(
        [(r, a, b, a + b, c) for (r, a, b, c) in merges],
        "rank int, left string, right string, merged string,"
        " pair_count bigint",
    )


@workload(
    "bpe_tokenize_corpus",
    # The ENCODE half of the tokenizer family, driver-checked: the
    # oracle replays the same merge recursion (shared _O_BPE_CTES),
    # reads each word's FINAL symbol list from the last round, and
    # joins it back onto the per-doc word stream — exact because BPE
    # inference on a training-corpus word reproduces training's
    # rewrite of that word (same merge list, same greedy scan).
    oracle=f"""
WITH RECURSIVE {_O_BPE_CTES},
wtok AS MATERIALIZED (
  SELECT word, CAST(len(syms) AS BIGINT) AS n_tok
  FROM bpe WHERE rank = (SELECT max(rank) FROM bpe)
),
docw AS (
  SELECT doc_id, source, unnest({_O_TOKS}) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
perdoc AS (
  SELECT d.doc_id, d.source,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(t.n_tok) AS BIGINT) AS n_tokens
  FROM docw d JOIN wtok t ON t.word = d.w
  WHERE d.w <> ''
  GROUP BY d.doc_id, d.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_tokens) AS BIGINT) AS total_bpe_tokens,
       ROUND(sum(n_tokens) * 1.0 / count(*), 4) AS avg_tokens_per_doc,
       ROUND(sum(n_tokens) * 1.0 / sum(n_words), 6) AS tokens_per_word
FROM perdoc GROUP BY source ORDER BY source
""",
)
def bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the learned BPE merges and report
    per-source token budgets — the numbers a training-data pipeline
    actually plans with (sequence packing, mixture weights, cost
    estimates are all denominated in tokens, not documents).

    Scale: learn_merges iterates on the (word, count) vocab (corpus
    scanned once); apply_merges is a MAP-ONLY projection — the merge
    list compiles into a chained regexp rewrite evaluated per word,
    no shuffle, no Python — and the rollup is one combiner-friendly
    groupBy(source). At real tokenizer sizes the merge chain
    switches to a trie-based Pandas UDF (noted in operators/bpe.py);
    the plan shape is unchanged."""
    from datanika_core_spark.operators.bpe import apply_merges, learn_merges

    docs = t(spark, sf_dir, "documents").filter(
        "text is not null and trim(text) <> ''"
    )
    merges = learn_merges(docs, n_merges=_BPE_MERGES)
    tok = apply_merges(docs.select("doc_id", "text"), merges)
    perdoc = (
        docs.select(
            "doc_id", "source",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
            .cast("bigint").alias("n_words"),
        )
        .join(tok.select("doc_id",
                         F.col("n_bpe_tokens").cast("bigint")
                         .alias("n_tokens")),
              "doc_id")
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum("n_tokens").cast("bigint").alias("total_bpe_tokens"),
            F.expr("round(cast(sum(n_tokens) as double) / count(*), 4)")
            .alias("avg_tokens_per_doc"),
            F.expr("round(cast(sum(n_tokens) as double) / sum(n_words), 6)")
            .alias("tokens_per_word"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Cross-doc n-gram novelty rate (corpus freshness curve).
# --------------------------------------------------------------------------

from datanika_core_spark.workloads.contamination import (  # noqa: E402
    _shingle8_duck,
    _shingle8_spark,
)

_NOV_S_TOKS = r"split(lower(trim(text)), '\\s+')"


@workload(
    "ngram_novelty_rate",
    headline=True,
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         {_shingle8_duck(_O_TOKS)} AS grams
  FROM (SELECT doc_id, source, lower(trim(text)) AS text FROM documents)
),
exploded AS (
  SELECT doc_id, source, unnest(grams) AS gram FROM toks
),
first_doc AS (
  SELECT gram, min(doc_id) AS first_id FROM exploded GROUP BY gram
),
per_doc AS (
  SELECT e.doc_id, e.source,
         count(*) AS n_grams,
         sum(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM exploded e JOIN first_doc f ON f.gram = e.gram
  GROUP BY e.doc_id, e.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS total_grams,
       CAST(sum(n_novel) AS BIGINT) AS novel_grams,
       ROUND(sum(n_novel) * 1.0 / sum(n_grams), 6) AS pooled_novelty,
       ROUND(avg(n_novel * 1.0 / n_grams), 6) AS mean_doc_novelty
FROM per_doc
GROUP BY source
ORDER BY source
""",
)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: the fraction of a doc's distinct
    8-grams not seen in any earlier (lower doc_id) document —
    ingest-order novelty, the curve that flattens as a crawl
    saturates and the signal behind 'this source is mostly re-crawl'
    decisions. A gram's first document claims it; docs shorter than
    8 tokens carry no grams and drop out.

    Scale: ONE explode, ONE shuffle — first-claims come from
    min(doc_id) OVER (PARTITION BY gram) on the exploded rows
    (a groupBy-then-join-back would re-run the whole explode
    lineage: Spark does not reuse un-exchanged subplans — measured
    8.1 s → 3.8 s at sf0.1), then one doc rollup. Gram strings
    would be xxhash64'd at 100 TB so the shuffle carries 8-byte
    keys — md5-free here only because the oracle needs the literal
    string."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.lower(F.trim(F.col("text"))).alias("text")
    )
    exploded = (
        docs.select(
            "doc_id", "source",
            F.explode(F.expr(_shingle8_spark(_NOV_S_TOKS))).alias("gram"),
        )
    )
    first_id = F.min("doc_id").over(Window.partitionBy("gram"))
    per_doc = (
        exploded.withColumn("first_id", first_id)
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_id") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("total_grams"),
            F.sum("n_novel").cast("bigint").alias("novel_grams"),
            F.round(
                F.sum("n_novel") * F.lit(1.0) / F.sum("n_grams"), 6
            ).alias("pooled_novelty"),
            F.round(
                F.avg(F.col("n_novel") * F.lit(1.0) / F.col("n_grams")), 6
            ).alias("mean_doc_novelty"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Unigram-LM tokenizer vocabulary (SentencePiece counterpart to BPE).
# --------------------------------------------------------------------------

_ULM_TOPK = 40
_ULM_MAXL = 8      # operators/unigram_lm._MAX_PIECE_LEN
_ULM_SEED = 1200   # max_seed passed by the workload
_ULM_VSZ = 300     # vocab_size passed by the workload


def _o_ulm_em(k: int, prev: str) -> str:
    """One Viterbi-EM step as DuckDB CTE text: a recursive Viterbi DP
    per word (state = best-score + best-segmentation arrays indexed
    by prefix length) followed by exact-integer piece recounting.
    The piece→ln(prob) MAP is attached to each word's ANCHOR row and
    carried through the recursion — row-local state, because a
    recursive term referencing a CTE that derives from another
    recursive CTE silently reads empty in DuckDB 1.0."""
    return f"""
lpm{k} AS MATERIALIZED (
  SELECT map(list(piece ORDER BY piece), list(ln(q) ORDER BY piece)) AS m
  FROM {prev} WHERE q > 0
),
vit{k} AS (
  SELECT word, cnt, 0 AS e, [CAST(0.0 AS DOUBLE)] AS bests,
         [[]::VARCHAR[]] AS segs, (SELECT m FROM lpm{k}) AS lpm
  FROM words
  UNION ALL
  SELECT v.word, v.cnt, v.e + 1,
         list_append(v.bests, coalesce(s.best, CAST('-infinity' AS DOUBLE))),
         list_append(v.segs, coalesce(s.seg, []::VARCHAR[])),
         v.lpm
  FROM vit{k} v
  LEFT JOIN LATERAL (
    SELECT cand AS best, seg FROM (
      SELECT v.bests[starts.st + 1]
               + map_extract(v.lpm, v.word[starts.st+1 : v.e+1])[1] AS cand,
             list_append(v.segs[starts.st + 1],
                         v.word[starts.st+1 : v.e+1]) AS seg,
             starts.st AS st
      FROM (SELECT unnest(range(greatest(0, v.e + 1 - {_ULM_MAXL}),
                                v.e + 1)) AS st) starts
      WHERE len(map_extract(v.lpm, v.word[starts.st+1 : v.e+1])) > 0
        AND v.bests[starts.st + 1] > CAST('-infinity' AS DOUBLE)
    ) ORDER BY cand DESC, st LIMIT 1
  ) s ON TRUE
  WHERE v.e < length(v.word)
),
vfin{k} AS MATERIALIZED (
  SELECT word, cnt,
         CASE WHEN bests[length(word)+1] = CAST('-infinity' AS DOUBLE)
              THEN string_split(word, '')
              ELSE segs[length(word)+1] END AS seg
  FROM vit{k} WHERE e = length(word)
),
cnts{k} AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT unnest(seg) AS piece, cnt FROM vfin{k})
  GROUP BY piece
),
p{k} AS MATERIALIZED (
  SELECT piece,
         CAST(c AS DOUBLE) / (SELECT CAST(sum(c) AS DOUBLE) FROM cnts{k}) AS q
  FROM cnts{k}
)"""


_ULM_ORACLE = rf"""
WITH RECURSIVE words AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest({_O_TOKS}) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
subcand AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT unnest(list_distinct(flatten(list_transform(
             range(1, length(word)+1),
             i -> list_transform(range(1, least({_ULM_MAXL},
                                       length(word)-i+1)+1),
                                 l -> word[i : i+l-1]))))) AS piece,
           cnt
    FROM words
  ) GROUP BY piece
),
seed0 AS MATERIALIZED (
  SELECT piece, c FROM subcand WHERE length(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rn
    FROM subcand WHERE length(piece) > 1
  ) WHERE rn <= {_ULM_SEED} - (SELECT count(*) FROM subcand
                               WHERE length(piece) = 1)
),
p0 AS MATERIALIZED (
  SELECT piece,
         CAST(c AS DOUBLE) / (SELECT CAST(sum(c) AS DOUBLE) FROM seed0) AS q
  FROM seed0
),
{_o_ulm_em(1, 'p0')},
{_o_ulm_em(2, 'p1')},
kept AS MATERIALIZED (
  SELECT piece, q FROM p2 WHERE length(piece) = 1
  UNION ALL
  SELECT piece, q FROM (
    SELECT piece, q, row_number() OVER (ORDER BY q DESC, piece) AS rn
    FROM p2 WHERE length(piece) > 1
  ) WHERE rn <= {_ULM_VSZ} - (SELECT count(*) FROM p2
                              WHERE length(piece) = 1)
),
tot_kept AS MATERIALIZED (
  SELECT list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(q ORDER BY (length(piece) > 1),
                             CASE WHEN length(piece) = 1 THEN piece END,
                             q DESC, piece)),
           (a, b) -> a + b) AS t
  FROM kept
),
p2p AS MATERIALIZED (SELECT piece, q / (SELECT t FROM tot_kept) AS q FROM kept),
{_o_ulm_em(3, 'p2p')}
SELECT CAST(row_number() OVER (ORDER BY q DESC, piece) AS INT) AS rank,
       piece, ROUND(q, 10) AS prob
FROM p3 WHERE length(piece) > 1
ORDER BY q DESC, piece
LIMIT {_ULM_TOPK}
"""


@workload(
    "unigram_lm_vocab",
    # Recursive-CTE oracle: the full Viterbi-EM train replays in
    # DuckDB — seed (substring explode + top-K), three unrolled EM
    # steps (the workload's iters=2 plus the post-prune re-fit), and
    # the prune between them. Each EM step's per-word Viterbi DP is
    # its own recursive CTE over prefix length, carrying the
    # best-score and best-segmentation arrays per word; the piece
    # log-prob table rides along as a MAP seeded in the anchor row
    # (a recursive term cannot reference a CTE derived from another
    # recursive CTE — it silently reads empty). ln() is bit-identical
    # to Python math.log here (same libm), EM totals are exact
    # integers, and the one float renormalization (prune) replays
    # Python's exact summation order via an ordered list_reduce fold
    # — so Viterbi tie decisions agree bit-for-bit. Also verified
    # against an independent pure-Python reference
    # (tests/test_unigram_lm.py).
    oracle=_ULM_ORACLE,
)
def unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top multi-character pieces of a unigram-LM tokenizer (Kudo
    2018 / SentencePiece `unigram`) trained on the corpus by
    Viterbi-EM — rank, piece, and probability. Completes the
    tokenizer-training family: BPE learns merges greedily,
    unigram-LM learns a probabilistic piece vocabulary and prunes it.
    See operators/unigram_lm.py for the scale analysis (corpus
    scanned once into a word vocab; EM iterates on the vocab with
    broadcast piece state)."""
    from datanika_core_spark.operators.unigram_lm import train_unigram

    docs = t(spark, sf_dir, "documents")
    probs = train_unigram(docs, vocab_size=300, iters=2, max_seed=1200)
    top = sorted(
        ((p, q) for p, q in probs.items() if len(p) > 1),
        key=lambda pq: (-pq[1], pq[0]),
    )[:_ULM_TOPK]
    return spark.createDataFrame(
        [(i + 1, p, round(q, 10)) for i, (p, q) in enumerate(top)],
        "rank int, piece string, prob double",
    )


# --------------------------------------------------------------------------
# Temperature-flattened mixture resampling (UNIMAX/multinomial-style).
# --------------------------------------------------------------------------


@workload(
    "mixture_resample_temperature",
    oracle=f"""
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
),
w AS (
  SELECT source, n,
         CAST(round(sqrt(n) * 1000) AS BIGINT) AS wi
  FROM counts
),
tot AS (
  SELECT sum(wi) AS sw, CAST(sum(n) // 2 AS BIGINT) AS budget FROM w
),
quota AS (
  SELECT source, n, wi,
         least(n, (t.budget * wi) // t.sw) AS q,
         least(CAST(1000000 AS BIGINT),
               ((t.budget * wi) // t.sw) * 1000000 // n) AS thresh_ppm
  FROM w CROSS JOIN tot t
)
SELECT q.source,
       CAST(q.n AS BIGINT) AS n_docs,
       CAST(q.q AS BIGINT) AS quota,
       ROUND(q.thresh_ppm / 1000000.0, 6) AS keep_rate,
       CAST((
         SELECT count(*) FROM documents d
         WHERE d.source = q.source
           AND {_O_HASH.format(x="'mixT-' || CAST(d.doc_id AS VARCHAR)")}
               % 1000000 < q.thresh_ppm
       ) AS BIGINT) AS n_kept
FROM quota q
ORDER BY q.source
""",
)
def mixture_resample_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-flattened mixture resample (the UNIMAX /
    multilingual-sampling family): per-source quotas ∝ n_i^α with
    α = ½, so big sources are damped and small ones over-represented
    relative to natural proportions — the standard knob for keeping
    a head-heavy crawl from drowning the tail. Budget is half the
    corpus; quotas cap at n_i (a source can't contribute more than
    it has). All quota arithmetic is INTEGER-exact after one
    deterministic snap (w_i = round(1000·√n_i) — IEEE sqrt is
    bit-identical across engines, and the integer sum Σw_i is
    order-independent, unlike a float Σ√n whose summation order
    could flip a floor at the quota boundary). Membership reuses the
    uniform resampler's hash-coin convention, so decisions are
    stable under corpus extension.

    Scale: identical plan shape to mixture_resample_uniform — one
    combiner agg to sources×1 rows, quota math on that tiny frame,
    broadcast back, one per-row filter. The α knob costs nothing."""
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = counts.select(
        "source", "n",
        F.round(F.sqrt(F.col("n")) * 1000).cast("bigint").alias("wi"),
    )
    tot = w.agg(
        F.sum("wi").alias("sw"),
        F.expr("CAST(sum(n) div 2 AS BIGINT)").alias("budget"),
    )
    quota = (
        w.crossJoin(tot)
        .select(
            "source", "n", "wi",
            F.least(
                F.col("n"), F.expr("(budget * wi) div sw")
            ).alias("q"),
            F.least(
                F.lit(1000000).cast("bigint"),
                F.expr("((budget * wi) div sw) * 1000000 div n"),
            ).alias("thresh_ppm"),
        )
        .cache()  # feeds the keep-filter join AND the final report
    )
    kept = (
        docs.join(F.broadcast(quota), "source")  # bound: <= |source| rows
        .filter(
            F.expr(_spark_hash("concat('mixT-', cast(doc_id as string))"))
            % 1000000
            < F.col("thresh_ppm")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        # bound: <= |source| rows
        quota.join(F.broadcast(kept), "source", "left")
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("q").cast("bigint").alias("quota"),
            F.round(F.col("thresh_ppm") / 1000000.0, 6).alias("keep_rate"),
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# TextRank keyword scoring — PageRank over the token adjacency
# co-occurrence graph (Mihalcea & Tarau 2004): the graph-centrality
# keyword signal next to TF-IDF (frequency) and PMI (collocation).
# --------------------------------------------------------------------------

from datanika_core_spark.workloads.graph import (  # noqa: E402
    _PR_D as _TR_D,
    _o_pr_iter as _tr_iter,
)

_TR_PR_ITERS = 4

_O_TR_CHAIN = ",".join(
    _tr_iter(f"pr{i - 1}" if i > 1 else "pr0", i)
    for i in range(1, _TR_PR_ITERS + 1)
)


@workload(
    "keyword_textrank",
    oracle=f"""
WITH toklists AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> [toks[i], toks[i + 1]])) AS pr
  FROM toklists WHERE len(toks) >= 2
),
dir_edges AS (
  SELECT pr[1] AS a, pr[2] AS b FROM pairs
  WHERE pr[1] <> '' AND pr[2] <> '' AND pr[1] <> pr[2]
),
edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
    SELECT a AS src, b AS dst FROM dir_edges
    UNION ALL
    SELECT b AS src, a AS dst FROM dir_edges
  ) GROUP BY src, dst
),
nodes AS (
  SELECT DISTINCT tok AS node FROM (
    SELECT unnest(toks) AS tok FROM toklists
  ) WHERE tok <> ''
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS total_w
         FROM edges GROUP BY src),
pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
{_O_TR_CHAIN},
deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS n_neighbors,
         CAST(sum(w) AS BIGINT) AS cooc_w
  FROM edges GROUP BY src
)
SELECT p.node AS token,
       round(p.pr, 6) AS textrank,
       coalesce(d.n_neighbors, 0) AS n_neighbors,
       coalesce(d.cooc_w, 0) AS cooc_w
FROM pr{_TR_PR_ITERS} p LEFT JOIN deg d ON d.node = p.node
ORDER BY token
""",
)
def keyword_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword centrality (Mihalcea & Tarau 2004): weighted
    PageRank (d=0.85, {it} iterations, dangling mass redistributed)
    over the token ADJACENCY graph — tokens are nodes, each adjacent
    ordered pair contributes weight in both directions. A token
    ranks high when its NEIGHBORS rank high, which separates
    structural hub words from merely frequent ones — the
    graph-centrality signal next to TF-IDF (pure frequency) and PMI
    (pairwise surprise); co-occurrence degree columns ship alongside
    so the three are comparable per token.

    Determinism: edge weights and degrees are exact BIGINT; the rank
    vector is the same recurrence as pagerank_event_transitions
    (shared iteration fragment, shared damping), and the output
    orders by TOKEN, never by the float rank — cross-engine
    float-sum ordering can never flip a row.

    Scale: edge extraction is one explode + combiner groupBy (the
    bigram shape); the graph collapses to |vocab|² at most and in
    practice to the co-occurrence support, so iterations run on the
    REDUCED graph with broadcast rank vectors — corpus volume is
    paid exactly once, in the first groupBy. RollingCheckpoint
    truncates lineage per iteration (O(1) blocks in iterations)."""
    from datanika_core_spark.blocks import RollingCheckpoint

    docs = t(spark, sf_dir, "documents")
    toklists = docs.select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks")
    )
    dir_edges = (
        toklists.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(element_at(toks, i) as a,"
                    " element_at(toks, i + 1) as b))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .filter(
            (F.col("a") != "") & (F.col("b") != "")
            & (F.col("a") != F.col("b"))
        )
    )
    edges = (
        dir_edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(
            dir_edges.select(
                F.col("b").alias("src"), F.col("a").alias("dst")
            )
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .cache()  # reduced graph feeds every iteration (persist a
        # warehouse table at corpus scale — same note as PageRank)
    )
    nodes = (
        toklists.select(F.explode("toks").alias("node"))
        .filter(F.col("node") != "")
        .distinct()
        .cache()
    )
    n = nodes.count()
    outw = edges.groupBy("src").agg(
        F.sum("w").cast("bigint").alias("total_w")
    )
    ew = edges.join(outw, "src")
    no_out = nodes.join(outw, nodes.node == outw.src, "left_anti").cache()

    pr = nodes.withColumn("pr", F.lit(1.0) / F.lit(float(n)))
    roll = RollingCheckpoint(spark)
    for it in range(_TR_PR_ITERS):
        dang = (
            pr.join(no_out, "node", "left_semi")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dmass"))
        )
        contrib = (
            # bound: token vocabulary; plan changes without it
            ew.join(F.broadcast(pr), ew.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("w") / F.col("total_w"))
                 .alias("c"))
        )
        pr = (
            nodes.join(dang)
            # bound: token vocabulary; plan changes without it
            .join(F.broadcast(contrib), nodes.node == contrib.dst, "left")
            .select(
                "node",
                (F.lit((1.0 - _TR_D) / n)
                 + F.lit(_TR_D)
                 * (F.coalesce(F.col("c"), F.lit(0.0))
                    + F.col("dmass") / F.lit(float(n)))).alias("pr"),
            )
        )
        if it < _TR_PR_ITERS - 1:
            pr = roll(pr)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        F.sum("w").cast("bigint").alias("cooc_w"),
    ).withColumnRenamed("src", "node")
    return (
        pr.join(deg, "node", "left")
        .select(
            F.col("node").alias("token"),
            F.round("pr", 6).alias("textrank"),
            F.coalesce("n_neighbors", F.lit(0)).cast("bigint")
            .alias("n_neighbors"),
            F.coalesce("cooc_w", F.lit(0)).cast("bigint").alias("cooc_w"),
        )
        .orderBy("token")
    )


keyword_textrank.__doc__ = keyword_textrank.__doc__.format(it=_TR_PR_ITERS)


# --------------------------------------------------------------------------
# Interpolated bigram LM perplexity on a held-out split.
# --------------------------------------------------------------------------

_BLM_UNIT = 100000000  # ln p snapped to 1e-8 BIGINT units before summing


@workload(
    "perplexity_bigram_interpolated",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, {_O_TOKS} AS toks,
         (doc_id % 5 = 0) AS is_test
  FROM documents
),
tr_uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest(toks) AS term FROM tok WHERE NOT is_test)
  GROUP BY term
),
tr_tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS v
  FROM tr_uni
),
tr_bg AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c2
  FROM (
    SELECT toks[i] AS x, toks[i + 1] AS y
    FROM tok, unnest(range(1, len(toks))) AS u(i)
    WHERE NOT is_test
  )
  GROUP BY x, y
),
te AS (
  SELECT lang, toks[i] AS x, toks[i + 1] AS y
  FROM tok, unnest(range(1, len(toks))) AS u(i)
  WHERE is_test
),
scored AS (
  SELECT te.lang AS lang,
         (uy.term IS NULL) AS oov,
         CAST(round(ln(
           0.5 * (coalesce(bg.c2, 0) * 1.0
                  / coalesce(ux.c1, 1))
           + 0.5 * ((coalesce(uy.c1, 0) + 1.0) / (tt.n + tt.v))
         ) * {_BLM_UNIT}) AS BIGINT) AS lp_units
  FROM te
  LEFT JOIN tr_bg bg ON bg.x = te.x AND bg.y = te.y
  LEFT JOIN tr_uni ux ON ux.term = te.x
  LEFT JOIN tr_uni uy ON uy.term = te.y
  CROSS JOIN tr_tot tt
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_test_bigrams,
       ROUND(sum(CASE WHEN oov THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS oov_rate,
       ROUND(-(sum(lp_units) * 1.0 / {_BLM_UNIT}) / count(*), 4)
         AS cross_entropy,
       ROUND(exp(-(sum(lp_units) * 1.0 / {_BLM_UNIT}) / count(*)), 2)
         AS perplexity
FROM scored
GROUP BY lang
ORDER BY lang
""",
)
def perplexity_bigram_interpolated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Held-out perplexity of a Jelinek-Mercer interpolated bigram
    LM per language: train on the 80% doc split, score the held-out
    20% with p(y|x) = ½·c(xy)/c(x) + ½·(c(y)+1)/(N+V) — the bigram
    upgrade of the CCNet-style unigram signal, and (unlike
    perplexity_unigram_score, which scores against the SAME corpus)
    an honest generalization measure with a real train/test split.
    High per-language perplexity flags corpora whose held-out text
    the LM can't predict — OCR noise, mixed languages, boilerplate
    churn; oov_rate separates the unseen-vocabulary component.

    Determinism: counts are BIGINT; each test bigram's ln p snaps to
    1e-8 integer units immediately (the MI trick), so the per-lang
    sums are order-free; exp() runs once on the exact unit ratio
    into 2dp-rounded output.

    Scale: two explode+groupBy passes build the model (map-side
    combined — the model IS two count tables, exactly what you'd
    persist); scoring is three equi-joins of the test bigram stream
    against those tables plus one broadcast 1-row totals frame.
    No driver state, no iteration — LM eval at 100 TB is join
    throughput."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
        (F.col("doc_id") % 5 == 0).alias("is_test"),
    )
    tr = docs.filter(~F.col("is_test"))
    te = docs.filter(F.col("is_test"))
    tr_uni = (
        tr.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    )
    tr_tot = tr_uni.agg(
        F.sum("c1").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    pair_expr = (
        "explode(transform(sequence(1, size(toks) - 1),"
        " i -> struct(element_at(toks, i) as x,"
        " element_at(toks, i + 1) as y)))"
    )
    tr_bg = (
        tr.filter(F.size("toks") >= 2)
        .select(F.expr(pair_expr).alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    te_bg = (
        te.filter(F.size("toks") >= 2)
        .select("lang", F.expr(pair_expr).alias("p"))
        .select("lang", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    )
    ux = tr_uni.select(F.col("term").alias("x"), F.col("c1").alias("c1x"))
    uy = tr_uni.select(F.col("term").alias("y"), F.col("c1").alias("c1y"))
    scored = (
        te_bg.join(tr_bg, ["x", "y"], "left")
        .join(ux, "x", "left")
        .join(uy, "y", "left")
        .crossJoin(tr_tot)
        .select(
            "lang",
            F.col("c1y").isNull().alias("oov"),
            F.round(
                F.log(
                    0.5
                    * (
                        F.coalesce(F.col("c2"), F.lit(0)) * 1.0
                        / F.coalesce(F.col("c1x"), F.lit(1))
                    )
                    + 0.5
                    * (
                        (F.coalesce(F.col("c1y"), F.lit(0)) + 1.0)
                        / (F.col("n") + F.col("v"))
                    )
                )
                * _BLM_UNIT
            ).cast("bigint").alias("lp_units"),
        )
    )
    h = F.sum("lp_units") * 1.0 / _BLM_UNIT
    cnt = F.count(F.lit(1))
    return (
        scored.groupBy("lang")
        .agg(
            cnt.cast("bigint").alias("n_test_bigrams"),
            F.round(
                F.sum(F.when(F.col("oov"), 1).otherwise(0)) * 1.0 / cnt,
                6,
            ).alias("oov_rate"),
            F.round(-h / cnt, 4).alias("cross_entropy"),
            F.round(F.exp(-h / cnt), 2).alias("perplexity"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# DoReMi-style one-step mixture reweighting from per-source excess loss.
# --------------------------------------------------------------------------

_DRM_UNIT = 100000000       # ln p snapped to 1e-8 units
_DRM_WUNIT = 1000000000     # unnormalized weights snapped to 1e-9 units
_DRM_ETA = "1.0"            # EG step size (shared literal)


@workload(
    "mixture_doremi_step",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_O_TOKS}) AS term FROM documents
),
cnt AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
per_src AS (
  SELECT t.source AS source,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(CAST(round(ln(c.c * 1.0 / tt.n) * {_DRM_UNIT})
                  AS BIGINT)) AS BIGINT) AS lp_units
  FROM tok t JOIN cnt c ON c.term = t.term CROSS JOIN tot tt
  GROUP BY t.source
),
scored AS (
  SELECT source, n_tok,
         -(lp_units * 1.0 / {_DRM_UNIT}) / n_tok AS ce,
         n_tok * 1.0 / (SELECT sum(n_tok) FROM per_src) AS w_base
  FROM per_src
),
stepped AS (
  SELECT source, n_tok, ce, w_base,
         CAST(round(w_base * exp({_DRM_ETA} * ce) * {_DRM_WUNIT})
              AS BIGINT) AS wu
  FROM scored
),
norm AS (SELECT CAST(sum(wu) AS BIGINT) AS z FROM stepped)
SELECT s.source AS source,
       s.n_tok AS n_tokens,
       ROUND(s.ce, 4) AS ce_nats,
       ROUND(s.w_base, 6) AS w_base,
       ROUND(s.wu * 1.0 / n.z, 6) AS w_doremi,
       ROUND((s.wu * 1.0 / n.z - s.w_base) / s.w_base * 100.0, 2)
         AS delta_pct
FROM stepped s CROSS JOIN norm n
ORDER BY source
""",
)
def mixture_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exponentiated-gradient step of DoReMi-style mixture
    reweighting (Xie et al. 2023): each source's loss is its
    unigram cross-entropy under the corpus-wide LM (the same
    self-scored signal perplexity_unigram_score uses, aggregated
    per source), and the new mixture weight is
    w′ ∝ w·exp(η·loss) renormalized — up-weighting the sources the
    reference model finds hardest, which is the domain-reweighting
    loop behind modern pretraining mixtures. w_base is the token
    share (the natural-sampling baseline); delta_pct shows who
    gains. corpus_mixture_weights and the resamplers EXECUTE a
    given mixture; this workload LEARNS the next one.

    Determinism: token counts are BIGINT; each ln p snaps to 1e-8
    units before the per-source sum (order-free); the one exp()
    lands in a 1e-9-unit snap whose renormalization is an exact
    integer ratio.

    Scale: one token explode + count groupBy (the LM), one join of
    the token stream back onto it (map-side broadcast for any
    realistic vocab), one per-source aggregate. The EG step itself
    is |sources| rows of arithmetic — iterating it to convergence
    re-runs ONLY that last grid, with the expensive loss pass
    unchanged per round."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    )
    cnt = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.agg(F.sum("c").cast("bigint").alias("n"))
    per_src = (
        tok.join(cnt, "term")
        .crossJoin(tot)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum(
                F.round(
                    F.log(F.col("c") * 1.0 / F.col("n")) * _DRM_UNIT
                ).cast("bigint")
            ).cast("bigint").alias("lp_units"),
        )
    )
    allt = per_src.agg(F.sum("n_tok").alias("ntot"))
    scored = per_src.crossJoin(allt).select(
        "source", "n_tok",
        (
            -(F.col("lp_units") * 1.0 / _DRM_UNIT) / F.col("n_tok")
        ).alias("ce"),
        (F.col("n_tok") * 1.0 / F.col("ntot")).alias("w_base"),
    )
    stepped = scored.select(
        "source", "n_tok", "ce", "w_base",
        F.round(
            F.col("w_base")
            * F.exp(F.expr(_DRM_ETA) * F.col("ce"))
            * _DRM_WUNIT
        ).cast("bigint").alias("wu"),
    )
    norm = stepped.agg(F.sum("wu").cast("bigint").alias("z"))
    return (
        stepped.crossJoin(norm)
        .select(
            "source",
            F.col("n_tok").alias("n_tokens"),
            F.round("ce", 4).alias("ce_nats"),
            F.round("w_base", 6).alias("w_base"),
            F.round(F.col("wu") * 1.0 / F.col("z"), 6).alias("w_doremi"),
            F.round(
                (F.col("wu") * 1.0 / F.col("z") - F.col("w_base"))
                / F.col("w_base") * 100.0,
                2,
            ).alias("delta_pct"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM: held-out perplexity per language.
# --------------------------------------------------------------------------

#: Absolute-discount mass moved from seen bigrams to the continuation
#: distribution. 0.75 is the Chen-Goodman recommended fixed discount;
#: exactly representable in binary so both engines subtract the same
#: double.
_KN_D = "cast(0.75 as double)"

#: p(y|x) for a test bigram given joined model stats — SHARED TEXT
#: between the Spark plan (F.expr) and the DuckDB oracle, so the two
#: engines execute the identical IEEE op tree (left-assoc, same
#: casts). Columns: c2 = train bigram count, cx = context total,
#: n1x = distinct continuations of x, n1y = distinct predecessors of
#: y (continuation count), bt = distinct bigram types.
_KN_PCONT = "(coalesce(n1y, 0) * cast(1.0 as double) / bt)"
_KN_P = (
    f"case when cx is null then {_KN_PCONT} "
    f"else greatest(coalesce(c2, 0) - {_KN_D}, cast(0.0 as double)) / cx "
    f"+ {_KN_D} * n1x / cx * {_KN_PCONT} end"
)
_KN_LP_UNITS = (
    f"cast(round(ln(greatest({_KN_P}, cast(1e-12 as double)))"
    f" * {_BLM_UNIT}) as bigint)"
)


@workload(
    "lm_kneser_ney_bigram",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, {_O_TOKS} AS toks,
         (doc_id % 5 = 0) AS is_test
  FROM documents
),
tr_bg AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c2
  FROM (
    SELECT toks[i] AS x, toks[i + 1] AS y
    FROM tok, unnest(range(1, len(toks))) AS u(i)
    WHERE NOT is_test
  )
  GROUP BY x, y
),
ctx AS (
  SELECT x, CAST(sum(c2) AS BIGINT) AS cx,
         CAST(count(*) AS BIGINT) AS n1x
  FROM tr_bg GROUP BY x
),
cont AS (
  SELECT y, CAST(count(*) AS BIGINT) AS n1y FROM tr_bg GROUP BY y
),
btot AS (
  SELECT CAST(count(*) AS BIGINT) AS bt FROM tr_bg
),
te AS (
  SELECT lang, toks[i] AS x, toks[i + 1] AS y
  FROM tok, unnest(range(1, len(toks))) AS u(i)
  WHERE is_test
),
scored AS (
  SELECT te.lang AS lang,
         (cont.n1y IS NULL) AS oov,
         {_KN_LP_UNITS} AS lp_units
  FROM te
  LEFT JOIN tr_bg bg ON bg.x = te.x AND bg.y = te.y
  LEFT JOIN ctx ON ctx.x = te.x
  LEFT JOIN cont ON cont.y = te.y
  CROSS JOIN btot
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_test_bigrams,
       ROUND(sum(CASE WHEN oov THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS oov_rate,
       ROUND(-(sum(lp_units) * 1.0 / {_BLM_UNIT}) / count(*), 4)
         AS cross_entropy,
       ROUND(exp(-(sum(lp_units) * 1.0 / {_BLM_UNIT}) / count(*)), 2)
         AS perplexity
FROM scored
GROUP BY lang
ORDER BY lang
""",
)
def lm_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity of an interpolated Kneser-Ney bigram LM
    per language — the state-of-the-art count-based smoothing
    (Chen & Goodman 1999) next to perplexity_bigram_interpolated's
    Jelinek-Mercer: each seen bigram is discounted by a fixed
    D = 0.75 and the freed mass backs off to the CONTINUATION
    distribution p_cont(y) = N1+(.y)/|bigram types| — "how many
    contexts does y complete" rather than raw frequency, which is
    exactly what demotes high-count-but-context-bound tokens
    (the canonical "San Francisco" example). Unseen contexts fall
    back to p_cont directly; a 1e-12 floor guards ln(0) for
    never-continuing test tokens (flagged via oov_rate).

    Determinism: the p(y|x) expression is ONE shared SQL text
    (_KN_P) parsed by both engines — identical IEEE op tree — and
    each ln p snaps to 1e-8 BIGINT units before the per-lang sum.

    Scale: the model is two count tables plus a continuation table
    (three explode+groupBy passes with map-side combine); scoring is
    three equi-joins of the test bigram stream against them plus one
    broadcast 1-row total — same join-throughput profile as the JM
    workload, no iteration, no driver state."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
        (F.col("doc_id") % 5 == 0).alias("is_test"),
    )
    pair_expr = (
        "explode(transform(sequence(1, size(toks) - 1),"
        " i -> struct(element_at(toks, i) as x,"
        " element_at(toks, i + 1) as y)))"
    )
    tr_bg = (
        docs.filter(~F.col("is_test"))
        .filter(F.size("toks") >= 2)
        .select(F.expr(pair_expr).alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    ctx = tr_bg.groupBy("x").agg(
        F.sum("c2").cast("bigint").alias("cx"),
        F.count(F.lit(1)).cast("bigint").alias("n1x"),
    )
    cont = tr_bg.groupBy("y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1y")
    )
    btot = tr_bg.agg(F.count(F.lit(1)).cast("bigint").alias("bt"))
    te_bg = (
        docs.filter(F.col("is_test"))
        .filter(F.size("toks") >= 2)
        .select("lang", F.expr(pair_expr).alias("p"))
        .select("lang", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    )
    scored = (
        te_bg.join(tr_bg, ["x", "y"], "left")
        .join(ctx, "x", "left")
        .join(cont, "y", "left")
        .crossJoin(btot)
        .select(
            "lang",
            F.col("n1y").isNull().alias("oov"),
            F.expr(_KN_LP_UNITS).alias("lp_units"),
        )
    )
    h = F.sum("lp_units") * 1.0 / _BLM_UNIT
    cnt = F.count(F.lit(1))
    return (
        scored.groupBy("lang")
        .agg(
            cnt.cast("bigint").alias("n_test_bigrams"),
            F.round(
                F.sum(F.when(F.col("oov"), 1).otherwise(0)) * 1.0 / cnt,
                6,
            ).alias("oov_rate"),
            F.round(-h / cnt, 4).alias("cross_entropy"),
            F.round(F.exp(-h / cnt), 2).alias("perplexity"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Greedy bigram decoding: the LM-family generation capstone.
# --------------------------------------------------------------------------

_GEN_STEPS = 8


def _o_gen_step(i: int) -> str:
    """Unrolled greedy step i as a DuckDB CTE: the argmax
    continuation of step i-1's token (count desc, token asc).
    Unrolled rather than recursive: a correlated scalar subquery
    inside a recursive arm hits the documented relation-API
    silent-stop gotcha."""
    return f"""
g{i} AS (
  SELECT {i} AS step, y AS tok, c2 AS cnt FROM bg
  WHERE x = (SELECT tok FROM g{i - 1})
  ORDER BY c2 DESC, y LIMIT 1
)"""


@workload(
    "lm_greedy_bigram_decode",
    oracle=f"""
WITH tok AS (
  SELECT unnest({_O_TOKS}) AS term FROM documents
),
uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY term
),
bg AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c2
  FROM (
    SELECT toks[i] AS x, toks[i + 1] AS y
    FROM (SELECT {_O_TOKS} AS toks FROM documents),
         unnest(range(1, len(toks))) AS u(i)
  )
  GROUP BY x, y
),
g0 AS (
  SELECT 0 AS step, term AS tok, c1 AS cnt FROM uni
  ORDER BY c1 DESC, term LIMIT 1
),
{", ".join(_o_gen_step(i) for i in range(1, _GEN_STEPS + 1))}
SELECT CAST(step AS BIGINT) AS step, tok, cnt
FROM ({" UNION ALL ".join(f"SELECT * FROM g{i}"
                          for i in range(0, _GEN_STEPS + 1))})
ORDER BY step
""",
)
def lm_greedy_bigram_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy decoding from the corpus bigram LM — the generation
    capstone of the LM family (count → smooth → eval → GENERATE):
    seed with the corpus's most frequent token, then {k} steps of
    argmax-next-token against the bigram count table (count desc,
    token asc tiebreak — fully deterministic, the temperature-0
    decode). The emitted chain is the corpus's modal phrase — a
    quick qualitative probe of what the LM has absorbed (boilerplate
    loops show up instantly as 2-cycles).

    Scale: the MODEL build (one explode+groupBy) is the only
    corpus-sized work; each decode step is a 1-row broadcast join +
    top-1 against the bigram table — the same probe-the-model shape
    as serving, unrolled IN-PLAN (no driver round-trips, no collect
    between steps). Determinism: counts are exact integers and both
    argmaxes carry token tiebreaks; the oracle unrolls the identical
    steps as CTEs."""
    docs = t(spark, sf_dir, "documents").select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks")
    )
    uni = (
        docs.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    )
    pair_expr = (
        "explode(transform(sequence(1, size(toks) - 1),"
        " i -> struct(element_at(toks, i) as x,"
        " element_at(toks, i + 1) as y)))"
    )
    bg = (
        docs.filter(F.size("toks") >= 2)
        .select(F.expr(pair_expr).alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    seed = (
        uni.orderBy(F.col("c1").desc(), "term")
        .limit(1)
        .select(
            F.lit(0).cast("bigint").alias("step"),
            F.col("term").alias("tok"),
            F.col("c1").alias("cnt"),
        )
    )
    frames = [seed]
    prev = seed
    for i in range(1, _GEN_STEPS + 1):
        nxt = (
            prev.select(F.col("tok").alias("x0"))
            .join(bg, F.col("x") == F.col("x0"))
            .orderBy(F.col("c2").desc(), "y")
            .limit(1)
            .select(
                F.lit(i).cast("bigint").alias("step"),
                F.col("y").alias("tok"),
                F.col("c2").alias("cnt"),
            )
        )
        frames.append(nxt)
        prev = nxt
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy("step")


# --------------------------------------------------------------------------
# RAKE keyphrase extraction (round 8) — the phrase-level companion of
# keyword_textrank (token-level) and collocation_pmi_bigrams.
# --------------------------------------------------------------------------

_RAKE_STOPS = "'the', 'a', 'and', 'of', 'to', 'is'"
_RAKE_MAX_LEN = 4
_RAKE_TOPK = 20
_RAKE_UNIT = 100000000


@workload(
    "text_keyphrase_rake",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_O_TOKS} AS toks FROM documents
),
tokp AS (
  SELECT doc_id, u.p AS pos, u.tok AS tok,
         CASE WHEN u.tok IN ({_RAKE_STOPS}) OR u.tok = ''
              THEN 1 ELSE 0 END AS is_stop
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(toks)),
                  i -> {{'p': i, 'tok': toks[i + 1]}})) AS u
    FROM d
  )
),
ph AS (
  SELECT doc_id, pos, tok, is_stop,
         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS phrase_id
  FROM tokp
),
mem AS (SELECT doc_id, phrase_id, pos, tok FROM ph WHERE is_stop = 0),
plen AS (
  SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS n_words
  FROM mem GROUP BY 1, 2
),
memk AS (
  SELECT m.doc_id, m.phrase_id, m.pos, m.tok, k.n_words
  FROM mem m
  JOIN (SELECT * FROM plen
        WHERE n_words BETWEEN 1 AND {_RAKE_MAX_LEN}) k
    USING (doc_id, phrase_id)
),
wstat AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(n_words) AS BIGINT) AS deg
  FROM memk GROUP BY tok
),
pscore AS (
  SELECT m.doc_id, m.phrase_id,
         CAST(sum(CAST(round(w.deg * 1.0 / w.freq * {_RAKE_UNIT})
                       AS BIGINT)) AS BIGINT) AS units,
         string_agg(m.tok, ' ' ORDER BY m.pos) AS phrase,
         CAST(max(m.n_words) AS BIGINT) AS n_words
  FROM memk m JOIN wstat w ON w.tok = m.tok
  GROUP BY 1, 2
),
agg AS (
  SELECT phrase, max(n_words) AS n_words,
         CAST(count(*) AS BIGINT) AS occurrences,
         CAST(max(units) AS BIGINT) AS units
  FROM pscore GROUP BY phrase
)
SELECT phrase, n_words, occurrences,
       ROUND(units / {_RAKE_UNIT}.0, 6) AS rake_score,
       CAST(row_number() OVER (ORDER BY units DESC, phrase) AS BIGINT)
         AS rank
FROM agg
QUALIFY rank <= {_RAKE_TOPK}
ORDER BY rank
""",
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rose et al. 2010) keyphrase extraction: candidate
    phrases are maximal stopword-free token runs (length ≤ 4), each
    word scores deg/freq over the candidate corpus (deg = summed
    length of phrases containing it — favors words that live in long
    phrases), and a phrase scores the sum of its words' scores.
    Reports the global top-k phrases with occurrence counts — the
    third keyword lens next to TextRank (graph centrality) and PMI
    (pairwise surprise), and the cheapest of the three (no
    iteration, no pair explosion).

    Determinism: phrase segmentation is a per-doc running sum of
    stopword flags over token positions (integer); word deg/freq are
    exact BIGINTs; per-word scores snap to 1e-8 units before the
    per-phrase sum; top-k orders by (units DESC, phrase).

    Scale: one posexplode; the segmentation window partitions by
    doc_id (parallel, no global sort); word stats and phrase
    grouping are combiner-friendly groupBys keyed by token /
    (doc, phrase) — every stage is linear in token count."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
    )
    tokp = d.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).select(
        "doc_id", "pos", "tok",
        F.when(
            F.expr(f"tok IN ({_RAKE_STOPS})") | (F.col("tok") == ""), 1
        ).otherwise(0).alias("is_stop"),
    )
    wseg = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ph = tokp.select(
        "doc_id", "pos", "tok", "is_stop",
        F.sum("is_stop").over(wseg).alias("phrase_id"),
    )
    mem = ph.filter(F.col("is_stop") == 0).select(
        "doc_id", "phrase_id", "pos", "tok"
    )
    plen = mem.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words")
    ).filter(F.col("n_words").between(1, _RAKE_MAX_LEN))
    memk = mem.join(plen, ["doc_id", "phrase_id"])
    wstat = memk.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("n_words").cast("bigint").alias("deg"),
    )
    pscore = (
        memk.join(wstat, "tok")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.sum(
                F.round(
                    F.col("deg") * 1.0 / F.col("freq") * _RAKE_UNIT
                ).cast("bigint")
            ).cast("bigint").alias("units"),
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(pos, tok))), s -> s.tok)"
                ),
            ).alias("phrase"),
            F.max("n_words").cast("bigint").alias("n_words"),
        )
    )
    agg = pscore.groupBy("phrase").agg(
        F.max("n_words").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("occurrences"),
        F.max("units").alias("units"),
    )
    wr = Window.orderBy(F.col("units").desc(), F.col("phrase"))
    return (
        agg.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= _RAKE_TOPK)
        .select(
            "phrase", "n_words", "occurrences",
            F.round(F.col("units") / float(_RAKE_UNIT), 6)
            .alias("rake_score"),
            "rank",
        )
        .orderBy("rank")
    )
