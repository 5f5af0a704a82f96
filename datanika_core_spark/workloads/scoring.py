"""Model-based corpus scoring primitives (beyond-reference, SURVEY.md
§7 Phase 4): a hashed-feature linear quality classifier, weighted
reservoir sampling, per-source corpus statistics, unigram-LM
perplexity, and per-doc token entropy.

All are map-only or single-aggregation shapes:

- `quality_classifier_hashed` is the fastText-style serving path: a
  linear model over hashed token features evaluates as ONE per-row
  array fold inside the scan stage — no shuffle, no Python. A real
  model's weight table is a broadcast map-lookup; here the weights
  are a deterministic hash-derived function of the token so the
  DuckDB oracle can reproduce them bit-for-bit (same md5 machinery as
  the MinHash operators, operators/minhash.py::spark_hash_expr).
- `sample_weighted_priority` is Efraimidis–Spirakis A-Res weighted
  sampling without replacement: priority key = ln(u)/w with
  deterministic hash-uniform u — ONE pass + a TakeOrdered top-k
  (per-partition heap, no global sort). The standard way to draw a
  quality-weighted subsample from a 100 TB corpus in one scan.
- `corpus_source_stats` is a single groupBy(source) with exact
  interpolated percentiles — the profiling report a curation run
  emits per ingest source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.operators.minhash import TOKS_PATTERN as _TOKS
from datanika_core_spark.workloads import t, workload

_O_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"

# -- hashed pseudo-weights: w(tok) ∈ [-1, 1), identical both engines --------
_S_W = ("(cast(conv(substring(md5(concat('qw:', {x})),1,15),16,10) as bigint)"
        " % 2001 - 1000) / 1000.0")
_O_W = ("(('0x'||substring(md5('qw:' || {x}),1,15))::BIGINT"
        " % 2001 - 1000) / 1000.0")


@workload(
    "quality_classifier_hashed",
    headline=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, {_O_TOKS} AS toks FROM documents
), scored AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_toks,
         1.0 / (1.0 + exp(-(
           list_sum(list_transform(toks, x -> {_O_W.format(x='x')}))
           / len(toks)))) AS score
  FROM tok WHERE len(toks) > 0
)
SELECT doc_id, lang, n_toks, round(score, 6) AS quality,
       CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM scored
ORDER BY doc_id
""",
)
def quality_classifier_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over hashed token features:
    score = sigmoid(mean_tok w(tok)), w = deterministic hash-derived
    weight. Evaluates as ONE per-row fold — the fastText serving
    shape; the only exchange is the output sort, placed BELOW the
    fold (r11) so the fold runs once."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks"),
    ).filter(F.size("toks") > 0)
    # SORT FIRST, score after (r11, guide §1.2/§7.2): a global sort's
    # range-partitioner SAMPLES its child plan, so an expensive
    # projection below the final orderBy is evaluated twice (once in
    # the sampling pass, once for real) — measured 2.51 s → 1.08 s at
    # sf0.1 by ordering the narrow (doc_id, lang, toks) frame before
    # the md5-weight fold. A Project above Sort preserves the global
    # order, so the output contract is unchanged.
    tok = tok.orderBy("doc_id")
    fold = (f"aggregate(transform(toks, x -> {_S_W.format(x='x')}), "
            f"cast(0 as double), (a, v) -> a + v)")
    scored = tok.select(
        "doc_id", "lang",
        F.size("toks").cast("bigint").alias("n_toks"),
        F.expr(f"1.0 / (1.0 + exp(-({fold} / size(toks))))").alias("score"),
    )
    return scored.select(
        "doc_id", "lang", "n_toks",
        F.round("score", 6).alias("quality"),
        F.when(F.col("score") >= 0.5, 1).otherwise(0)
        .cast("bigint").alias("keep"),
    )


_WS_N = 30


@workload(
    "sample_weighted_priority",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln(((('0x'||substring(md5('ws:' || CAST(doc_id AS VARCHAR)),1,15))
              ::BIGINT % 1000000) + 0.5) / 1000000.0)
         / ln(1.0 + n_chars) AS k
  FROM documents
)
SELECT doc_id, n_chars, round(k, 6) AS priority
FROM keyed
ORDER BY k DESC, doc_id
LIMIT {_WS_N}
""",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis A-Res weighted sampling: priority
    ln(u)/w with w = ln(1+n_chars) and deterministic hash-uniform u;
    top-30 by priority = a weighted sample without replacement drawn
    in ONE pass (TakeOrdered heap, no global sort, no RNG state)."""
    keyed = t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        F.expr(
            "ln(((cast(conv(substring(md5(concat('ws:', "
            "cast(doc_id as string))),1,15),16,10) as bigint) % 1000000)"
            " + 0.5) / 1000000.0) / ln(1.0 + n_chars)"
        ).alias("k"),
    )
    return (
        keyed.orderBy(F.col("k").desc(), "doc_id")
        .limit(_WS_N)
        .select("doc_id", "n_chars", F.round("k", 6).alias("priority"))
    )


@workload(
    "corpus_source_stats",
    oracle=f"""
WITH tok AS (
  SELECT source, n_chars,
         CAST(len({_O_TOKS}) AS BIGINT) AS dl
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dl) AS BIGINT) AS total_tokens,
       round(sum(n_chars) * 1.0 / sum(dl), 6) AS chars_per_token,
       round(quantile_cont(dl, 0.5), 2) AS p50_tokens,
       round(quantile_cont(dl, 0.9), 2) AS p90_tokens
FROM tok
GROUP BY source
ORDER BY source
""",
)
def corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest-source profile: doc count, token volume, tokenizer
    fertility (chars/token), exact interpolated p50/p90 document
    length. One partial-aggregated groupBy(source); percentiles use
    Spark's exact `percentile` == DuckDB `quantile_cont`
    (linear interpolation)."""
    tok = t(spark, sf_dir, "documents").select(
        "source", "n_chars",
        F.size(F.split(F.lower(F.trim(F.col("text"))), _TOKS))
        .cast("bigint").alias("dl"),
    )
    return (
        tok.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("total_tokens"),
            F.round(F.sum("n_chars") * F.lit(1.0) / F.sum("dl"), 6)
            .alias("chars_per_token"),
            F.round(F.expr("percentile(dl, 0.5)"), 2).alias("p50_tokens"),
            F.round(F.expr("percentile(dl, 0.9)"), 2).alias("p90_tokens"),
        )
        .orderBy("source")
    )


_PPL_FLOOR = 0.001  # OOV probability floor (unused against own corpus)


@workload(
    "perplexity_unigram_score",
    headline=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_O_TOKS} AS toks FROM documents
), flat AS (
  SELECT unnest(toks) AS term FROM tok
), ucnt AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM flat GROUP BY term
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total FROM ucnt
), m AS (
  SELECT map(list(term), list(cnt * 1.0 / total)) AS mm
  FROM ucnt CROSS JOIN tot
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS dl,
       round(exp(-(
         list_sum(list_transform(toks,
           x -> ln(coalesce(mm[x][1], {_PPL_FLOOR}))))
         / len(toks))), 6) AS ppl
FROM tok CROSS JOIN m
WHERE len(toks) > 0
ORDER BY doc_id
""",
)
def perplexity_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model perplexity per document — the CCNet-
    style statistical quality signal: fit p(tok) on the corpus itself
    (one explode + groupBy with map-side combine), broadcast the
    probability table as a map, then score each doc with a per-row
    fold: ppl = exp(-mean ln p). The corpus is scanned twice and
    shuffled once (term counts); scoring is map-only against the
    broadcast LM. At web scale the LM table is truncated to a top-K
    vocabulary with an OOV floor — the floor is already in the
    formula — or the lookup becomes a bucketed join instead of a
    broadcast map."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks"),
    ).filter(F.size("toks") > 0)
    flat = tok.select(F.explode("toks").alias("term"))
    ucnt = flat.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = ucnt.agg(F.sum("cnt").cast("bigint").alias("total"))
    m = (
        ucnt.join(tot)
        .agg(F.map_from_entries(
            F.collect_list(F.struct(
                F.col("term"),
                (F.col("cnt") * F.lit(1.0) / F.col("total")).alias("p"),
            ))
        ).alias("mm"))
    )
    fold = (f"aggregate(transform(toks, "
            f"x -> ln(coalesce(element_at(mm, x), {_PPL_FLOOR}d))), "
            f"cast(0 as double), (a, v) -> a + v)")
    # NO final orderBy (r11, guide §2.4 "an orderBy used only to make
    # output deterministic"): the global sort's range-partitioner
    # samples its child plan, so the LM fold below a final orderBy
    # was evaluated TWICE — measured 1.86 s → 1.23 s at sf0.1 without
    # it. The sort cannot be hoisted below the fold either: a Sort
    # under a Join is relationally meaningless and Catalyst's
    # EliminateSorts removes it. The driver/oracle comparison is
    # order-insensitive (order-insensitive value hash), so the
    # computed result is unchanged; only the cosmetic display order
    # is dropped.
    return (
        tok.join(m)
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("dl"),
            F.round(F.expr(f"exp(-({fold} / size(toks)))"), 6).alias("ppl"),
        )
    )


@workload(
    "token_entropy_filter",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_O_TOKS} AS toks FROM documents
), ent AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS dl,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         list_sum(list_transform(list_sort(list_distinct(toks)), d ->
           -(CAST(len(list_filter(toks, x -> x = d)) AS DOUBLE)
             / len(toks))
            * ln(CAST(len(list_filter(toks, x -> x = d)) AS DOUBLE)
                 / len(toks)))) AS h
  FROM tok WHERE len(toks) > 0
)
SELECT doc_id, dl, n_distinct, round(h, 6) AS entropy,
       round(CASE WHEN n_distinct > 1 THEN h / ln(n_distinct)
                  ELSE 0.0 END, 6) AS norm_entropy
FROM ent
ORDER BY doc_id
""",
)
def token_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's own token distribution —
    the repetition/degeneracy signal (low entropy = boilerplate or
    stuck-token spam). Entirely per-row array lambdas inside the scan
    stage: distinct tokens sorted for a deterministic fold order,
    each term's in-doc frequency via a nested filter — O(d·n) per
    row, zero Python; the only exchange is the output sort, placed
    BELOW the fold (r11) so the fold runs once."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks"),
    ).filter(F.size("toks") > 0)
    # SORT FIRST, fold after (r11): the O(d·n) entropy fold below a
    # final orderBy would run twice (range-partitioner sampling pass
    # re-executes the sort's child) — same fix as
    # quality_classifier_hashed above.
    tok = tok.orderBy("doc_id")
    h = ("aggregate(transform(array_sort(array_distinct(toks)), d -> "
         " -(cast(size(filter(toks, x -> x = d)) as double) / size(toks))"
         "  * ln(cast(size(filter(toks, x -> x = d)) as double)"
         "       / size(toks))), cast(0 as double), (a, v) -> a + v)")
    ent = tok.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
        F.expr(h).alias("h"),
    )
    return ent.select(
        "doc_id", "dl", "n_distinct",
        F.round("h", 6).alias("entropy"),
        F.round(
            F.when(F.col("n_distinct") > 1,
                   F.col("h") / F.log(F.col("n_distinct").cast("double")))
            .otherwise(0.0), 6
        ).alias("norm_entropy"),
    )


@workload(
    "corpus_data_card",
    oracle=f"""
WITH per_doc AS (
  SELECT source,
         CAST(len({_O_TOKS}) AS BIGINT) AS dl,
         md5(lower(trim(text))) AS th,
         1.0 / (1.0 + exp(-(
           list_sum(list_transform({_O_TOKS},
             x -> {_O_W.format(x='x')}))
           / len({_O_TOKS})))) AS score
  FROM documents
)
SELECT coalesce(source, '__all__') AS source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dl) AS BIGINT) AS total_tokens,
       CAST(count(*) - count(DISTINCT th) AS BIGINT) AS exact_dup_docs,
       round(avg(score), 6) AS mean_quality
FROM per_doc
GROUP BY ROLLUP(source)
ORDER BY source
""",
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus "data card": per-source and overall (ROLLUP) doc
    counts, token volume, exact-duplicate counts, and mean
    model-quality score — the one-page health report a training-data
    pipeline publishes with every corpus release. ONE scan computes
    every per-doc signal in the same projection; the rollup is a
    single grouping-sets aggregate."""
    per_doc = t(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.lower(F.trim(F.col("text"))), _TOKS))
        .cast("bigint").alias("dl"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("th"),
        F.expr(
            "1.0 / (1.0 + exp(-("
            "aggregate(transform(split(lower(trim(text)), '\\\\s+'), "
            f"x -> {_S_W.format(x='x')}), cast(0 as double), "
            "(a, v) -> a + v) "
            "/ size(split(lower(trim(text)), '\\\\s+')))))"
        ).alias("score"),
    )
    return (
        per_doc.rollup("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("total_tokens"),
            (F.count(F.lit(1)) - F.countDistinct("th"))
            .cast("bigint").alias("exact_dup_docs"),
            F.round(F.avg("score"), 6).alias("mean_quality"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("__all__")).alias("source"),
            "n_docs", "total_tokens", "exact_dup_docs", "mean_quality",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Distribution shift: per-source unigram KL divergence vs the corpus.
# --------------------------------------------------------------------------

_KL_VOCAB = 200  # top-V corpus tokens define the comparison support


@workload(
    "source_unigram_kl",
    oracle=f"""
WITH toks AS (
  SELECT source,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, count(*) AS c_corpus FROM toks GROUP BY tok
  ORDER BY c_corpus DESC, tok LIMIT {_KL_VOCAB}
),
corpus_n AS (SELECT sum(c_corpus) AS n FROM vocab),
src AS (
  SELECT t.source, t.tok, count(*) AS c_src
  FROM toks t JOIN vocab v USING (tok)
  GROUP BY t.source, t.tok
),
src_n AS (SELECT source, sum(c_src) AS n_src FROM src GROUP BY source),
terms AS (
  SELECT s.source,
         (s.c_src + 1.0) / (sn.n_src + {_KL_VOCAB}) AS p,
         (v.c_corpus + 1.0) / (cn.n + {_KL_VOCAB}) AS q
  FROM src s
  JOIN src_n sn USING (source)
  JOIN vocab v USING (tok)
  CROSS JOIN corpus_n cn
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_terms,
       ROUND(sum(p * log2(p / q)), 6) AS kl_bits
FROM terms
GROUP BY source
ORDER BY source
""",
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shift per source: KL(P_source || P_corpus) over
    the top-{_KL_VOCAB} corpus tokens with add-one smoothing — the
    number that tells a data-mixing pipeline which source deviates
    from the blend (high KL → reweight or inspect). Bits (log2).

    Scale: one explode + two combiner aggs; the vocabulary support
    is a top-V broadcast, so per-source term tables are |sources|×V
    rows regardless of corpus size. (Terms missing from a source
    contribute only through smoothing mass on the present terms —
    the standard plug-in estimator on a truncated support.)"""
    toks = t(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_corpus"))
        .orderBy(F.col("c_corpus").desc(), "tok")
        .limit(_KL_VOCAB)
    )
    # bound: one aggregate row
    corpus_n = vocab.agg(F.sum("c_corpus").alias("n")).collect()[0]["n"]
    src = (
        toks.join(vocab.select("tok"), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_src"))
    )
    src_n = src.groupBy("source").agg(F.sum("c_src").alias("n_src"))
    terms = (
        src.join(F.broadcast(src_n), "source")  # bound: <= |source| rows
        .join(vocab, "tok")
        .select(
            "source",
            ((F.col("c_src") + 1.0) / (F.col("n_src") + _KL_VOCAB)).alias(
                "p"
            ),
            (
                (F.col("c_corpus") + 1.0) / (corpus_n + _KL_VOCAB)
            ).alias("q"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(
                F.sum(F.col("p") * F.log2(F.col("p") / F.col("q"))), 6
            ).alias("kl_bits"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Trained quality classifier (frozen GD-trained weights, per-source
# scoring rollup).
# --------------------------------------------------------------------------

# trained offline with operators/logreg.py::train_logreg on the
# sf0.001 corpus (80 full-batch GD steps, lr=1.0, labels from the
# length+stopword rule) — frozen here so inference is a pure
# function and the DuckDB oracle replays the identical sigmoid
_LR_W0 = -2.866807847679   # bias
_LR_W_LEN = 3.312776828835   # length(text)/200
_LR_W_STOP = 0.574814691264  # stopword_count/20

_F_LEN_DUCK = "strlen(text) / 200.0"
_F_STOP_DUCK = (
    "len(list_filter(regexp_split_to_array(lower(text), '\\s+'),"
    " t -> t IN ('the', 'a', 'of', 'and'))) / 20.0"
)


def quality_features(docs: DataFrame, *keep: str) -> DataFrame:
    """The ONE Spark-side definition of the quality-model feature
    space (f_len, f_stop, f_digits) the frozen _LR_* weights were
    trained on — shared by the inference workload here and every
    eval metric in workloads/evalmetrics.py, so the features can
    never drift apart from the model between modules. Mirrors
    _F_LEN_DUCK/_F_STOP_DUCK (+ the digits fragment in evalmetrics)
    operation-for-operation."""
    return docs.select(
        *keep,
        (F.length("text") / 200.0).alias("f_len"),
        (
            F.size(
                F.filter(
                    F.split(F.lower("text"), r"\s+"),
                    lambda tok: tok.isin("the", "a", "of", "and"),
                )
            )
            / 20.0
        ).alias("f_stop"),
        (F.length(F.regexp_replace("text", r"[^0-9]", "")) / 10.0).alias(
            "f_digits"
        ),
    )


@workload(
    "quality_classifier_trained",
    oracle=f"""
WITH scored AS (
  SELECT source,
         1.0 / (1.0 + exp(-({_LR_W0}
            + {_LR_W_LEN} * ({_F_LEN_DUCK})
            + {_LR_W_STOP} * ({_F_STOP_DUCK})))) AS proba
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(avg(proba), 4) AS mean_proba,
       CAST(sum(CASE WHEN proba > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_positive
FROM scored
GROUP BY source
ORDER BY source
""",
)
def quality_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring with WEIGHTS THE ENGINE TRAINED: the logistic
    model fit by operators/logreg.py (distributed GD, NumPy-parity-
    tested) frozen into a pure inference expression, rolled up per
    source — closing the loop the hashed classifier
    (quality_classifier_hashed) opens with hand-fixed weights.
    Train-once/freeze/score-everywhere is exactly how quality models
    deploy over a 100 TB corpus: training samples a slice, inference
    is a scan-stage sigmoid.

    Scale: map-only scoring + one combiner agg keyed by source."""
    from datanika_core_spark.operators.logreg import predict_proba

    docs = t(spark, sf_dir, "documents")
    feats = quality_features(docs, "source")
    scored = predict_proba(
        feats, ["f_len", "f_stop"], [_LR_W0, _LR_W_LEN, _LR_W_STOP]
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("proba"), 4).alias("mean_proba"),
            F.sum((F.col("proba") > 0.5).cast("int"))
            .cast("bigint")
            .alias("n_positive"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Readability (LIX) per language — the syllable-free readability index.
# --------------------------------------------------------------------------

_LIX_LONG = 7  # LIX's "long word" threshold (chars)


@workload(
    "text_readability_lix",
    oracle=rf"""
WITH per_doc AS (
  SELECT lang,
         CAST(len({_O_TOKS}) AS BIGINT) AS n_words,
         CAST(len(list_filter({_O_TOKS},
                              w -> length(w) >= {_LIX_LONG})) AS BIGINT)
           AS n_long,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
              AS BIGINT) AS n_sent
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_sent) AS BIGINT) AS n_sentences,
       CAST(sum(n_long) AS BIGINT) AS n_long_words,
       ROUND(sum(n_words) * 1.0 / sum(n_sent), 6) AS words_per_sentence,
       ROUND(sum(n_long) * 1.0 / sum(n_words), 6) AS long_word_share,
       ROUND(sum(n_words) * 1.0 / sum(n_sent)
             + 100.0 * sum(n_long) / sum(n_words), 4) AS lix
FROM per_doc
GROUP BY lang
ORDER BY lang
""",
)
def text_readability_lix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus readability per language via the LIX index (Björnsson
    1968): words/sentence + 100·(share of ≥7-char words) — the
    readability formula that needs NO syllable model, so it is
    language-agnostic and fully deterministic (Flesch-Kincaid's
    syllable counts are heuristic and locale-bound; LIX is the one
    production corpus filters use when the corpus is multilingual).
    Complements the quality-score battery: quality scores gate
    documents, LIX characterizes what a source's prose difficulty
    looks like, per language, from exact BIGINT word/sentence/
    long-word totals (ratios taken once, at the end).

    Scale: per-doc counters evaluate inside the scan (one
    higher-order filter over the token array, one regexp count);
    the groupBy(lang) collapses to |langs| rows per partition in
    the combiner. No joins, no second scan."""
    docs = t(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    per_doc = docs.select(
        "lang",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(
            F.filter(words, lambda w: F.length(w) >= _LIX_LONG)
        ).cast("bigint").alias("n_long"),
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
        ).cast("bigint").alias("n_sent"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_sent").cast("bigint").alias("n_sentences"),
            F.sum("n_long").cast("bigint").alias("n_long_words"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_sentences",
            "n_long_words",
            F.round(F.col("n_words") * 1.0 / F.col("n_sentences"), 6)
            .alias("words_per_sentence"),
            F.round(F.col("n_long_words") * 1.0 / F.col("n_words"), 6)
            .alias("long_word_share"),
            F.round(
                F.col("n_words") * 1.0 / F.col("n_sentences")
                + F.lit(100.0) * F.col("n_long_words") / F.col("n_words"),
                4,
            ).alias("lix"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Multinomial Naive Bayes source classifier (closed-form, count-only).
# --------------------------------------------------------------------------

_NB_UNIT = 100000000  # ln p snapped to 1e-8 BIGINT units

#: Shared per-term log-likelihood text (Laplace-smoothed): columns
#: cst = count of term in class, cs = class token total, v = train
#: vocabulary size. Parsed by BOTH engines -> identical IEEE tree.
_NB_LLH_UNITS = (
    f"cast(round(ln((coalesce(cst, 0) + cast(1.0 as double))"
    f" / (cs + v)) * {_NB_UNIT}) as bigint)"
)
_NB_PRIOR_UNITS = (
    f"cast(round(ln(nd * cast(1.0 as double) / tot)"
    f" * {_NB_UNIT}) as bigint)"
)


@workload(
    "classifier_naive_bayes_source",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, unnest({_O_TOKS}) AS term,
         (doc_id % 5 = 0) AS is_test
  FROM documents
),
cls AS (
  SELECT source,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS nd,
         CAST(count(*) AS BIGINT) AS cs
  FROM tok WHERE NOT is_test GROUP BY source
),
clst AS (
  SELECT c.source, c.cs,
         {_NB_PRIOR_UNITS.replace('tot', 't.tot')} AS prior_units,
         vt.v
  FROM cls c
  CROSS JOIN (SELECT CAST(sum(nd) AS BIGINT) AS tot FROM cls) t
  CROSS JOIN (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
              FROM tok WHERE NOT is_test) vt
),
ct AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS cst
  FROM tok WHERE NOT is_test GROUP BY source, term
),
tet AS (
  SELECT doc_id, source AS true_source, term,
         CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE is_test GROUP BY doc_id, source, term
),
scored AS (
  SELECT te.doc_id, te.true_source, k.source,
         any_value(k.prior_units) AS prior_units,
         CAST(sum(te.tf * {_NB_LLH_UNITS.replace('cs + v', 'k.cs + k.v')})
              AS BIGINT) AS llh_units
  FROM tet te
  CROSS JOIN clst k
  LEFT JOIN ct ON ct.source = k.source AND ct.term = te.term
  GROUP BY te.doc_id, te.true_source, k.source
),
pred AS (
  SELECT doc_id, true_source, source AS pred_source
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id
      ORDER BY prior_units + llh_units DESC, source) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT true_source, pred_source,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred
GROUP BY true_source, pred_source
ORDER BY true_source, pred_source
""",
)
def classifier_naive_bayes_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multinomial Naive Bayes predicting each doc's ingest SOURCE
    from its tokens — the classic closed-form text classifier
    (train = pure counting, no gradient loop): Laplace-smoothed
    p(term|class) = (c(s,t)+1)/(c(s)+V) with doc-frequency priors,
    trained on the 80% split and scored on the held-out 20%;
    output is the test confusion matrix.

    Determinism: every per-term ln p snaps to 1e-8 BIGINT units
    (shared _NB_LLH_UNITS text → identical IEEE tree on both
    engines), tf multiplies the snapped integer, sums are exact, and
    argmax ties break on class name.

    Scale: the MODEL is two count tables (class totals ~|C| rows,
    class-term ~|C|·V rows) built in one explode+groupBy pass each —
    at 100 TB the class-term table is the only non-trivial state and
    it broadcasts or bucket-joins by term. Scoring is one equi-join
    of the test term stream against it after a cheap |C|-way fanout
    (|C| = #sources, single digits), all map-side combined — serving
    a NB classifier is join throughput, the same profile as the LM
    evals."""
    tok = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id", "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term"),
            (F.col("doc_id") % 5 == 0).alias("is_test"),
        )
    )
    tr = tok.filter(~F.col("is_test"))
    te = tok.filter(F.col("is_test"))
    cls = tr.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("nd"),
        F.count(F.lit(1)).cast("bigint").alias("cs"),
    )
    tot = cls.agg(F.sum("nd").cast("bigint").alias("tot"))
    voc = tr.agg(F.countDistinct("term").cast("bigint").alias("v"))
    clst = (
        cls.crossJoin(tot)
        .crossJoin(voc)
        .select(
            "source", "cs", "v",
            F.expr(_NB_PRIOR_UNITS).alias("prior_units"),
        )
    )
    ct = tr.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("cst")
    )
    tet = te.groupBy("doc_id", F.col("source").alias("true_source"), "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    k = clst.select(
        F.col("source").alias("k_source"), "cs", "v", "prior_units"
    )
    ctk = ct.select(
        F.col("source").alias("k_source"), "term", "cst"
    )
    scored = (
        tet.crossJoin(F.broadcast(k))  # bound: <= |source| rows
        .join(ctk, ["k_source", "term"], "left")
        .select(
            "doc_id", "true_source",
            F.col("k_source").alias("source"),
            "prior_units",
            (F.col("tf") * F.expr(_NB_LLH_UNITS)).alias("lp"),
        )
        .groupBy("doc_id", "true_source", "source")
        .agg(
            F.first("prior_units").alias("prior_units"),
            F.sum("lp").cast("bigint").alias("llh_units"),
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy(
        (F.col("prior_units") + F.col("llh_units")).desc(), "source"
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_source", F.col("source").alias("pred_source"))
    )
    return (
        pred.groupBy("true_source", "pred_source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("true_source", "pred_source")
    )


# --------------------------------------------------------------------------
# GBDT histogram split finder (one boosting round, LightGBM-style).
# --------------------------------------------------------------------------

_GS_BINS = 32
_F_DIGITS_DUCK2 = "strlen(regexp_replace(text, '[^0-9]', '', 'g')) / 10.0"

#: Shared arithmetic texts (Spark F.expr + DuckDB parse the same
#: string -> identical IEEE trees).
_GS_BIN = (
    f"case when hi = lo then cast(0 as bigint) else"
    f" least(cast(floor((v - lo) * {_GS_BINS} / (hi - lo)) as bigint),"
    f" {_GS_BINS - 1}) end"
)
_GS_SPLIT_VALUE = f"lo + (bin + 1) * (hi - lo) / {_GS_BINS}"
#: Variance (Brier) reduction for 0/1 labels from exact integer
#: counts: SSE(n, p) = p(n-p)/n; gain = parent - left - right.
_GS_GAIN = (
    "(pt * cast(1.0 as double) * (nt - pt) / nt)"
    " - (pl * cast(1.0 as double) * (nl - pl) / nl)"
    " - (pr * cast(1.0 as double) * (nr - pr) / nr)"
)


@workload(
    "gbdt_histogram_split",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         {_F_LEN_DUCK} AS f_len,
         {_F_STOP_DUCK} AS f_stop,
         {_F_DIGITS_DUCK2} AS f_digits
  FROM documents
),
labeled AS (
  SELECT *, CASE WHEN f_len + 2 * f_stop - f_digits > 1.0
                 THEN 1 ELSE 0 END AS y
  FROM feats
),
stacked AS (
  SELECT 'f_len' AS feature, f_len AS v, y FROM labeled
  UNION ALL
  SELECT 'f_stop' AS feature, f_stop AS v, y FROM labeled
  UNION ALL
  SELECT 'f_digits' AS feature, f_digits AS v, y FROM labeled
),
rng AS (
  SELECT feature, min(v) AS lo, max(v) AS hi
  FROM stacked GROUP BY feature
),
hist AS (
  SELECT s.feature, {_GS_BIN} AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS pos
  FROM stacked s JOIN rng USING (feature)
  GROUP BY s.feature, {_GS_BIN}
),
pre AS (
  SELECT feature, bin,
         CAST(sum(n) OVER w AS BIGINT) AS nl,
         CAST(sum(pos) OVER w AS BIGINT) AS pl,
         CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
         CAST(sum(pos) OVER (PARTITION BY feature) AS BIGINT) AS pt
  FROM hist
  WINDOW w AS (PARTITION BY feature ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cand AS (
  SELECT feature, bin, nl, pl, nt - nl AS nr, pt - pl AS pr, nt, pt,
         {_GS_GAIN} AS gain
  FROM pre WHERE nl < nt
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY feature
                                 ORDER BY gain DESC, bin) AS rk
    FROM cand
  ) WHERE rk = 1
)
SELECT b.feature, b.bin AS split_bin,
       ROUND({_GS_SPLIT_VALUE}, 6) AS split_value,
       b.nl AS n_left, b.nr AS n_right,
       b.pl AS pos_left, b.pr AS pos_right,
       ROUND(b.gain, 6) AS gain
FROM best b JOIN rng r ON r.feature = b.feature
ORDER BY b.feature
""",
)
def gbdt_histogram_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of the histogram-based GBDT split search (the
    LightGBM/XGBoost-hist algorithm): each feature is bucketed into
    {B} equal-width bins, per-bin (count, positive-count) histograms
    are built in ONE combiner aggregation, and the best split per
    feature maximizes the exact variance reduction
    SSE(parent) − SSE(left) − SSE(right) computed from prefix sums
    over the bin histogram — never from the raw rows. This is THE
    distributed-training kernel: at 100 TB the only full-data cost
    is the histogram build (a groupBy with |features|·|bins| output
    rows per partition, all map-side combined); the split search
    itself runs on |features|·|bins| rows, driver-sized regardless
    of corpus size, which is why histogram GBDT scales where exact
    split enumeration cannot.

    Determinism: bin ids, counts, and positives are exact integers;
    the gain evaluates ONE shared expression text over those
    integers on both engines; argmax ties break on bin id."""
    docs = t(spark, sf_dir, "documents")
    labeled = quality_features(docs, "doc_id").withColumn(
        "y",
        (
            F.col("f_len") + 2 * F.col("f_stop") - F.col("f_digits")
            > F.lit(1.0)
        ).cast("int"),
    )
    stacked = labeled.select(
        F.expr(
            "stack(3, 'f_len', f_len, 'f_stop', f_stop,"
            " 'f_digits', f_digits) as (feature, v)"
        ),
        "y",
    )
    rng = stacked.groupBy("feature").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    hist = (
        stacked.join(F.broadcast(rng), "feature")  # bound: <= |features| rows
        .select("feature", F.expr(_GS_BIN).alias("bin"), "y")
        .groupBy("feature", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )
    from pyspark.sql import Window as _W

    wcum = (
        _W.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    wtot = _W.partitionBy("feature")
    pre = hist.select(
        "feature", "bin",
        F.sum("n").over(wcum).cast("bigint").alias("nl"),
        F.sum("pos").over(wcum).cast("bigint").alias("pl"),
        F.sum("n").over(wtot).cast("bigint").alias("nt"),
        F.sum("pos").over(wtot).cast("bigint").alias("pt"),
    )
    cand = (
        pre.filter(F.col("nl") < F.col("nt"))
        .select(
            "feature", "bin", "nl", "pl", "nt", "pt",
            (F.col("nt") - F.col("nl")).alias("nr"),
            (F.col("pt") - F.col("pl")).alias("pr"),
        )
        .withColumn("gain", F.expr(_GS_GAIN))
    )
    wbest = _W.partitionBy("feature").orderBy(F.col("gain").desc(), "bin")
    best = (
        cand.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
    )
    return (
        best.join(F.broadcast(rng), "feature")  # bound: <= |features| rows
        .select(
            "feature",
            F.col("bin").alias("split_bin"),
            F.round(F.expr(_GS_SPLIT_VALUE), 6).alias("split_value"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.col("pl").alias("pos_left"),
            F.col("pr").alias("pos_right"),
            F.round("gain", 6).alias("gain"),
        )
        .orderBy("feature")
    )


# --------------------------------------------------------------------------
# Weight-of-evidence / information-value feature binning.
# --------------------------------------------------------------------------

_WOE_BINS = 8
_WOE_UNIT = 100000000

_WOE_BIN = (
    f"case when hi = lo then cast(0 as bigint) else"
    f" least(cast(floor((v - lo) * {_WOE_BINS} / (hi - lo)) as bigint),"
    f" {_WOE_BINS - 1}) end"
)
#: WoE in 1e-8 units from exact integer bin counts (0.5-smoothed):
#: woe = ln( (pos_b + .5)/(pos_tot + .5B) / ((neg_b + .5)/(neg_tot
#: + .5B)) ). Shared text -> identical IEEE tree.
_WOE_EXPR = (
    f"cast(round(ln("
    f"((pos + cast(0.5 as double)) / (pt + cast({_WOE_BINS * 0.5} as double)))"
    f" / ((neg + cast(0.5 as double)) / (nt + cast({_WOE_BINS * 0.5} as double)))"
    f") * {_WOE_UNIT}) as bigint)"
)
#: IV contribution of a bin, in the same units: (p% - n%) * woe.
_IV_EXPR = (
    f"cast(round("
    f"((pos + cast(0.5 as double)) / (pt + cast({_WOE_BINS * 0.5} as double))"
    f" - (neg + cast(0.5 as double)) / (nt + cast({_WOE_BINS * 0.5} as double)))"
    f" * (woe_units * cast(1.0 as double) / {_WOE_UNIT})"
    f" * {_WOE_UNIT}) as bigint)"
)


@workload(
    "feature_woe_iv_binning",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         {_F_LEN_DUCK} AS f_len,
         {_F_STOP_DUCK} AS f_stop,
         {_F_DIGITS_DUCK2} AS f_digits
  FROM documents
),
labeled AS (
  SELECT *, CASE WHEN f_len + 2 * f_stop - f_digits > 1.0
                 THEN 1 ELSE 0 END AS y
  FROM feats
),
stacked AS (
  SELECT 'f_len' AS feature, f_len AS v, y FROM labeled
  UNION ALL
  SELECT 'f_stop' AS feature, f_stop AS v, y FROM labeled
),
rng AS (
  SELECT feature, min(v) AS lo, max(v) AS hi FROM stacked GROUP BY feature
),
hist AS (
  SELECT s.feature, {_WOE_BIN} AS bin,
         CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(1 - y) AS BIGINT) AS neg
  FROM stacked s JOIN rng USING (feature)
  GROUP BY s.feature, {_WOE_BIN}
),
tot AS (
  SELECT feature,
         CAST(sum(pos) AS BIGINT) AS pt,
         CAST(sum(neg) AS BIGINT) AS nt
  FROM hist GROUP BY feature
),
woed AS (
  SELECT h.feature, h.bin, h.pos, h.neg,
         {_WOE_EXPR} AS woe_units
  FROM hist h JOIN tot USING (feature)
),
ived AS (
  SELECT w.feature, w.bin, w.pos, w.neg, w.woe_units,
         {_IV_EXPR} AS iv_units
  FROM woed w JOIN tot USING (feature)
)
SELECT feature, bin, pos, neg,
       ROUND(woe_units * 1.0 / {_WOE_UNIT}, 6) AS woe,
       ROUND(sum(iv_units) OVER (PARTITION BY feature) * 1.0
             / {_WOE_UNIT}, 6) AS iv_total
FROM ived
ORDER BY feature, bin
""",
)
def feature_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value feature audit — the
    credit-scoring-standard univariate screen: each feature is cut
    into {B} equal-width bins, every bin gets its 0.5-smoothed WoE =
    ln(P(bin|pos) / P(bin|neg)), and the feature's total IV =
    Σ (p% − n%)·WoE says whether the feature is worth keeping
    (IV < 0.02 useless, > 0.5 suspect/leaky). Complements
    feature_infogain_label (MI says HOW MUCH dependence; WoE says
    WHERE in the feature's range it lives and in which direction —
    it is also the monotone-encoding table logistic scorecards
    consume, cf. feature_target_encoding_oof).

    Determinism: bin counts are exact integers; WoE and IV evaluate
    shared expression texts snapped to 1e-8 BIGINT units. Scale: ONE
    combiner aggregation builds all histograms (|features|·{B}
    output rows); everything after runs on the histogram."""
    docs = t(spark, sf_dir, "documents")
    labeled = quality_features(docs, "doc_id").withColumn(
        "y",
        (
            F.col("f_len") + 2 * F.col("f_stop") - F.col("f_digits")
            > F.lit(1.0)
        ).cast("int"),
    )
    stacked = labeled.select(
        F.expr(
            "stack(2, 'f_len', f_len, 'f_stop', f_stop) as (feature, v)"
        ),
        "y",
    )
    rng = stacked.groupBy("feature").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    hist = (
        stacked.join(F.broadcast(rng), "feature")  # bound: <= |features| rows
        .select("feature", F.expr(_WOE_BIN).alias("bin"), "y")
        .groupBy("feature", "bin")
        .agg(
            F.sum("y").cast("bigint").alias("pos"),
            F.sum(1 - F.col("y")).cast("bigint").alias("neg"),
        )
    )
    tot = hist.groupBy("feature").agg(
        F.sum("pos").cast("bigint").alias("pt"),
        F.sum("neg").cast("bigint").alias("nt"),
    )
    # bound: <= |features| rows
    woed = hist.join(F.broadcast(tot), "feature").withColumn(
        "woe_units", F.expr(_WOE_EXPR)
    )
    ived = woed.withColumn("iv_units", F.expr(_IV_EXPR))
    from pyspark.sql import Window as _W

    return (
        ived.select(
            "feature", "bin", "pos", "neg",
            F.round(F.col("woe_units") * 1.0 / _WOE_UNIT, 6).alias("woe"),
            F.round(
                F.sum("iv_units").over(_W.partitionBy("feature")) * 1.0
                / _WOE_UNIT,
                6,
            ).alias("iv_total"),
        )
        .orderBy("feature", "bin")
    )


# --------------------------------------------------------------------------
# Histogram-density anomaly score (multivariate NB-density surprise).
# --------------------------------------------------------------------------

_AD_BINS = 16
_AD_TOPK = 20
_AD_UNIT = 100000000

_AD_BIN = (
    f"case when hi = lo then cast(0 as bigint) else"
    f" least(cast(floor((v - lo) * {_AD_BINS} / (hi - lo)) as bigint),"
    f" {_AD_BINS - 1}) end"
)
#: Per-feature surprise in 1e-8 units: -ln Laplace-smoothed bin mass.
_AD_NLL = (
    f"cast(round(-ln((cnt + cast(1.0 as double))"
    f" / (n + cast({_AD_BINS} as double))) * {_AD_UNIT}) as bigint)"
)


@workload(
    "anomaly_histogram_density",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         {_F_LEN_DUCK} AS f_len,
         {_F_STOP_DUCK} AS f_stop,
         {_F_DIGITS_DUCK2} AS f_digits
  FROM documents
),
stacked AS (
  SELECT doc_id, 'f_len' AS feature, f_len AS v FROM feats
  UNION ALL
  SELECT doc_id, 'f_stop' AS feature, f_stop AS v FROM feats
  UNION ALL
  SELECT doc_id, 'f_digits' AS feature, f_digits AS v FROM feats
),
rng AS (
  SELECT feature, min(v) AS lo, max(v) AS hi FROM stacked GROUP BY feature
),
binned AS (
  SELECT s.doc_id, s.feature, {_AD_BIN} AS bin
  FROM stacked s JOIN rng USING (feature)
),
hist AS (
  SELECT feature, bin, CAST(count(*) AS BIGINT) AS cnt
  FROM binned GROUP BY feature, bin
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feats),
scored AS (
  SELECT b.doc_id,
         CAST(sum({_AD_NLL}) AS BIGINT) AS units
  FROM binned b
  JOIN hist h ON h.feature = b.feature AND h.bin = b.bin
  CROSS JOIN tot
  GROUP BY b.doc_id
)
SELECT doc_id,
       ROUND(units * 1.0 / {_AD_UNIT}, 6) AS nll_score,
       CAST(row_number() OVER (ORDER BY units DESC, doc_id) AS BIGINT)
         AS rank
FROM scored
ORDER BY units DESC, doc_id
LIMIT {_AD_TOPK}
""",
)
def anomaly_histogram_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-density anomaly detection — the multivariate
    complement of events_mad_outliers' univariate z-scores: model
    each quality feature's marginal as a {B}-bin histogram, score
    every doc by its summed negative log bin mass (a naive-Bayes
    density estimate; Laplace-smoothed so empty bins stay finite),
    and surface the top-{K} least-probable docs. Docs that are
    unremarkable on every single feature but sit in RARE bins of
    several at once rank high — exactly what per-feature thresholds
    miss.

    Determinism: bin ids and counts are exact integers; each
    feature's −ln mass snaps to 1e-8 BIGINT units through one shared
    text, so per-doc sums and the top-k cutoff compare exact
    integers. Scale: histograms build in ONE combiner aggregation
    (|features|·{B} rows — broadcast back); scoring joins each doc's
    3 bins against that broadcast table map-side; top-k is
    TakeOrdered. Two scans, no wide shuffle beyond the per-doc sum."""
    docs = t(spark, sf_dir, "documents")
    feats = quality_features(docs, "doc_id")
    stacked = feats.select(
        "doc_id",
        F.expr(
            "stack(3, 'f_len', f_len, 'f_stop', f_stop,"
            " 'f_digits', f_digits) as (feature, v)"
        ),
    )
    rng = stacked.groupBy("feature").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    # bound: <= |features| rows
    binned = stacked.join(F.broadcast(rng), "feature").select(
        "doc_id", "feature", F.expr(_AD_BIN).alias("bin")
    )
    hist = binned.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = feats.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    scored = (
        # bound: <= |features| x 16 bins
        binned.join(F.broadcast(hist), ["feature", "bin"])
        .crossJoin(tot)
        .select("doc_id", F.expr(_AD_NLL).alias("u"))
        .groupBy("doc_id")
        .agg(F.sum("u").cast("bigint").alias("units"))
    )
    from pyspark.sql import Window as _W

    return (
        scored.orderBy(F.col("units").desc(), "doc_id")
        .limit(_AD_TOPK)
        .select(
            "doc_id",
            F.round(F.col("units") * 1.0 / _AD_UNIT, 6).alias("nll_score"),
            F.row_number()
            .over(_W.orderBy(F.col("units").desc(), "doc_id"))
            .cast("bigint")
            .alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# Lexicon sentiment scoring (EDBT'16 Spark sentiment-pipeline shape).
# --------------------------------------------------------------------------

_SENT_POS = ("good", "great", "fast", "new", "best")
_SENT_NEG = ("bad", "slow", "old", "error", "broken")

_SENT_POS_SQL = ", ".join(f"'{w}'" for w in _SENT_POS)
_SENT_NEG_SQL = ", ".join(f"'{w}'" for w in _SENT_NEG)


@workload(
    "text_sentiment_lexicon",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, {_O_TOKS} AS toks FROM documents
),
scored AS (
  SELECT doc_id, source,
         CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(len(list_filter(toks, x -> x IN ({_SENT_POS_SQL})))
              AS BIGINT) AS n_pos,
         CAST(len(list_filter(toks, x -> x IN ({_SENT_NEG_SQL})))
              AS BIGINT) AS n_neg
  FROM tok WHERE len(toks) > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_pos) AS BIGINT) AS pos_hits,
       CAST(sum(n_neg) AS BIGINT) AS neg_hits,
       ROUND(sum((n_pos - n_neg) * 1000000 // n_toks) * 1.0
             / count(*) / 1000000, 6) AS mean_polarity,
       ROUND(sum(CASE WHEN n_pos > n_neg THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS share_positive
FROM scored
GROUP BY source
ORDER BY source
""",
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment per ingest source — the EDBT'16
    large-scale-Spark-sentiment shape (PAPERS.md): per-doc polarity
    = (positive hits − negative hits) / tokens from two fixed word
    lists, evaluated as scan-stage array folds (the
    quality_classifier_hashed discipline — no shuffle until the
    per-source rollup), then aggregated to mean polarity and the
    share of net-positive docs per source. The lexicons are
    placeholders; a real list is a broadcast set with the identical
    plan.

    Determinism: hit counts are exact integers; per-doc polarity
    snaps to integer ppm via integer division before the sum, so the
    per-source mean is exact integer arithmetic until the single
    final division. Scale: map-only scoring + one combiner rollup
    keyed by source — sentiment at 100 TB is scan throughput."""
    tok = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id", "source",
            F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks"),
        )
        .filter(F.size("toks") > 0)
    )
    pos_list = ", ".join(f"'{w}'" for w in _SENT_POS)
    neg_list = ", ".join(f"'{w}'" for w in _SENT_NEG)
    scored = tok.select(
        "source",
        F.size("toks").cast("bigint").alias("n_toks"),
        F.expr(f"size(filter(toks, x -> x in ({pos_list})))")
        .cast("bigint").alias("n_pos"),
        F.expr(f"size(filter(toks, x -> x in ({neg_list})))")
        .cast("bigint").alias("n_neg"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_pos").cast("bigint").alias("pos_hits"),
            F.sum("n_neg").cast("bigint").alias("neg_hits"),
            F.round(
                F.sum(F.expr("(n_pos - n_neg) * 1000000 div n_toks"))
                * 1.0
                / F.count(F.lit(1))
                / 1000000,
                6,
            ).alias("mean_polarity"),
            F.round(
                F.sum(
                    F.when(F.col("n_pos") > F.col("n_neg"), 1).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("share_positive"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Gopher word-level quality rules (round 8) — the companion of
# corpus_gopher_repetition (which covers the repetition rules).
# --------------------------------------------------------------------------

_GW_MIN_TOK = 30
_GW_MAX_TOK = 100_000
_GW_MWL_LO = 3.0
_GW_MWL_HI = 10.0
_GW_ALPHA_MIN = 0.8
_GW_STOP_MIN = 2
_GW_STOPS = "'the', 'a', 'and', 'of', 'to', 'is'"


@workload(
    "quality_gopher_wordlevel",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, {_O_TOKS} AS toks FROM documents
),
sig AS (
  SELECT source,
         CAST(len(toks) AS BIGINT) AS n_tok,
         CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT)
           AS n_chars,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS n_alpha,
         CAST(len(list_filter(toks, x -> x IN ({_GW_STOPS})))
              AS BIGINT) AS n_stop
  FROM d
),
rules AS (
  SELECT source,
         CASE WHEN n_tok BETWEEN {_GW_MIN_TOK} AND {_GW_MAX_TOK}
              THEN 1 ELSE 0 END AS ok_len,
         -- exact rational compares: n_chars/n_tok in [lo, hi]
         CASE WHEN n_chars >= {_GW_MWL_LO} * n_tok
               AND n_chars <= {_GW_MWL_HI} * n_tok
              THEN 1 ELSE 0 END AS ok_mwl,
         CASE WHEN n_alpha * 1.0 >= {_GW_ALPHA_MIN} * n_tok
              THEN 1 ELSE 0 END AS ok_alpha,
         CASE WHEN n_stop >= {_GW_STOP_MIN} THEN 1 ELSE 0 END AS ok_stop
  FROM sig
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(sum(ok_len) * 1.0 / count(*), 6) AS pass_len,
       ROUND(sum(ok_mwl) * 1.0 / count(*), 6) AS pass_word_len,
       ROUND(sum(ok_alpha) * 1.0 / count(*), 6) AS pass_alpha,
       ROUND(sum(ok_stop) * 1.0 / count(*), 6) AS pass_stopword,
       ROUND(sum(ok_len * ok_mwl * ok_alpha * ok_stop) * 1.0 / count(*), 6)
         AS pass_all
FROM rules
GROUP BY source
ORDER BY source
""",
)
def quality_gopher_wordlevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher (Rae et al. 2021) word-level quality rules the
    repetition workload doesn't cover: token-count bounds, mean word
    length in [3, 10], ≥80% of words containing an alphabetic
    character, and ≥2 stopwords — reported as per-source pass rates
    plus the all-rules pass share (the filter a pretraining pipeline
    applies before dedup). Every rule evaluates as an exact integer
    compare (mean word length tests n_chars against bound·n_tok, no
    division), so cross-engine parity is arithmetic identity.

    Scale: map-only per-document signals (per-row lambdas inside
    whole-stage codegen — no explode, no token shuffle) + one
    source-level combiner aggregate."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks"),
    )
    sig = d.select(
        "source",
        F.size("toks").cast("bigint").alias("n_tok"),
        F.expr(
            "aggregate(toks, 0L, (acc, x) -> acc + length(x))"
        ).cast("bigint").alias("n_chars"),
        F.expr(
            "size(filter(toks, x -> x rlike '[a-z]'))"
        ).cast("bigint").alias("n_alpha"),
        F.expr(
            f"size(filter(toks, x -> x IN ({_GW_STOPS})))"
        ).cast("bigint").alias("n_stop"),
    )
    rules = sig.select(
        "source",
        F.when(
            F.col("n_tok").between(_GW_MIN_TOK, _GW_MAX_TOK), 1
        ).otherwise(0).alias("ok_len"),
        F.when(
            (F.col("n_chars") >= _GW_MWL_LO * F.col("n_tok"))
            & (F.col("n_chars") <= _GW_MWL_HI * F.col("n_tok")),
            1,
        ).otherwise(0).alias("ok_mwl"),
        F.when(
            F.col("n_alpha") * 1.0 >= _GW_ALPHA_MIN * F.col("n_tok"), 1
        ).otherwise(0).alias("ok_alpha"),
        F.when(F.col("n_stop") >= _GW_STOP_MIN, 1).otherwise(0)
        .alias("ok_stop"),
    )
    cnt = F.count(F.lit(1))
    return (
        rules.groupBy("source")
        .agg(
            cnt.cast("bigint").alias("n_docs"),
            F.round(F.sum("ok_len") * 1.0 / cnt, 6).alias("pass_len"),
            F.round(F.sum("ok_mwl") * 1.0 / cnt, 6).alias("pass_word_len"),
            F.round(F.sum("ok_alpha") * 1.0 / cnt, 6).alias("pass_alpha"),
            F.round(F.sum("ok_stop") * 1.0 / cnt, 6).alias("pass_stopword"),
            F.round(
                F.sum(
                    F.col("ok_len") * F.col("ok_mwl")
                    * F.col("ok_alpha") * F.col("ok_stop")
                ) * 1.0 / cnt,
                6,
            ).alias("pass_all"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets per language (round 8).
# --------------------------------------------------------------------------

_CC_BUCKETS = 3
_CC_UNIT = 100000000  # 1e-8 log-prob snap


@workload(
    "ccnet_perplexity_buckets",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, {_O_TOKS} AS toks FROM documents
),
tok AS (SELECT doc_id, lang, unnest(toks) AS term FROM d),
lm AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY lang, term
),
norm AS (
  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS v
  FROM lm GROUP BY lang
),
scored AS (
  SELECT tk.doc_id, tk.lang,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(CAST(round((ln(lm.cnt + 1) - ln(norm.n + norm.v))
                             * {_CC_UNIT}) AS BIGINT)) AS BIGINT) AS lp_units
  FROM tok tk
  JOIN lm ON lm.lang = tk.lang AND lm.term = tk.term
  JOIN norm ON norm.lang = tk.lang
  GROUP BY tk.doc_id, tk.lang
),
ppl AS (
  SELECT doc_id, lang, n_tok,
         exp(-(lp_units * 1.0 / {_CC_UNIT}) / n_tok) AS ppl
  FROM scored
),
bucketed AS (
  SELECT lang, ppl,
         CAST(ntile({_CC_BUCKETS}) OVER (
             PARTITION BY lang ORDER BY ppl, doc_id) AS BIGINT) AS bucket
  FROM ppl
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(sum(CAST(round(ppl * 10000) AS BIGINT)) / 10000.0
             / count(*), 4) AS avg_ppl
FROM bucketed
GROUP BY lang, bucket
ORDER BY lang, bucket
""",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's (Wenzek et al. 2020) head/middle/tail split: fit an
    add-one unigram LM PER LANGUAGE on the corpus itself, score each
    document's perplexity under its own language's LM, and cut each
    language into {n} equal-count quality buckets (head = lowest
    perplexity). The per-(lang, bucket) doc counts and mean
    perplexities are the knobs a pretraining mixture tunes (keep
    head+middle, drop tail — the canonical Common Crawl curation
    recipe).

    Determinism: per-token log-probs ln(c+1) − ln(N+V) derive from
    exact BIGINTs and snap to 1e-8 integer units before the per-doc
    sum (summation order can't flip a bit); ntile orders by the
    identical ppl double with a doc_id tiebreak; bucket means snap
    ppl to 1e-4 units.

    Scale: token counts are one explode + (lang, term) groupBy
    (map-side combinable); scoring joins tokens to the LM on the
    (lang, term) equi-key — a bucketable shuffle join (CCNet shards
    by language for exactly this reason); the ntile runs per
    language over doc-level rows only."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks"),
    )
    tok = d.select("doc_id", "lang", F.explode("toks").alias("term"))
    lm = tok.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    norm = lm.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    scored = (
        tok.join(lm, ["lang", "term"])
        .join(F.broadcast(norm), "lang")  # bound: <= |lang| rows
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum(
                F.round(
                    (
                        F.log(F.col("cnt") + 1)
                        - F.log(F.col("n") + F.col("v"))
                    ) * _CC_UNIT
                ).cast("bigint")
            ).cast("bigint").alias("lp_units"),
        )
    )
    ppl = scored.select(
        "doc_id", "lang",
        F.exp(
            -(F.col("lp_units") * 1.0 / _CC_UNIT) / F.col("n_tok")
        ).alias("ppl"),
    )
    bucketed = ppl.select(
        "lang", "ppl",
        F.ntile(_CC_BUCKETS).over(
            Window.partitionBy("lang").orderBy("ppl", "doc_id")
        ).cast("bigint").alias("bucket"),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.round(F.col("ppl") * 10000).cast("bigint"))
                / 10000.0 / F.count(F.lit(1)),
                4,
            ).alias("avg_ppl"),
        )
        .orderBy("lang", "bucket")
    )
