"""Text analysis + deduplication operators over the `documents`
table — the training-data-pipeline surface (beyond-reference,
SURVEY.md §7 Phase 4).

Every operator is expressed with built-in Spark SQL functions
(higher-order array lambdas, regexp, md5) — zero Python UDFs, so the
whole pipeline stays inside whole-stage codegen and scales to 100 TB
corpora: per-document work is embarrassingly parallel, and the only
shuffles are the candidate-pair joins, which LSH banding keeps small.

Determinism/oracle notes:
- All hashing is md5-based: ``conv(substring(md5(x),1,15),16,10)``
  (Spark) == ``('0x'||substring(md5(x),1,15))::BIGINT`` (DuckDB) —
  a 60-bit positive integer, bit-identical across engines. Spark's
  native murmur3 ``hash()`` would be faster but has no DuckDB twin;
  swap it in when you don't need a SQL oracle.
- The synthetic corpus has no real duplicates, so dedup workloads
  inject deterministic dup/near-dup rows (exact copies at
  doc_id+10000, 90%-prefix mutants at doc_id+20000) — the oracle SQL
  performs the identical injection.

At 100 TB:
- exact dedup is one hash-shuffle (groupBy md5) — bucket the corpus
  by the hash to make reruns shuffle-free;
- MinHash signatures are computed per-row (no shuffle); only band
  buckets shuffle, and each bucket is tiny if bands/rows are tuned
  (b*r = K, threshold ≈ (1/b)^(1/r));
- SimHash block-join is the pigeonhole trick: hamming ≤ k pairs must
  share one of k+1 fingerprint blocks — a 4-way equi-join replaces
  the quadratic cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.minhash import (
    MH_B as _MH_B,
    MH_K as _MH_K,
    MH_P as _MH_P,
    MH_R as _MH_R,
    SHINGLES_EXPR as _SHINGLES_EXPR,
    TOKS_PATTERN as _TOKS,
    spark_hash_expr as _spark_hash,
)
from datanika_core_spark.workloads import t, workload


def _with_toks(df: DataFrame) -> DataFrame:
    return df.withColumn("toks", F.split("text", _TOKS))


#: Input-size ceiling for the prefix-index df-table broadcast hint,
#: on COMPRESSED on-disk parquet bytes — not decoded text, which is
#: commonly 5-10x larger. Distinct shingle hashes <= shingle instances
#: <= decoded text bytes and a freq row is ~16 B, so the worst case
#: is far past the session's broadcast budget; the ceiling relies on
#: the distinct ratio, which keeps the df table small in practice.
#: Read from file metadata — NO probe job at construction
#: (the eager-probe pattern is the defect class r11 removed from the
#: triangle count).
_PREFIX_BROADCAST_INPUT_CEILING = 64 * 1024 * 1024


def _input_bytes(df: DataFrame) -> int:
    """Total size of the distinct source files under ``df``'s analyzed
    plan — driver-side metadata only (no Spark job). The analyzed plan
    keeps a cached frame's source scans, which ``inputFiles()`` (read
    from the cache-substituted plan) would miss. When the size is
    unknowable — no file scans (an in-memory or checkpointed source),
    a non-local scheme or a stat failure — report over-ceiling, i.e.
    err on NOT forcing the broadcast."""
    import os

    from py4j.protocol import Py4JError

    over = _PREFIX_BROADCAST_INPUT_CEILING + 1
    files: set[str] = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "LogicalRelation":
            try:
                files.update(node.relation().location().inputFiles())
            except Py4JError:  # not a file-based relation
                return over
        kids = node.children()
        stack.extend(kids.apply(k) for k in range(kids.size()))
    if not files:
        return over
    total = 0
    for p in files:
        if p.startswith("file:"):
            p = p[len("file:"):]
        elif "://" in p or ":" in p.split("/", 1)[0]:
            return over
        try:
            total += os.path.getsize(p)
        except OSError:
            return over
    return total


def _norm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        F.lower(F.trim(F.col("text"))).alias("text"),
    )


def _corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ 90%-token-prefix mutants of every 25th doc.

    Repartitioned by doc_id: the test corpus is ONE small parquet
    file → one input split → one task, which serializes the (CPU-
    heavy) per-document hashing. On a real corpus the scan splits by
    file/row-group anyway; the explicit spread keyed on doc_id is
    what you'd do after any single-threaded source."""
    docs = _norm_docs(spark, sf_dir)
    toks = F.split("text", _TOKS)
    prefix = F.greatest(
        F.floor(F.size(toks) * 0.9).cast("int"), F.lit(3)
    )
    # lang/source ride along (mutants inherit the parent's — a
    # projection of the same row, so downstream consumers that need
    # them, e.g. the curation pipeline's metadata stage, never join
    # back to the base table; unused columns prune away for free)
    mutants = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        "lang", "source",
        F.concat_ws(" ", F.slice(toks, F.lit(1), prefix)).alias("text"),
    )
    out = docs.select("doc_id", "lang", "source", "text").unionByName(mutants)
    return out.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


# -- shared fragments (DuckDB oracle side) ----------------------------------

_O_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"

_O_HASH = "('0x'||substring(md5({x}),1,15))::BIGINT"

_O_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform("
    "range(1, len(toks)-1),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
    " ELSE [] END"
)

_O_CORPUS_NEARDUP = f"""
corpus AS (
  SELECT doc_id, lower(trim(text)) AS text FROM documents
  UNION ALL
  SELECT doc_id + 20000 AS doc_id,
         array_to_string(list_slice(toks, 1,
             greatest(CAST(floor(len(toks) * 0.9) AS INT), 3)), ' ') AS text
  FROM (SELECT doc_id, {_O_TOKS} AS toks FROM documents)
  WHERE doc_id % 25 = 0
)"""

_O_SHINGLED = f"""
shingled AS (
  SELECT doc_id, {_O_SHINGLES} AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM corpus)
)"""


# --------------------------------------------------------------------------
# Text quality scoring: length / punctuation / stopword ratios per doc.
# --------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to", "is")
_SW_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)


@workload(
    "text_quality_scores",
    oracle=f"""
SELECT doc_id,
       len(toks) AS n_tokens,
       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
       len(list_filter(toks, x -> x IN ({_SW_IN}))) * 1.0 / len(toks)
         AS stop_ratio,
       length(replace(text, ' ', '')) * 1.0 / len(toks) AS avg_token_len,
       least(1.0, len(toks) / 100.0)
         * (0.5 + 0.5 * (len(list_filter(toks, x -> x IN ({_SW_IN})))
                         * 1.0 / len(toks))) AS quality
FROM (SELECT doc_id, lower(trim(text)) AS text, {_O_TOKS} AS toks
      FROM documents)
ORDER BY doc_id
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality profile: token count, punctuation count,
    stopword ratio, mean token length and a composite quality score —
    all single-pass column expressions (no shuffle, no UDF)."""
    # sort FIRST, profile after (r11): the range-partitioner samples
    # the sort's child plan, so the profile expressions below a final
    # orderBy run twice — same fix as quality_classifier_hashed
    # (measured there: 2.51 s → 1.08 s at sf0.1)
    docs = _with_toks(_norm_docs(spark, sf_dir)).orderBy("doc_id")
    n_tokens = F.size("toks")
    stop_hits = F.expr(f"size(filter(toks, x -> x IN ({_SW_IN})))")
    stop_ratio = stop_hits * F.lit(1.0) / n_tokens
    return docs.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[.,;:!?]"), 0))
        .cast("bigint")
        .alias("n_punct"),
        stop_ratio.alias("stop_ratio"),
        (F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
         * F.lit(1.0) / n_tokens).alias("avg_token_len"),
        (F.least(F.lit(1.0), n_tokens / F.lit(100.0))
         * (F.lit(0.5) + F.lit(0.5) * stop_ratio)).alias("quality"),
    )


# --------------------------------------------------------------------------
# Language ID: stopword-hit n-gram heuristic, scored vs the lang column.
# --------------------------------------------------------------------------

_LANG_LISTS = {
    "en": ("the", "a", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "et", "est", "les", "un"),
    "es": ("el", "los", "y", "es", "una", "por"),
}


def _hits_sql(words: tuple[str, ...], filter_fn: str, len_fn: str) -> str:
    lits = ", ".join(f"'{w}'" for w in words)
    return f"{len_fn}({filter_fn}(toks, x -> x IN ({lits})))"


def _langid_case(filter_fn: str, len_fn: str) -> str:
    h = {lg: _hits_sql(ws, filter_fn, len_fn) for lg, ws in _LANG_LISTS.items()}
    return f"""CASE
  WHEN {h['en']} >= {h['de']} AND {h['en']} >= {h['fr']}
       AND {h['en']} >= {h['es']} AND {h['en']} > 0 THEN 'en'
  WHEN {h['de']} >= {h['fr']} AND {h['de']} >= {h['es']}
       AND {h['de']} > 0 THEN 'de'
  WHEN {h['fr']} >= {h['es']} AND {h['fr']} > 0 THEN 'fr'
  WHEN {h['es']} > 0 THEN 'es'
  ELSE 'und' END"""


@workload(
    "text_langid_confusion",
    oracle=f"""
SELECT lang, {_langid_case('list_filter', 'len')} AS predicted,
       count(*) AS n
FROM (SELECT lang, {_O_TOKS} AS toks FROM documents)
GROUP BY 1, 2
ORDER BY lang, predicted
""",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram heuristic): hit counts per
    language wordlist, argmax with a fixed tiebreak, reported as a
    confusion matrix against the ground-truth lang column."""
    docs = _with_toks(_norm_docs(spark, sf_dir))
    pred = F.expr(_langid_case("filter", "size"))
    return (
        docs.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


# --------------------------------------------------------------------------
# Token counting: whitespace + BPE-ish regex pretokenizer.
# --------------------------------------------------------------------------

_BPE_PAT = r"[a-z]+|[0-9]|[^a-z0-9\s]"


@workload(
    "text_token_counts",
    oracle=f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len({_O_TOKS})) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(lower(trim(text)), '{_BPE_PAT}')))
         AS BIGINT) AS bpe_tokens,
       CAST(max(len({_O_TOKS})) AS BIGINT) AS max_doc_tokens
FROM documents
GROUP BY source
ORDER BY source
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per source: whitespace tokens and a BPE-style
    regex pretokenization (letter runs / digits / punctuation) — the
    cheap token-budget estimator for corpus curation."""
    docs = _norm_docs(spark, sf_dir)
    ws = F.size(F.split("text", _TOKS))
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), 0))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws).cast("bigint").alias("ws_tokens"),
            F.sum(bpe).cast("bigint").alias("bpe_tokens"),
            F.max(ws).cast("bigint").alias("max_doc_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Document fingerprinting: min-shingle-hash (winnowing-lite).
# --------------------------------------------------------------------------


@workload(
    "doc_fingerprint_minshingle",
    oracle=f"""
WITH {_O_CORPUS_NEARDUP}, {_O_SHINGLED},
fp AS (
  SELECT doc_id,
         list_min(list_transform(shingles,
             sh -> {_O_HASH.format(x='sh')})) AS fingerprint
  FROM shingled
)
SELECT doc_id, fingerprint,
       count(*) OVER (PARTITION BY fingerprint) AS cluster_n
FROM fp
ORDER BY doc_id
""",
)
def doc_fingerprint_minshingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min over shingle hashes
    (a 1-permutation MinHash / winnowing-lite). Documents sharing a
    fingerprint are near-dup candidates — prefix mutants almost always
    collide with their original."""
    corpus = _with_toks(_corpus_neardup(spark, sf_dir))
    sh = corpus.withColumn("shingles", F.expr(_SHINGLES_EXPR))
    fp = sh.select(
        "doc_id",
        F.expr(
            f"array_min(transform(shingles, sh -> {_spark_hash('sh')}))"
        ).alias("fingerprint"),
    )
    from pyspark.sql import Window

    return fp.select(
        "doc_id", "fingerprint",
        F.count(F.lit(1)).over(
            Window.partitionBy("fingerprint")
        ).alias("cluster_n"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy, keep min doc_id.
# --------------------------------------------------------------------------


@workload(
    "dedup_exact_pairs",
    oracle="""
WITH corpus AS (
  SELECT doc_id, lower(trim(text)) AS text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, lower(trim(text)) AS text
  FROM documents WHERE doc_id % 10 = 0
), h AS (SELECT doc_id, md5(text) AS th FROM corpus),
keepers AS (
  SELECT th, min(doc_id) AS keep_id FROM h
  GROUP BY th HAVING count(*) > 1
)
SELECT k.keep_id, h.doc_id AS dup_id
FROM h JOIN keepers k USING (th)
WHERE h.doc_id <> k.keep_id
ORDER BY keep_id, dup_id
""",
)
def dedup_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: md5(normalized text) groupBy, survivor =
    min(doc_id) per group, emit (keeper, duplicate) pairs. One
    hash-partitioned shuffle; at 100 TB bucket the corpus by this
    hash so repeated dedup runs are shuffle-free."""
    docs = _norm_docs(spark, sf_dir)
    corpus = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    h = corpus.select("doc_id", F.md5("text").alias("th"))
    keepers = (
        h.groupBy("th")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("th", "keep_id")
    )
    return (
        h.join(keepers, "th")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("keep_id", F.col("doc_id").alias("dup_id"))
        .orderBy("keep_id", "dup_id")
    )


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup: exact pairwise via shingle-inverted index.
# --------------------------------------------------------------------------


@workload(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_O_CORPUS_NEARDUP}, {_O_SHINGLED},
ex AS (SELECT doc_id, unnest(shingles) AS sh FROM shingled),
sizes AS (SELECT doc_id, len(shingles) AS sz FROM shingled),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.8
ORDER BY doc_a, doc_b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard near-dup pairs via an
    inverted shingle index: explode distinct shingles, equi-join on
    shingle, count common, filter J >= 0.8. The shingle join only
    pairs documents that share at least one shingle — already far
    below the quadratic cross product; MinHash+LSH below is the
    100 TB path."""
    corpus = _with_toks(_corpus_neardup(spark, sf_dir))
    # The shingled table feeds FOUR plan branches (both sides of the
    # inverted-index self-join + both size lookups); cache it so the
    # tokenize/shingle pass runs once, not four times.
    sh = corpus.withColumn("shingles", F.expr(_SHINGLES_EXPR)).select(
        "doc_id", "shingles"
    ).cache()
    ex = sh.select("doc_id", F.explode("shingles").alias("sh"))
    sizes = sh.select("doc_id", F.size("shingles").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jac = F.col("inter") * 1.0 / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding near-dup (the scale path). Constants and the
# signature/band expressions live in operators/minhash.py, which also
# provides the persisted-signature store (the incremental 100 TB
# mode); this workload is the one-shot, oracle-paired twin.
# --------------------------------------------------------------------------


# The full MinHash pairs pipeline as a reusable WITH-clause prefix;
# dedup_minhash_lsh selects from it, and the connected-components
# canonicalization oracle (workloads/curation.py) builds on it.
O_MINHASH_PAIRS_CTES = f"""{_O_CORPUS_NEARDUP}, {_O_SHINGLED},
sigs AS (
  SELECT doc_id, shingles,
         list_transform(range(0, {_MH_K}), s -> list_min(list_transform(
             hashes0, h -> ((h % {_MH_P}) * (2*s + 1) + s) % {_MH_P}
         ))) AS sig
  FROM (SELECT doc_id, shingles,
               list_transform(shingles, sh -> {_O_HASH.format(x='sh')})
                 AS hashes0
        FROM shingled WHERE len(shingles) > 0)
),
bands AS (
  SELECT doc_id, b,
         md5(array_to_string(list_transform(
             list_slice(sig, {_MH_R}*b + 1, {_MH_R}*b + {_MH_R}),
             x -> x::VARCHAR), ',')) AS bh
  FROM sigs CROSS JOIN (SELECT unnest(range(0, {_MH_B})) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c
    ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
),
pairs AS (
  SELECT doc_a, doc_b,
         round(inter * 1.0 / (la + lb - inter), 6) AS jaccard
  FROM (
    SELECT doc_a, doc_b, len(list_intersect(x.shingles, y.shingles)) AS inter,
           len(x.shingles) AS la, len(y.shingles) AS lb
    FROM cand JOIN sigs x ON x.doc_id = doc_a JOIN sigs y ON y.doc_id = doc_b
  )
  WHERE inter * 1.0 / (la + lb - inter) >= 0.7
)"""


@workload(
    "dedup_minhash_lsh",
    headline=True,
    oracle=f"""
WITH {O_MINHASH_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM pairs
ORDER BY doc_a, doc_b
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (K=16 seeded md5 permutations, computed per-row via
    higher-order lambdas — NO shuffle) + LSH banding (B=4 bands of
    R=4 → candidate threshold ≈ 0.71) + exact-Jaccard verification of
    candidates only. This is the canonical 100 TB near-dup pipeline:
    signature cost is linear in corpus size, the only shuffle is the
    band-bucket join whose buckets stay tiny when B·R is tuned."""
    return minhash_pairs(_with_toks(_corpus_neardup(spark, sf_dir)))


def minhash_candidates(corpus: DataFrame) -> DataFrame:
    """The banding pipeline on an arbitrary ``(doc_id, toks)`` corpus,
    returning EVERY band-collision candidate with its exact Jaccard
    (column ``j``, unrounded) — callers that already hold (and may
    have cached) the corpus reuse it instead of re-deriving it
    (workloads/pipeline.py filters at 0.7 via minhash_pairs; the
    threshold-sweep eval reads the raw candidates)."""
    # Filter on the CHEAP precondition (>=3 tokens ⟺ >=1 shingle)
    # BEFORE building shingles: a filter on size(shingles) gets
    # predicate-pushed below the projection, inlining the whole
    # shingle expression tree into the predicate (~10× re-evaluation).
    sh = corpus.filter(F.size("toks") >= 3).withColumn(
        "shingles", F.expr(_SHINGLES_EXPR)
    )
    # One md5 per shingle; the K permutations are arithmetic
    # tempering of that base hash (16× fewer md5 evaluations).
    # LET-BIND the md5 array (transform(array(..), hs -> ..)[0]): a
    # projected hashes0 column collapse-inlines into the permutation
    # lambda and re-evaluates once PER PERMUTATION — k× the hashing
    # work (the lambda-inlining trap; measured on add_signature:
    # 16.2 s → 9.2 s for the sf0.1 signing pass)
    sigs = sh.select(
        "doc_id", "shingles",
        F.expr(
            f"transform(array(transform(shingles, sh -> "
            f"{_spark_hash('sh')})), hs -> "
            f"transform(sequence(0, {_MH_K - 1}), s -> "
            f"array_min(transform(hs, h -> "
            f"((h % {_MH_P}) * (2*s + 1) + s) % {_MH_P}))))[0]"
        ).alias("sig"),
    )
    # The signature table feeds three plan branches (band explode +
    # both sides of candidate verification); cache it so the md5 pass
    # runs once. At corpus scale you'd write it to a table instead —
    # signatures are reusable across dedup runs.
    sigs = sigs.cache()
    bands = sigs.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(0, {_MH_B - 1}), b -> struct(b AS b, "
            f"md5(concat_ws(',', transform(slice(sig, {_MH_R}*b + 1, {_MH_R}),"
            f" x -> cast(x as string)))) AS bh))"
        )).alias("band"),
    ).select("doc_id", "band.b", "band.bh")
    a, c = bands.alias("a"), bands.alias("c")
    cand = (
        a.join(c, (F.col("a.b") == F.col("c.b"))
               & (F.col("a.bh") == F.col("c.bh"))
               & (F.col("a.doc_id") < F.col("c.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("c.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sigs.select(F.col("doc_id").alias("doc_a"),
                    F.col("shingles").alias("sh_a"))
    y = sigs.select(F.col("doc_id").alias("doc_b"),
                    F.col("shingles").alias("sh_b"))
    verified = cand.join(x, "doc_a").join(y, "doc_b").select(
        "doc_a", "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        F.size("sh_a").alias("la"), F.size("sh_b").alias("lb"),
    )
    jac = F.col("inter") * 1.0 / (F.col("la") + F.col("lb") - F.col("inter"))
    return verified.select("doc_a", "doc_b", jac.alias("j"))


def minhash_pairs(corpus: DataFrame) -> DataFrame:
    """Banding candidates exact-verified at the 0.7 threshold —
    the dedup operator's pair output (see minhash_candidates for the
    unfiltered candidate set the threshold-sweep evaluation reads)."""
    return (
        minhash_candidates(corpus)
        .filter(F.col("j") >= 0.7)
        .select("doc_a", "doc_b", F.round("j", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# SimHash near-dup: 48-bit fingerprint + pigeonhole block join.
# --------------------------------------------------------------------------

_SH_BITS = 48
_SH_BLOCKS = 4           # hamming <= _SH_BLOCKS - 1 guaranteed found
_SH_HAM = 3
_SH_BLOCK_BITS = _SH_BITS // _SH_BLOCKS  # 12
_SH_MASK = (1 << _SH_BLOCK_BITS) - 1     # 4095


@workload(
    "dedup_simhash",
    headline=True,
    oracle=f"""
WITH {_O_CORPUS_NEARDUP}, {_O_SHINGLED},
fp AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, {_SH_BITS}), i ->
           CASE WHEN 2 * len(list_filter(hashes, h -> (h >> i) & 1 = 1))
                     > len(hashes)
                THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)
           AS simhash
  FROM (SELECT doc_id,
               list_transform(shingles, sh -> {_O_HASH.format(x='sh')})
                 AS hashes
        FROM shingled WHERE len(shingles) > 0)
),
blocks AS (
  SELECT doc_id, simhash, j, (simhash >> ({_SH_BLOCK_BITS} * j)) & {_SH_MASK}
           AS blk
  FROM fp CROSS JOIN (SELECT unnest(range(0, {_SH_BLOCKS})) AS j)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM blocks a JOIN blocks b
  ON a.j = b.j AND a.blk = b.blk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_HAM}
ORDER BY doc_a, doc_b
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 48-bit majority-vote fingerprint over shingle
    hashes (per-row lambda math, no shuffle), then the pigeonhole
    block join — pairs within hamming distance 3 must agree on one of
    4 12-bit blocks, so a 4-way equi-join on (block_idx, block_value)
    replaces the O(n²) scan. Candidates are verified with the exact
    hamming distance."""
    corpus = _with_toks(_corpus_neardup(spark, sf_dir))
    # cheap-precondition filter BEFORE the shingle projection (see
    # dedup_minhash_lsh for the predicate-pushdown rationale)
    sh = corpus.filter(F.size("toks") >= 3).withColumn(
        "shingles", F.expr(_SHINGLES_EXPR)
    )
    # Hash each shingle ONCE (a column), then fold 48 bit-votes over
    # the precomputed array — not one md5 pass per bit.
    # LET-BIND the md5 array: a projected hashes column would
    # re-evaluate inside the per-bit vote lambda — 48× the hashing
    # work (the lambda-inlining trap, see minhash signing above)
    fp = sh.select(
        "doc_id",
        F.expr(
            f"transform(array(transform(shingles, sh -> "
            f"{_spark_hash('sh')})), hashes -> "
            f"aggregate(transform(sequence(0, {_SH_BITS - 1}), i -> "
            f"CASE WHEN 2 * size(filter(hashes, "
            f"h -> (shiftright(h, i) & 1) = 1)) "
            f"> size(hashes) THEN shiftleft(cast(1 as bigint), i) "
            f"ELSE cast(0 as bigint) END), cast(0 as bigint),"
            f" (a, x) -> a + x))[0]"
        ).alias("simhash"),
    )
    # Materialization barrier: without it CollapseProject inlines the
    # 48-bit-vote aggregate into EVERY simhash reference downstream
    # (4 block slices + the hamming xor on both join sides), and each
    # inlined copy re-derives the md5 hash array — a ~100× recompute
    # observed at sf0.1. The fingerprint table is doc_id + one bigint:
    # tiny to cache; at corpus scale persist it to a table (as
    # operators/minhash.py does for signatures).
    fp = fp.cache()
    blocks = fp.select(
        "doc_id", "simhash",
        F.explode(F.expr(
            f"transform(sequence(0, {_SH_BLOCKS - 1}), j -> struct(j AS j, "
            f"shiftright(simhash, {_SH_BLOCK_BITS} * j) & {_SH_MASK} AS blk))"
        )).alias("bl"),
    ).select("doc_id", "simhash", "bl.j", "bl.blk")
    a, b = blocks.alias("a"), blocks.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("bigint")
    return (
        a.join(b, (F.col("a.j") == F.col("b.j"))
               & (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= _SH_HAM)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Asymmetric containment near-dup: fragment-inside-document detection.
# --------------------------------------------------------------------------

_CONT_THRESH = 0.9


@workload(
    "dedup_containment_fragments",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, lower(trim(text)) AS text FROM documents
  UNION ALL
  SELECT doc_id + 30000 AS doc_id,
         array_to_string(list_slice(toks, 1,
             greatest(CAST(floor(len(toks) * 0.3) AS INT), 3)), ' ') AS text
  FROM (SELECT doc_id, {_O_TOKS} AS toks FROM documents)
  WHERE doc_id % 40 = 0
), {_O_SHINGLED},
ex AS (SELECT doc_id, unnest(shingles) AS sh FROM shingled
       WHERE len(shingles) > 0),
sizes AS (SELECT doc_id, len(shingles) AS sz FROM shingled),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / least(sa.sz, sb.sz), 6) AS containment,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 1.0 / least(sa.sz, sb.sz) >= {_CONT_THRESH}
ORDER BY doc_a, doc_b
""",
)
def dedup_containment_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: C = |A∩B| / min(|A|,|B|)
    catches a short fragment embedded in a longer document (quotes,
    excerpts, boilerplate reuse) that symmetric Jaccard scores far
    below threshold — the corpus injects 30%-prefix fragments whose
    containment ≈ 1 while Jaccard ≈ 0.3. Same inverted-shingle-index
    shape as `dedup_ngram_jaccard` (pairs only share-a-shingle docs,
    never the cross product); both scores are reported so the gap is
    visible in the output."""
    docs = _norm_docs(spark, sf_dir)
    toks = F.split("text", _TOKS)
    prefix = F.greatest(
        F.floor(F.size(toks) * 0.3).cast("int"), F.lit(3)
    )
    frags = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), prefix)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(frags)
    sh = (
        _with_toks(corpus)
        .withColumn("shingles", F.expr(_SHINGLES_EXPR))
        .select("doc_id", "shingles")
        .cache()
    )
    ex = sh.filter(F.size("shingles") > 0).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    cont = F.col("inter") * 1.0 / F.least(F.col("sza"), F.col("szb"))
    jac = F.col("inter") * 1.0 / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .filter(cont >= _CONT_THRESH)
        .select("doc_a", "doc_b",
                F.round(cont, 6).alias("containment"),
                F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# LSH quality evaluation: banding recall vs exact ground truth.
# --------------------------------------------------------------------------


@workload(
    "dedup_lsh_recall_eval",
    oracle=f"""
WITH {O_MINHASH_PAIRS_CTES},
ex AS (SELECT doc_id, unnest(shingles) AS sh FROM shingled
       WHERE len(shingles) > 0),
szs AS (SELECT doc_id, len(shingles) AS sz FROM shingled),
common AS (
  SELECT a.doc_id AS ta, b.doc_id AS tb, count(*) AS inter
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT ta, tb FROM common
  JOIN szs sa ON sa.doc_id = ta
  JOIN szs sb ON sb.doc_id = tb
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.7
),
hits AS (
  SELECT count(*) AS n_hit
  FROM pairs p JOIN truth t ON p.doc_a = t.ta AND p.doc_b = t.tb
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_lsh,
       CAST(n_hit AS BIGINT) AS n_hit,
       round(n_hit * 1.0 / (SELECT count(*) FROM truth), 6) AS recall
FROM hits
""",
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine measuring its own approximation: MinHash+LSH pair
    recall against the exact >= 0.7-Jaccard ground truth (inverted
    shingle index — affordable at eval scale, which is the point of
    running this on a SAMPLE of a 100 TB corpus). Precision is 1.0
    by construction (LSH candidates are exact-verified); what banding
    risks is RECALL, so that's what gets measured and regression-
    tested. One number a curation run can alert on."""
    corpus = _with_toks(_corpus_neardup(spark, sf_dir))
    sh = corpus.withColumn("shingles", F.expr(_SHINGLES_EXPR)).select(
        "doc_id", "shingles"
    ).cache()
    ex = sh.filter(F.size("shingles") > 0).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    szs = sh.select("doc_id", F.size("shingles").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ta"),
                 F.col("b.doc_id").alias("tb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = szs.select(F.col("doc_id").alias("ta"), F.col("sz").alias("sza"))
    sb = szs.select(F.col("doc_id").alias("tb"), F.col("sz").alias("szb"))
    truth = (
        common.join(sa, "ta").join(sb, "tb")
        .filter(F.col("inter") * 1.0
                / (F.col("sza") + F.col("szb") - F.col("inter")) >= 0.7)
        .select("ta", "tb")
    )
    lsh = minhash_pairs(corpus).select("doc_a", "doc_b")
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_lsh = lsh.agg(F.count(F.lit(1)).cast("bigint").alias("n_lsh"))
    n_hit = (
        lsh.join(truth, (lsh.doc_a == truth.ta) & (lsh.doc_b == truth.tb))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    return (
        n_truth.join(n_lsh).join(n_hit)
        .select(
            "n_truth", "n_lsh", "n_hit",
            F.round(F.col("n_hit") * 1.0 / F.col("n_truth"), 6)
            .alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# Language-ID confidence: top-1 vs top-2 stopword-profile margin.
# --------------------------------------------------------------------------


def _lang_hits_array(filter_fn: str, len_fn: str) -> str:
    return ("[" if filter_fn == "list_filter" else "array(") + ", ".join(
        _hits_sql(ws, filter_fn, len_fn) for ws in _LANG_LISTS.values()
    ) + ("]" if filter_fn == "list_filter" else ")")


@workload(
    "text_langid_confidence",
    oracle=f"""
SELECT doc_id,
       {_langid_case('list_filter', 'len')} AS predicted,
       CAST(hits_sorted[1] AS BIGINT) AS top1,
       CAST(hits_sorted[2] AS BIGINT) AS top2,
       round((hits_sorted[1] - hits_sorted[2]) * 1.0
             / greatest(hits_sorted[1], 1), 4) AS margin
FROM (
  SELECT doc_id, toks,
         list_sort({_lang_hits_array('list_filter', 'len')},
                   'DESC') AS hits_sorted
  FROM (SELECT doc_id, {_O_TOKS} AS toks FROM documents)
)
ORDER BY doc_id
""",
)
def text_langid_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID with a CONFIDENCE margin: the stopword-profile
    argmax plus (top1 - top2) / top1 over the per-language hit
    counts — low margin flags docs the classifier can't separate
    (code-mixed, too short), the rows a pipeline routes to a heavier
    model. Pure per-row integer array math in the scan stage."""
    # sort FIRST (r11): the 4-wordlist hit arrays below a final
    # orderBy would be evaluated twice via range-partitioner sampling
    # — same fix as quality_classifier_hashed
    docs = _with_toks(_norm_docs(spark, sf_dir)).orderBy("doc_id")
    pred = F.expr(_langid_case("filter", "size"))
    hits_sorted = F.expr(
        f"sort_array({_lang_hits_array('filter', 'size')}, false)"
    )
    return (
        docs.withColumn("hs", hits_sorted)
        .select(
            "doc_id",
            pred.alias("predicted"),
            F.expr("hs[0]").cast("bigint").alias("top1"),
            F.expr("hs[1]").cast("bigint").alias("top2"),
            F.round(
                # 1.0D: a bare 1.0 literal parses as DECIMAL in Spark
                # SQL, and decimal(17,4) vs the oracle's DOUBLE fails
                # the driver's type-sensitive value hash
                F.expr("(hs[0] - hs[1]) * 1.0D / greatest(hs[0], 1)"), 4
            ).alias("margin"),
        )
    )


# --------------------------------------------------------------------------
# LSH banding threshold sweep: precision/recall across thresholds.
# --------------------------------------------------------------------------

_SWEEP_TS = (0.5, 0.6, 0.7, 0.8)


@workload(
    "dedup_lsh_threshold_sweep",
    oracle=f"""
WITH {O_MINHASH_PAIRS_CTES},
cand_j AS (
  SELECT doc_a, doc_b,
         inter * 1.0 / (la + lb - inter) AS j
  FROM (
    SELECT doc_a, doc_b, len(list_intersect(x.shingles, y.shingles)) AS inter,
           len(x.shingles) AS la, len(y.shingles) AS lb
    FROM cand JOIN sigs x ON x.doc_id = doc_a JOIN sigs y ON y.doc_id = doc_b
  )
),
ex AS (SELECT doc_id, unnest(shingles) AS sh FROM shingled
       WHERE len(shingles) > 0),
szs AS (SELECT doc_id, len(shingles) AS sz FROM shingled),
truth_j AS (
  SELECT inter * 1.0 / (sa.sz + sb.sz - inter) AS j
  FROM (
    SELECT a.doc_id AS ta, b.doc_id AS tb, count(*) AS inter
    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) c
  JOIN szs sa ON sa.doc_id = c.ta
  JOIN szs sb ON sb.doc_id = c.tb
),
ts(t) AS (VALUES {', '.join(f'({t})' for t in _SWEEP_TS)}),
swept AS (
  SELECT ts.t,
         (SELECT count(*) FROM truth_j WHERE j >= ts.t) AS n_truth,
         (SELECT count(*) FROM cand_j) AS n_cand,
         (SELECT count(*) FROM cand_j WHERE j >= ts.t) AS n_hit
  FROM ts
)
SELECT CAST(t AS DOUBLE) AS threshold,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_hit AS BIGINT) AS n_hit,
       ROUND(n_hit * 1.0 / n_cand, 6) AS precision,
       ROUND(n_hit * 1.0 / n_truth, 6) AS recall
FROM swept
ORDER BY threshold
""",
)
def dedup_lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tuning curve: banding candidate precision AND recall
    against the exact inverted-index ground truth at similarity
    thresholds {0.5, 0.6, 0.7, 0.8} — the table that justifies the
    (B=4, R=4) banding choice (its S-curve midpoint ≈ 0.71): recall
    climbs with the threshold while precision falls, and the
    operating point is wherever both clear the pipeline's bar. The
    single-threshold recall eval alerts on regressions; this sweep
    is what RETUNES the bands after a corpus shift.

    Scale: the candidate and truth pair sets are computed ONCE
    (banding equi-join + inverted shingle index — the same eval-on-
    a-sample economics as dedup_lsh_recall_eval); the sweep itself
    is a broadcast 4-row threshold frame crossed against two small
    pair-score tables."""
    corpus = _with_toks(_corpus_neardup(spark, sf_dir))
    cand_j = minhash_candidates(corpus).select("j").cache()
    sh = corpus.withColumn("shingles", F.expr(_SHINGLES_EXPR)).select(
        "doc_id", "shingles"
    ).cache()
    ex = sh.filter(F.size("shingles") > 0).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    szs = sh.select("doc_id", F.size("shingles").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ta"),
                 F.col("b.doc_id").alias("tb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = szs.select(F.col("doc_id").alias("ta"), F.col("sz").alias("sza"))
    sb = szs.select(F.col("doc_id").alias("tb"), F.col("sz").alias("szb"))
    truth_j = (
        common.join(sa, "ta").join(sb, "tb")
        .select(
            (
                F.col("inter") * 1.0
                / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).alias("j")
        )
        .cache()
    )
    ts = spark.createDataFrame([(t,) for t in _SWEEP_TS], "t double")
    truth_per_t = (
        # bound: |_SWEEP_TS| literal rows; cartesian without it
        F.broadcast(ts).crossJoin(truth_j)
        .groupBy("t")
        .agg(F.sum((F.col("j") >= F.col("t")).cast("int")).alias("n_truth"))
    )
    cand_per_t = (
        # bound: |_SWEEP_TS| literal rows; cartesian without it
        F.broadcast(ts).crossJoin(cand_j)
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.sum((F.col("j") >= F.col("t")).cast("int")).alias("n_hit"),
        )
    )
    return (
        truth_per_t.join(cand_per_t, "t")
        .select(
            F.col("t").alias("threshold"),
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.col("n_cand").cast("bigint").alias("n_cand"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.round(F.col("n_hit") * 1.0 / F.col("n_cand"), 6)
            .alias("precision"),
            F.round(F.col("n_hit") * 1.0 / F.col("n_truth"), 6)
            .alias("recall"),
        )
        .orderBy("threshold")
    )


# --------------------------------------------------------------------------
# Train/val split leakage audit: near-dups crossing the split boundary.
# --------------------------------------------------------------------------


@workload(
    "split_leakage_audit",
    oracle=f"""
WITH {O_MINHASH_PAIRS_CTES},
splits AS (
  SELECT doc_id,
         CASE WHEN ('0x'||substring(md5(CAST(doc_id AS VARCHAR)),1,15))
                     ::BIGINT % 10 < 2
              THEN 'val' ELSE 'train' END AS split
  FROM corpus
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       sa.split AS split_a, sb.split AS split_b
FROM pairs p
JOIN splits sa ON sa.doc_id = p.doc_a
JOIN splits sb ON sb.doc_id = p.doc_b
WHERE sa.split <> sb.split
ORDER BY doc_a, doc_b
""",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val contamination audit: docs are assigned to a
    deterministic 80/20 hash split (the engine-portable md5 bucket
    of doc_id — how a real pipeline splits so membership is stable
    across reruns and machines), then every verified near-duplicate
    pair (MinHash+LSH at Jaccard >= 0.7) whose endpoints landed in
    DIFFERENT splits is reported — each one is an eval example whose
    paraphrase sits in training data, the leak that silently
    inflates benchmark scores. The fix loop this feeds: move the
    whole duplicate CLUSTER to one side (the connected-components
    canonicalizer provides the cluster ids).

    Scale: identical cost to dedup_minhash_lsh (the pair pipeline
    IS the work); the split column is a map-side expression and the
    two split lookups join on doc_id — at corpus scale they fold
    into the signature table the persisted-minhash store already
    keeps."""
    corpus = _corpus_neardup(spark, sf_dir)
    pairs = minhash_pairs(_with_toks(corpus))
    split_expr = F.when(
        F.expr(f"pmod({_spark_hash('cast(doc_id as string)')}, 10)") < 2,
        "val",
    ).otherwise("train")
    splits = corpus.select("doc_id", split_expr.alias("split"))
    sa = splits.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"),
                       F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Prefix-filtering exact similarity join (AllPairs): same result as the
# inverted-index join, with candidates bounded by the rarest shingles.
# --------------------------------------------------------------------------


# Shared by the AllPairs prefix join and its PPJoin refinement: both
# are EXACT, so both pair with the same brute-force inverted-index
# oracle.
_O_PREFIX_JOIN = f"""
WITH {_O_CORPUS_NEARDUP}, {_O_SHINGLED},
ex AS (SELECT doc_id, unnest(shingles) AS sh FROM shingled),
sizes AS (SELECT doc_id, len(shingles) AS sz FROM shingled),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.8
ORDER BY doc_a, doc_b
"""


def _prefix_index(sh: DataFrame):
    """(doc_id, sz, tok, rn) prefix entries: each doc's shingle
    hashes ranked by global rarity (df, tok — one consistent total
    order across all docs, which the PPJoin positional bound relies
    on), keeping only the first sz − ⌈0.8·sz⌉ + 1. Integer-exact
    prefix length: a float ceil of 0.8·5 = 4.000000000000000222
    would round the prefix SHORT and drop candidates."""
    from pyspark.sql import Window

    ex = sh.select(
        "doc_id",
        F.size("shingles").alias("sz"),
        F.explode("shingles").alias("tok"),
    ).select(
        "doc_id", "sz", F.expr(_spark_hash("tok")).alias("tok")
    )
    freq = ex.groupBy(F.col("tok").alias("f_tok")).agg(
        F.count(F.lit(1)).alias("df")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix_len = F.col("sz") - ((F.col("sz") * 4 + 4) / 5).cast(
        "bigint"
    ) + 1  # sz - ceil(0.8*sz) + 1, integer-exact
    # BROADCAST the grouped df table, not the instance stream (r11,
    # guide §3.1 "use an explicit broadcast hint when you know a side
    # is small"): unhinted, Catalyst's estimate picked the EXPLODED
    # token stream as the build side — a strictly larger broadcast
    # (every shingle instance vs one row per distinct hash; the df
    # table can never be bigger). Flipping the build side measured
    # 2.90 s → 2.32 s on the full query at sf0.1 (A/B medians).
    # r12 (ADVICE): the hint is GATED on cheap driver-side metadata —
    # distinct shingle hashes are bounded by shingle instances, which
    # are bounded by the input text bytes, so past an input-size
    # ceiling the forced broadcast could outgrow driver/executor
    # memory and fail the job; above the ceiling the hint is dropped
    # and the planner sizes the join itself (at that scale both
    # estimates are large, so it picks a shuffled join — the right
    # call; the true 100 TB shape is bucketing corpus AND postings by
    # the token hash, the posting-list store design).
    # bound: gated on input bytes; without it the exploded side builds
    hinted = F.broadcast(freq) if _input_bytes(freq) <= \
        _PREFIX_BROADCAST_INPUT_CEILING else freq
    return (
        ex.join(hinted, F.col("tok") == F.col("f_tok"))
        .withColumn("rn", F.row_number().over(wdoc))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "sz", "tok", "rn")
    )


@workload(
    "dedup_prefix_filter_join",
    headline=True,
    oracle=_O_PREFIX_JOIN,
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.8 similarity self-join via PREFIX FILTERING
    (Bayardo et al. 2007 AllPairs / Xiao et al. PPJoin): order each
    document's shingles by global rarity, index only the first
    |x| − ⌈0.8·|x|⌉ + 1 of them, and join prefix-to-prefix — any pair
    with J >= 0.8 must share a prefix shingle (pigeonhole on the
    overlap lower bound o >= ⌈0.8·max(|x|,|y|)⌉, which J >= τ
    implies via the size filter |min|/|max| >= τ), so exact
    verification of the candidates reproduces the full inverted-index
    join's result EXACTLY — same oracle as dedup_ngram_jaccard, no
    LSH false-negative risk. ⌈0.8·sz⌉ is computed as
    (4·sz + 4) div 5 in integers: a float ceil of 0.8·5 =
    4.000000000000000222 would round the prefix SHORT and silently
    drop candidates.

    Scale: the full inverted index explodes every shingle — its join
    fan-out is dominated by the most common shingles. The prefix
    index keeps only each doc's RAREST ~20%, exactly the tokens with
    the smallest posting lists, so candidate generation collapses
    while staying exact — the technique of choice when recall must
    be 1.0 and LSH's miss probability is unacceptable (legal holds,
    eval decontamination)."""
    corpus = _with_toks(_corpus_neardup(spark, sf_dir))
    # Filter on the CHEAP precondition (>=3 tokens <=> >=1 shingle)
    # BEFORE building shingles — the same pushdown trap documented in
    # minhash_candidates: a filter on size(shingles) inlines the
    # whole shingle expression into the pushed predicate (measured
    # 10.7 s vs 0.8 s for this corpus pass at sf0.1).
    sh = (
        corpus.filter(F.size("toks") >= 3)
        .withColumn("shingles", F.expr(_SHINGLES_EXPR))
        .select("doc_id", "shingles")
        .cache()  # feeds prefix build + both verify sides
    )
    # Index on the 60-bit md5 of each shingle, not the shingle text:
    # every downstream shuffle (document frequencies, the rank
    # window, the posting-list self-join) moves 8-byte keys instead
    # of ~30-char strings. Collisions only ADD candidates (hash
    # overlap >= true overlap) and the doc's hashed token count only
    # shrinks, so the stored prefix is never shorter than the lemma
    # requires — exactness is preserved and re-checked by the full
    # verification on the real shingle arrays.
    prefix = _prefix_index(sh).select("doc_id", "sz", "tok")
    a, b = prefix.alias("a"), prefix.alias("b")
    # Length filter (AllPairs): J >= 0.8 forces 4*|big| <= 5*|small|,
    # so size-discordant postings never pair — applied INSIDE the
    # index join, before the distinct and the array verification
    # (cuts candidates ~3x on the test corpus).
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (F.col("a.sz") * 4 <= F.col("b.sz") * 5)
               & (F.col("b.sz") * 4 <= F.col("a.sz") * 5))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("shingles").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("shingles").alias("sh_b"))
    verified = cand.join(x, "doc_a").join(y, "doc_b").select(
        "doc_a", "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        F.size("sh_a").alias("la"), F.size("sh_b").alias("lb"),
    )
    jac = F.col("inter") * 1.0 / (F.col("la") + F.col("lb") - F.col("inter"))
    return (
        verified.filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# PPJoin: AllPairs + the positional filter (Xiao et al., WWW 2008).
# --------------------------------------------------------------------------


@workload(
    "dedup_ppjoin_positional",
    oracle=_O_PREFIX_JOIN,
)
def dedup_ppjoin_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.8 self-join = dedup_prefix_filter_join plus
    PPJoin's POSITIONAL filter (Xiao, Wang, Lin, Yu — WWW 2008): a
    prefix match alone admits a pair; the positions of the matches
    bound how large the overlap can still get. Both docs' shingles
    carry their rank rn in ONE consistent global rarity order
    (df, tok), so for a candidate pair every common token before the
    last prefix-to-prefix match is itself a prefix-to-prefix match
    (consistent ordering pigeonhole), giving the exact upper bound

        overlap <= A + min(|x| - i_last, |y| - j_last)

    with A = number of matched prefix tokens and (i_last, j_last)
    the ranks of the LAST match (max ranks — consistent order makes
    both maxima land on the same token). Pairs whose bound can't
    reach minoverlap = ceil(0.8/(1.8)·(|x|+|y|)) = (4·(|x|+|y|)+8)
    div 9 (integer-exact, same reasoning as the prefix length) are
    dropped BEFORE the array verification — no false negatives, so
    the result still equals the brute-force inverted-index oracle.

    Candidate reduction measured on this corpus (distinct pairs
    entering array verification): sf0.1 — AllPairs 45 581 ->
    PPJoin 13 384 (3.4x fewer exact verifications for one extra
    groupBy over the match list; at sf0.01 the corpus is too small
    for spurious prefix collisions, 46 -> 46). The verified output
    is identical — property-tested against the full inverted-index
    join in tests/test_prefix_filter_exactness.py.

    Scale: the positional groupBy runs on prefix-match rows (already
    collapsed by the rarest-20% index), and each verification it
    saves skips an array_intersect over two full shingle arrays —
    the win grows with document length, exactly the regime where
    exact verification dominates the join."""
    corpus = _with_toks(_corpus_neardup(spark, sf_dir))
    sh = (
        corpus.filter(F.size("toks") >= 3)
        .withColumn("shingles", F.expr(_SHINGLES_EXPR))
        .select("doc_id", "shingles")
        .cache()  # feeds prefix build + both verify sides
    )
    prefix = _prefix_index(sh)
    a, b = prefix.alias("a"), prefix.alias("b")
    matches = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (F.col("a.sz") * 4 <= F.col("b.sz") * 5)
               & (F.col("b.sz") * 4 <= F.col("a.sz") * 5))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sa"), F.col("b.sz").alias("sb"),
            F.col("a.rn").alias("ia"), F.col("b.rn").alias("ib"),
        )
    )
    # minoverlap: J >= t  <=>  o >= t/(1+t)·(sa+sb); t=0.8 -> 4/9,
    # ceil'd in integers: (4·(sa+sb) + 8) div 9
    minov = F.expr("(4 * (sa + sb) + 8) div 9")
    cand = (
        matches.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("a_matched"),
            F.max("ia").alias("i_last"),
            F.max("ib").alias("j_last"),
            F.first("sa").alias("sa"),
            F.first("sb").alias("sb"),
        )
        .filter(
            F.col("a_matched")
            + F.least(
                F.col("sa") - F.col("i_last"),
                F.col("sb") - F.col("j_last"),
            )
            >= minov
        )
        .select("doc_a", "doc_b")
    )
    x = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("shingles").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("shingles").alias("sh_b"))
    verified = cand.join(x, "doc_a").join(y, "doc_b").select(
        "doc_a", "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        F.size("sh_a").alias("la"), F.size("sh_b").alias("lb"),
    )
    jac = F.col("inter") * 1.0 / (F.col("la") + F.col("lb") - F.col("inter"))
    return (
        verified.filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints: char-level verbatim-overlap detection (MOSS).
# --------------------------------------------------------------------------

_WN_K = 16  # char-gram length
_WN_W = 16  # winnow window (in grams)
_WN_MIN_SHARED = 3


@workload(
    "dedup_winnowing_fingerprints",
    oracle=f"""
WITH {_O_CORPUS_NEARDUP},
grams AS (
  SELECT doc_id,
         list_transform(range(1, length(text) - {_WN_K} + 2),
           i -> ('0x'||substring(md5(substring(text, i, {_WN_K})),1,15))::BIGINT)
           AS hs
  FROM corpus WHERE length(text) >= {_WN_K + _WN_W - 1}
),
fps AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(hs) - {_WN_W} + 2),
           j -> list_min(hs[j:j+{_WN_W - 1}]))) AS fp
  FROM grams
),
ex AS (SELECT doc_id, unnest(fp) AS f FROM fps),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared FROM pairs
WHERE shared >= {_WN_MIN_SHARED}
ORDER BY doc_a, doc_b
""",
)
def dedup_winnowing_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHARACTER-level verbatim-overlap detection via winnowing
    (Schleimer, Wilkinson & Aiken, SIGMOD 2003 — the MOSS
    fingerprinting algorithm): hash every {_WN_K}-char gram, keep
    the MINIMUM hash of each {_WN_W}-gram window, and join docs on
    shared fingerprints. The winnowing guarantee: any verbatim
    substring of ≥ k + W − 1 = {_WN_K + _WN_W - 1} characters shared
    by two documents yields at least one shared fingerprint — so
    this catches copy-paste the token-shingle family can segment
    differently (whitespace/punctuation drift), the char-level
    complement of dedup_repeated_span_fraction's token spans.
    Pairs need ≥ {_WN_MIN_SHARED} shared fingerprints (noise floor
    for 60-bit hash coincidences and short formulaic phrases).

    Scale: gram hashing and window minima are per-row higher-order
    lambdas in the scan (no UDF, no shuffle); winnowing keeps ~1/W
    of the grams, so the exploded index is a fraction of the text
    bytes, and the pair join is an equi-join on 8-byte fingerprints
    whose fan-out the min-hash selection naturally caps (a hot
    16-char gram must ALSO be a window minimum to enter the index).
    The suffix-array exact-substring dedup (Lee et al. 2022) finds
    arbitrary-length repeats; winnowing is its bounded-guarantee,
    shuffle-light Spark-native stand-in. Measured: sf0.01 ~11 s,
    sf0.1 ~41 s — dominated by hot-fingerprint posting lists
    (formulaic phrases shared corpus-wide). The production lever is
    a document-frequency cap on fingerprints before the self-join
    (boilerplate windows are not copy evidence — the boilerplate
    workloads handle those); kept EXACT here so the oracle pairing
    stays a plain equality."""
    from datanika_core_spark.operators.winnow import with_fingerprints

    # with_fingerprints LET-BINDS the gram array into the window
    # lambda (transform(array(grams), hs -> ...)[0]) — a projected
    # hs column gets collapse-inlined into the lambda body, where
    # non-lambda subexpressions re-evaluate PER WINDOW: the naive
    # two-projection form re-hashed the full gram array once per
    # window and ran ~36x slower (162 s -> 4.5 s at sf0.01). Third
    # instance of the projection-inlining trap family (see the
    # size(shingles) note in dedup_prefix_filter_join).
    corpus = _corpus_neardup(spark, sf_dir)
    fps = with_fingerprints(corpus, k=_WN_K, w=_WN_W)
    ex = fps.select("doc_id", F.explode("fp").alias("f"))
    a = ex.select(F.col("doc_id").alias("doc_a"), F.col("f").alias("fa"))
    b = ex.select(F.col("doc_id").alias("doc_b"), F.col("f").alias("fb"))
    return (
        a.join(b, (F.col("fa") == F.col("fb"))
               & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .filter(F.col("shared") >= _WN_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Winnowing with a document-frequency cap (the production lever).
# --------------------------------------------------------------------------

_WN_DF_CAP = 8  # a fingerprint in > 8 docs is boilerplate, not copying


@workload(
    "dedup_winnowing_df_capped",
    oracle=f"""
WITH {_O_CORPUS_NEARDUP},
grams AS (
  SELECT doc_id,
         list_transform(range(1, length(text) - {_WN_K} + 2),
           i -> ('0x'||substring(md5(substring(text, i, {_WN_K})),1,15))::BIGINT)
           AS hs
  FROM corpus WHERE length(text) >= {_WN_K + _WN_W - 1}
),
fps AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(hs) - {_WN_W} + 2),
           j -> list_min(hs[j:j+{_WN_W - 1}]))) AS fp
  FROM grams
),
ex AS (SELECT doc_id, unnest(fp) AS f FROM fps),
kept AS (SELECT f FROM ex GROUP BY f HAVING count(*) <= {_WN_DF_CAP}),
exk AS (SELECT ex.doc_id, ex.f FROM ex JOIN kept USING (f)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM exk a JOIN exk b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared FROM pairs
WHERE shared >= {_WN_MIN_SHARED}
ORDER BY doc_a, doc_b
""",
)
def dedup_winnowing_df_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing verbatim-overlap detection with a DOCUMENT-FREQUENCY
    cap on fingerprints — the production lever the exact workload's
    docstring names: a fingerprint appearing in more than
    {_WN_DF_CAP} documents is corpus boilerplate (license headers,
    templated phrases), not evidence that one specific pair shares
    copied text, so it is dropped BEFORE the self-join. This is the
    winnowing analogue of an IDF stoplist, and it attacks exactly
    the cost that dominates the exact pass: a posting list of length
    d contributes C(d, 2) join rows, so the cap bounds every list's
    fan-out at C({_WN_DF_CAP}, 2) = 28 pairs — the join's worst case
    drops from quadratic-in-hottest-df to linear in index size.

    What it costs in recall: only fingerprints shared corpus-wide —
    a TRUE copied span between a single pair keeps all its
    fingerprints (its df is 2). Pairs whose overlap consists purely
    of boilerplate windows fall below the {_WN_MIN_SHARED}-shared
    floor, which is the intent (the boilerplate workloads own those).

    Scale: same per-row winnowing lambdas in the scan as
    dedup_winnowing_fingerprints; the df filter is one groupBy on
    8-byte fingerprints plus a semi-join back into the exploded
    index — both shuffles move rows the cap is about to shrink.
    Measured: sf0.01 10.7 s -> 5.7 s (63 -> 59 pairs); sf0.1 pairs
    drop 2039 -> 622 (70% of reported pairs were boilerplate-only)
    while wall time stays ~42 s — at this SF the winnowing scan
    itself dominates and the hot posting lists are still only
    hundreds of docs deep. The cap's real payoff is asymptotic: a
    posting list of depth d costs C(d, 2) join rows, and d for
    corpus-wide idioms grows linearly with corpus size — at 100 TB
    one hot 16-char idiom without the cap yields a C(n_docs, 2)
    blow-up no cluster survives; with it every fingerprint's
    contribution is bounded at 28 pairs."""
    from datanika_core_spark.operators.winnow import with_fingerprints

    corpus = _corpus_neardup(spark, sf_dir)
    fps = with_fingerprints(corpus, k=_WN_K, w=_WN_W)
    ex = fps.select("doc_id", F.explode("fp").alias("f"))
    # fp is per-doc distinct, so count(*) per fingerprint == its df
    kept = (
        ex.groupBy("f")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _WN_DF_CAP)
        .select("f")
    )
    exk = ex.join(kept, "f", "left_semi")
    a = exk.select(F.col("doc_id").alias("doc_a"), F.col("f").alias("fa"))
    b = exk.select(F.col("doc_id").alias("doc_b"), F.col("f").alias("fb"))
    return (
        a.join(b, (F.col("fa") == F.col("fb"))
               & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .filter(F.col("shared") >= _WN_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# FastSS edit-distance<=2 token pairs — spelling-variant / typo
# detection over the corpus vocabulary: the character-level cousin of
# the shingle joins above, blocked on deletion neighborhoods instead
# of n-grams (Bocek et al. 2007).
# --------------------------------------------------------------------------

_FSS_MINLEN = 3
_FSS_MAXLEN = 12
_FSS_K = 2      # max edit distance; index depth = k deletions
_FSS_TOPK = 30

# one SQL fragment per engine producing the <=2-deletion
# neighborhood (the string itself, every 1-deletion, every ordered
# 2-deletion) as a deduplicated list.
_FSS_SPARK_NEIGH = (
    "array_distinct(flatten(array("
    " array(tok),"
    " transform(sequence(1, length(tok)), i ->"
    "   concat(substring(tok, 1, i - 1),"
    "          substring(tok, i + 1, length(tok)))),"
    " flatten(transform(sequence(1, length(tok)), i ->"
    "   transform(sequence(1, length(tok) - 1), j ->"
    "     concat(substring(concat(substring(tok, 1, i - 1),"
    "                             substring(tok, i + 1, length(tok))),"
    "                      1, j - 1),"
    "            substring(concat(substring(tok, 1, i - 1),"
    "                             substring(tok, i + 1, length(tok))),"
    "                      j + 1, length(tok)))))))))"
)
_FSS_DUCK_NEIGH = (
    "list_distinct(flatten(["
    " [tok],"
    " list_transform(range(1, len(tok) + 1), i ->"
    "   substr(tok, 1, i - 1) || substr(tok, i + 1)),"
    " flatten(list_transform(range(1, len(tok) + 1), i ->"
    "   list_transform(range(1, len(tok)), j ->"
    "     substr(substr(tok, 1, i - 1) || substr(tok, i + 1), 1, j - 1)"
    "     || substr(substr(tok, 1, i - 1) || substr(tok, i + 1),"
    "               j + 1))))]))"
)


@workload(
    "token_typo_pairs_fastss",
    oracle=f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks
  WHERE tok <> '' GROUP BY tok
),
vocab AS (
  SELECT tok, n FROM uni
  WHERE len(tok) BETWEEN {_FSS_MINLEN} AND {_FSS_MAXLEN}
),
variants AS (
  SELECT tok, unnest({_FSS_DUCK_NEIGH}) AS v FROM vocab
),
pairs AS (
  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
  FROM variants a JOIN variants b ON a.v = b.v AND a.tok < b.tok
),
verified AS (
  SELECT p.tok_a, p.tok_b,
         CAST(levenshtein(p.tok_a, p.tok_b) AS BIGINT) AS lev,
         ua.n AS n_a, ub.n AS n_b
  FROM pairs p
  JOIN vocab ua ON ua.tok = p.tok_a
  JOIN vocab ub ON ub.tok = p.tok_b
  WHERE levenshtein(p.tok_a, p.tok_b) <= {_FSS_K}
)
SELECT tok_a, tok_b, lev, n_a, n_b,
       CAST(row_number() OVER (ORDER BY lev, n_a + n_b DESC,
                               tok_a, tok_b) AS BIGINT) AS rank
FROM verified
QUALIFY rank <= {_FSS_TOPK}
ORDER BY rank
""",
)
def token_typo_pairs_fastss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-(<= {_FSS_K}) token pairs over the corpus
    vocabulary via FastSS deletion-neighborhood blocking (Bocek et
    al. 2007): every token of length {_FSS_MINLEN}..{_FSS_MAXLEN}
    indexes its <= {_FSS_K}-deletion neighborhood (itself, every
    1-deletion, every 2-deletion), and the FastSS theorem guarantees
    two strings within edit distance k share a neighborhood key —
    so the candidate set is an equi-join on short deletion strings,
    never an all-pairs scan, and the exact levenshtein() verify
    (same unit-cost definition in both engines) runs only on
    candidates. The classic use: a low-frequency token within two
    edits of a high-frequency one is a typo/OCR artifact; (n_a, n_b)
    carry exactly that signal, and pairs rank distance-first.

    Scale: the variant index is |vocab| x O(len^2) short strings —
    an inverted index, same discipline as the shingle/prefix-filter
    joins above; candidates per key are bounded by the neighborhood
    selectivity, not corpus size. The index is over the VOCABULARY
    (post-groupBy), so corpus volume only affects the first combiner
    pass."""
    from pyspark.sql import Window as _W

    docs = t(spark, sf_dir, "documents")
    uni = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    vocab = uni.filter(
        F.length("tok").between(_FSS_MINLEN, _FSS_MAXLEN)
    )
    variants = vocab.select(
        "tok", F.explode(F.expr(_FSS_SPARK_NEIGH)).alias("v")
    )
    a = variants.select(F.col("tok").alias("tok_a"), "v")
    b = variants.select(F.col("tok").alias("tok_b"), "v")
    pairs = (
        a.join(b, "v")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b")
        .distinct()
    )
    na = vocab.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))
    nb = vocab.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))
    verified = (
        pairs.withColumn(
            "lev", F.levenshtein("tok_a", "tok_b").cast("bigint")
        )
        .filter(F.col("lev") <= _FSS_K)
        .join(na, "tok_a")
        .join(nb, "tok_b")
    )
    ranked = verified.withColumn(
        "rank",
        F.row_number().over(
            _W.orderBy(
                "lev", (F.col("n_a") + F.col("n_b")).desc(),
                "tok_a", "tok_b",
            )
        ).cast("bigint"),
    )
    return (
        ranked.filter(F.col("rank") <= _FSS_TOPK)
        .select("tok_a", "tok_b", "lev", "n_a", "n_b", "rank")
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Dedup saturation curve: marginal duplicate rate per ingest batch.
# --------------------------------------------------------------------------

_SAT_BATCH = 50  # doc_ids per ingest batch


@workload(
    "dedup_marginal_rate_by_batch",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id // {_SAT_BATCH} AS batch,
         md5(lower(trim(text))) AS key
  FROM documents
),
firstb AS (
  SELECT key, min(batch) AS first_batch FROM keyed GROUP BY key
)
SELECT k.batch,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN k.batch > f.first_batch THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_vs_past,
       ROUND(sum(CASE WHEN k.batch > f.first_batch THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS dup_rate,
       CAST(count(DISTINCT CASE WHEN k.batch = f.first_batch
                                THEN k.key END) AS BIGINT) AS n_new_keys
FROM keyed k
JOIN firstb f ON f.key = k.key
GROUP BY k.batch
ORDER BY k.batch
""",
)
def dedup_marginal_rate_by_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup saturation curve: documents arrive in ingest batches
    (doc_id ranges standing in for crawl time) and each batch
    reports how many of its docs exactly duplicate content first
    seen in an EARLIER batch, plus how many genuinely new content
    keys it introduces — the marginal-novelty readout that tells a
    crawl operator when a source is exhausted (dup_rate → 1, new
    keys → 0) and the per-batch twin of the one-shot
    dedup_exact_pairs.

    Scale: one groupBy(key) computes each content hash's first
    batch, one equi-join attributes every doc against it — two
    shuffles on the hash key regardless of corpus size, the same
    profile as exact dedup. In production the firstb table IS the
    persisted dedup index (cf. operators/minhash.py MinHashStore's
    append-only discipline): a new batch joins against it and
    appends only its novel keys. Determinism: batch ids and counts
    are integers; the key is md5 of the normalized text."""
    docs = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") / _SAT_BATCH).cast("bigint").alias("batch"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("key"),
    )
    firstb = docs.groupBy("key").agg(F.min("batch").alias("first_batch"))
    per_batch_key = docs.groupBy("batch", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_docs")
    )
    joined = per_batch_key.join(firstb, "key")
    return (
        joined.groupBy("batch")
        .agg(
            F.sum("k_docs").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("batch") > F.col("first_batch"), F.col("k_docs")
                ).otherwise(0)
            ).cast("bigint").alias("n_dup_vs_past"),
            F.round(
                F.sum(
                    F.when(
                        F.col("batch") > F.col("first_batch"),
                        F.col("k_docs"),
                    ).otherwise(0)
                )
                * 1.0
                / F.sum("k_docs"),
                6,
            ).alias("dup_rate"),
            F.sum(
                F.when(F.col("batch") == F.col("first_batch"), 1).otherwise(0)
            ).cast("bigint").alias("n_new_keys"),
        )
        .orderBy("batch")
    )


# --------------------------------------------------------------------------
# Exact substring duplication (round 10): the suffix-array family's
# answer, computed exactly — maximal cross-document verbatim spans.
# --------------------------------------------------------------------------

# minimum duplicated-substring length (chars) — single source is the
# incremental store module; the oracle f-strings below interpolate it
from datanika_core_spark.operators.substring_store import ES_K as _ES_K  # noqa: E402


#: shared oracle CTE chain: corpus -> duplicated-position islands ->
#: maximal spans (lo, hi) per doc. Both exact-substring workloads
#: (the coverage report and the removal transformation) read it.
_O_ES_SPANS = f"""{_O_CORPUS_NEARDUP},
pos AS (
  SELECT doc_id, length(text) AS n, i AS pos,
         {_O_HASH.format(x=f"substring(text, i, {_ES_K})")} AS h
  FROM corpus, unnest(range(1, length(text) - {_ES_K} + 2)) AS u(i)
  WHERE length(text) >= {_ES_K}
),
dup AS (SELECT h FROM pos GROUP BY h HAVING min(doc_id) <> max(doc_id)),
hits AS (SELECT * FROM pos WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, n, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id
                                                 ORDER BY pos),
                                  -1000000000) + {_ES_K} - 1
              THEN 1 ELSE 0 END AS new_isl
  FROM hits
),
isl2 AS (
  SELECT doc_id, n, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, any_value(n) AS n, island,
         min(pos) AS lo, max(pos) + {_ES_K} - 1 AS hi
  FROM isl2 GROUP BY doc_id, island
)"""


def _exact_dup_spans(corpus: DataFrame) -> DataFrame:
    """Maximal cross-doc duplicated spans (doc_id, n, island, lo, hi)
    of a (doc_id, text)-corpus: positional char-k-gram explode, the
    min!=max-doc duplication test per gram hash, semi-join back, and
    a per-doc island merge (see dedup_exact_substring_spans for the
    full rationale). Gram explode and island merge are shared with
    the incremental store (operators/substring_store.py), whose
    full-readout parity with this one-shot is test-pinned."""
    from datanika_core_spark.operators.substring_store import (
        merge_islands,
        positional_grams,
    )

    pos = positional_grams(corpus, "text", _ES_K)
    dup = (
        pos.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("h")
    )
    hits = pos.join(dup, "h", "left_semi").select("doc_id", "n", "pos")
    return merge_islands(hits, _ES_K)


@workload(
    "dedup_exact_substring_spans",
    oracle="WITH " + _O_ES_SPANS + """
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(hi - lo + 1) AS BIGINT) AS covered_chars,
       round(sum(hi - lo + 1) / any_value(n), 6) AS dup_frac
FROM spans GROUP BY doc_id ORDER BY doc_id
""",
)
def dedup_exact_substring_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT cross-document substring duplication (the suffix-array
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): for every document, the maximal spans
    covered by char-k-grams (k = 20) that also appear verbatim in some
    OTHER document, as (span count, covered chars, covered fraction).
    A position is duplicated iff its k-gram occurs in ≥2 distinct
    docs; overlapping/adjacent duplicated positions merge into
    maximal islands — exactly the "duplicated substring of length
    ≥ k" coverage a suffix array yields, without building one.

    This is the EXACT counterpart of the winnowing workloads
    (dedup_winnowing_verbatim keeps ~1/W of gram positions as a
    bounded-guarantee approximation); recall here is 1.0 by
    construction, modulo 60-bit hash collisions — the same hash
    equivalence every dedup workload in this module uses.

    Scale: the positional explode is the honest cost (text_len rows
    per doc — Lee et al.'s suffix array is the same O(total chars)).
    One hash shuffle groups gram occurrences (min!=max doc test —
    constant state per gram, no posting lists materialized), one
    semi-join back, then per-DOC windows (bounded by doc length) do
    the island merge. No all-pairs stage exists at any step: a gram
    shared by 10k docs costs 10k rows, never 10k² pairs — this is
    what makes exact substring dedup tractable where the verbatim
    PAIR workloads need the df-cap lever."""
    spans = _exact_dup_spans(_corpus_neardup(spark, sf_dir))
    covered = F.sum(F.col("hi") - F.col("lo") + 1)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            covered.cast("bigint").alias("covered_chars"),
            F.round(covered / F.first("n"), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


@workload(
    "dedup_exact_substring_removal",
    oracle="WITH " + _O_ES_SPANS + f""",
base AS (SELECT doc_id, text, length(text) AS n FROM corpus
         WHERE length(text) >= {_ES_K}),
segs AS (
  SELECT doc_id,
         coalesce(lag(hi) OVER (PARTITION BY doc_id ORDER BY lo), 0)
           AS prev_hi,
         lo
  FROM spans
),
mid AS (SELECT doc_id, prev_hi + 1 AS slo, lo - 1 AS shi
        FROM segs WHERE lo > prev_hi + 1),
tl AS (SELECT doc_id, max(hi) + 1 AS slo, any_value(n) AS shi
       FROM spans GROUP BY doc_id HAVING max(hi) < any_value(n)),
allsegs AS (SELECT * FROM mid UNION ALL SELECT * FROM tl),
cleaned AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(sum(s.shi - s.slo + 1) AS BIGINT) AS kept_chars,
         md5(string_agg(substring(b.text, s.slo, s.shi - s.slo + 1),
                        '' ORDER BY s.slo)) AS cleaned_md5
  FROM allsegs s JOIN base b ON b.doc_id = s.doc_id
  GROUP BY s.doc_id
),
spandocs AS (SELECT DISTINCT doc_id FROM spans)
SELECT b.doc_id,
       CAST(coalesce(c.n_segments,
            CASE WHEN sd.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_segments,
       CAST(coalesce(c.kept_chars,
            CASE WHEN sd.doc_id IS NULL THEN b.n ELSE 0 END) AS BIGINT)
         AS kept_chars,
       coalesce(c.cleaned_md5,
            CASE WHEN sd.doc_id IS NULL THEN md5(b.text)
                 ELSE md5('') END) AS cleaned_md5
FROM base b
LEFT JOIN cleaned c ON c.doc_id = b.doc_id
LEFT JOIN spandocs sd ON sd.doc_id = b.doc_id
ORDER BY b.doc_id
""",
)
def dedup_exact_substring_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The TRANSFORMATION half of exact substring dedup (Lee et al.
    2022 don't just report duplicated spans — they CUT them): every
    document's kept text is the ordered concatenation of the
    complement segments between its duplicated-span islands, emitted
    as (segment count, kept chars, md5 of the cleaned text). The md5
    makes the oracle compare the actual surgery output, not merely
    its lengths. Total coverage: docs with NO duplicated span keep
    their full text (1 segment, md5(text)); docs fully covered keep
    nothing (0 segments, md5('')) — every corpus doc ≥ k chars has
    exactly one output row.

    Scale: spans come from the shared _exact_dup_spans pipeline (one
    hash shuffle + per-doc windows); the complement is a lag window
    over the FEW spans per doc plus one tail row per doc; segment
    text attaches via one equi-join of the (small) segment list back
    to the corpus, and the ordered concat is array_sort over ≤
    segments-per-doc structs — never a corpus-wide sort. The cleaned
    text itself is emitted as a hash here only to keep the readout
    row-sized; a pipeline writes the concat itself."""
    from pyspark.sql import Window as _W

    base = _corpus_neardup(spark, sf_dir).filter(
        F.length("text") >= _ES_K
    ).select("doc_id", "text", F.length("text").alias("n"))
    spans = _exact_dup_spans(base)
    wd = _W.partitionBy("doc_id").orderBy("lo")
    segs = spans.withColumn(
        "prev_hi", F.coalesce(F.lag("hi").over(wd), F.lit(0))
    )
    mid = segs.filter(F.col("lo") > F.col("prev_hi") + 1).select(
        "doc_id", (F.col("prev_hi") + 1).alias("slo"),
        (F.col("lo") - 1).alias("shi"),
    )
    tail = (
        spans.groupBy("doc_id", "n")
        .agg(F.max("hi").alias("mhi"))
        .filter(F.col("mhi") < F.col("n"))
        .select("doc_id", (F.col("mhi") + 1).alias("slo"),
                F.col("n").alias("shi"))
    )
    allsegs = mid.unionByName(tail).join(
        base.select("doc_id", "text"), "doc_id"
    ).withColumn("seg", F.expr("substring(text, slo, shi - slo + 1)"))
    cleaned = allsegs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_segs"),
        F.sum(F.col("shi") - F.col("slo") + 1)
        .cast("bigint").alias("c_kept"),
        F.md5(F.concat_ws("", F.expr(
            "transform(array_sort(collect_list(struct(slo, seg))),"
            " s -> s.seg)"
        ))).alias("c_md5"),
    )
    spandocs = spans.select("doc_id").distinct().withColumn(
        "has_spans", F.lit(1)
    )
    return (
        base.join(cleaned, "doc_id", "left")
        .join(spandocs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                "c_segs",
                F.when(F.col("has_spans").isNull(), F.lit(1))
                .otherwise(F.lit(0)).cast("bigint"),
            ).alias("n_segments"),
            F.coalesce(
                "c_kept",
                F.when(F.col("has_spans").isNull(), F.col("n"))
                .otherwise(F.lit(0)).cast("bigint"),
            ).alias("kept_chars"),
            F.coalesce(
                "c_md5",
                F.when(F.col("has_spans").isNull(), F.md5("text"))
                .otherwise(F.md5(F.lit(""))),
            ).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Incremental exact-substring dedup (round 11): the persisted-index
# operating mode of the r10 one-shot — batches probe and append.
# --------------------------------------------------------------------------

#: ingest-batch id of a corpus doc_id: first half of the base docs,
#: second half, then the +20000 near-dup mutants — three arrivals.
_ESI_B = "CASE WHEN {d} < 250 THEN 0 WHEN {d} < 20000 THEN 1 ELSE 2 END"


@workload(
    "dedup_exact_substring_incremental",
    oracle=f"""WITH {_O_CORPUS_NEARDUP},
pos AS (
  SELECT doc_id, length(text) AS n, i AS pos,
         {_O_HASH.format(x=f"substring(text, i, {_ES_K})")} AS h
  FROM corpus, unnest(range(1, length(text) - {_ES_K} + 2)) AS u(i)
  WHERE length(text) >= {_ES_K}
),
h1 AS (SELECT h, min(doc_id) AS mn FROM pos GROUP BY h),
h2 AS (
  SELECT p.h, min(p.doc_id) AS mn2
  FROM pos p JOIN h1 ON h1.h = p.h AND p.doc_id > h1.mn
  GROUP BY p.h
),
cand AS (
  SELECT p.doc_id, p.n, p.pos,
         CASE WHEN h1.mn <> p.doc_id THEN h1.mn ELSE h2.mn2 END AS oth
  FROM pos p JOIN h1 ON h1.h = p.h LEFT JOIN h2 ON h2.h = p.h
),
hits AS (
  SELECT doc_id, n, pos FROM cand
  WHERE oth IS NOT NULL
    AND ({_ESI_B.format(d="oth")}) <= ({_ESI_B.format(d="doc_id")})
),
isl AS (
  SELECT doc_id, n, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id
                                                 ORDER BY pos),
                                  -1000000000) + {_ES_K} - 1
              THEN 1 ELSE 0 END AS new_isl
  FROM hits
),
isl2 AS (
  SELECT doc_id, n, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, min(pos) AS lo, max(pos) + {_ES_K} - 1 AS hi
  FROM isl2 GROUP BY doc_id, island
),
bdocs AS (
  SELECT {_ESI_B.format(d="doc_id")} AS batch, count(*) AS n_docs
  FROM corpus WHERE length(text) >= {_ES_K} GROUP BY 1
),
bsp AS (
  SELECT {_ESI_B.format(d="doc_id")} AS batch,
         count(DISTINCT doc_id) AS n_dup_docs,
         count(*) AS n_spans,
         sum(hi - lo + 1) AS covered
  FROM spans GROUP BY 1
)
SELECT CAST(d.batch AS BIGINT) AS batch,
       CAST(d.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(s.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(s.covered, 0) AS BIGINT) AS covered_chars
FROM bdocs d LEFT JOIN bsp s ON s.batch = d.batch
ORDER BY d.batch
""",
)
def dedup_exact_substring_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact substring dedup operated INCREMENTALLY — the production
    shape dedup_exact_substring_spans's one-shot pass stands in for:
    the corpus arrives in three ingest batches (base docs in two
    halves, then the near-dup mutants), each batch appends its
    positional gram index to a persisted ExactSubstringIndexStore and
    probes ITS OWN docs against everything ingested so far. Per batch:
    docs indexed, docs carrying a duplicated-at-arrival span, span
    count, covered chars — the crawl-time readout (a span here means
    "this text verbatim-duplicates something already in the corpus",
    the signal that gates admission, cf. dedup_saturation_curve).

    Probe-at-arrival semantics (== the oracle's): a position of doc d
    is duplicated iff some doc of an EARLIER-OR-SAME batch shares its
    k-gram. Later arrivals do NOT retro-flag earlier docs here — the
    full retro readout is the store's ``spans()``, whose parity with
    the one-shot workload is pinned by tests/test_substring_store.py
    (same islands, bit-identical), and replayed batches append 0 rows
    (idempotent update, also test-pinned).

    Each batch's probe aggregate is MATERIALIZED before the next
    update — the summary table is merge-overwritten per batch, so a
    lazy probe plan would read the final summary, not the
    at-arrival one (the store-loop twin of the cursor workload's
    commit-then-read discipline, elt.py::incremental_cursor_events).

    Scale: per batch, cost = the batch's own gram explode + ONE
    equi-join against the (h, mn, mx) gram summary — constant state
    per gram, no posting lists, the stored positions never rescanned;
    the summary merge is the parquet stand-in for MERGE INTO (bucket
    both sides by h to co-locate at 100 TB). Driver state: 5 ints per
    batch.

    The store's tables carry a per-call unique prefix and are dropped
    before returning, so concurrent builds (threads of one session,
    or sessions sharing a warehouse) never touch each other's index."""
    import uuid

    from datanika_core_spark.operators.substring_store import (
        ExactSubstringIndexStore,
    )
    from datanika_core_spark.operators.writers import drop_table

    corpus = _corpus_neardup(spark, sf_dir).select("doc_id", "text")
    batch_col = (
        F.when(F.col("doc_id") < 250, F.lit(0))
        .when(F.col("doc_id") < 20000, F.lit(1))
        .otherwise(F.lit(2))
    )
    corpus = corpus.withColumn("batch", batch_col)
    tbl = f"wl_es_index_{uuid.uuid4().hex[:12]}"
    store = ExactSubstringIndexStore(spark, tbl, _ES_K)
    out_rows = []
    try:
        for b in (0, 1, 2):
            bdf = corpus.filter(F.col("batch") == b).select("doc_id", "text")
            store.update(bdf)
            n_docs = bdf.filter(F.length("text") >= _ES_K).count()
            r = store.probe(bdf).agg(
                F.count_distinct("doc_id").alias("nd"),
                F.count(F.lit(1)).alias("ns"),
                F.sum(F.col("hi") - F.col("lo") + 1).alias("cov"),
            ).first()  # bound: one aggregate row
            out_rows.append(
                (b, n_docs, int(r["nd"]), int(r["ns"]), int(r["cov"] or 0))
            )
    finally:
        for suffix in ("", "_docs", "_hsum", "_hsum__stage", "_hsum__old"):
            drop_table(spark, f"{tbl}{suffix}")
    return spark.createDataFrame(
        out_rows,
        "batch bigint, n_docs bigint, n_dup_docs bigint,"
        " n_spans bigint, covered_chars bigint",
    ).orderBy("batch")


# --------------------------------------------------------------------------
# AllPairs over WEIGHTED vectors: exact cosine >= T self-join on
# idf-weighted shingle vectors (Bayardo et al., WWW 2007, the
# weighted half — dedup_prefix_filter_join is the set/Jaccard half).
# --------------------------------------------------------------------------

_APC_T = 0.8


@workload(
    "dedup_allpairs_cosine",
    oracle=f"""
WITH {_O_CORPUS_NEARDUP}, {_O_SHINGLED},
ex AS (SELECT doc_id, unnest(shingles) AS term FROM shingled),
df AS (SELECT term, count(*) AS df FROM ex GROUP BY 1),
stats AS (SELECT count(*) AS nn FROM corpus),
w AS (
  SELECT doc_id, term, ln((1.0 + nn) / (1.0 + df)) AS w
  FROM ex JOIN df USING (term) CROSS JOIN stats
), nrm AS (
  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1
), feats AS (
  SELECT w.doc_id, term, w / nrm AS ww
  FROM w JOIN nrm USING (doc_id) WHERE nrm > 0
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         sum(a.ww * b.ww) AS cosine
  FROM feats a JOIN feats b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(cosine, 6) AS cosine
FROM pairs WHERE cosine >= {_APC_T}
ORDER BY doc_a, doc_b
""",
)
def dedup_allpairs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine >= {t} similarity self-join over L2-normalized
    idf-weighted 3-token-shingle vectors on the near-dup corpus — the
    WEIGHTED-vector AllPairs (Bayardo et al. 2007), complementing the
    set/Jaccard prefix filter of dedup_prefix_filter_join. The
    candidate stage indexes only each document's L2 PREFIX: features
    in descending-weight order until the remaining suffix norm drops
    below {t} (for unit vectors, dot(x, y) over features outside
    prefix(x) is at most ||x_suffix|| * ||y|| = ||x_suffix|| < {t},
    so a qualifying pair must share a feature inside EACH member's
    prefix; joining every doc's prefix against full posting lists
    therefore covers every pair — exact with no global feature
    order). Candidates verify with the full relational dot product
    (shared-term join + sum), so verification work is proportional to
    shared postings; the oracle computes every pairwise cosine with
    no filter — recall 1.0 is checked, not assumed.

    Features are distinct shingles with pure-idf weights, NOT
    unigrams with tf-idf: the synthetic corpus draws from a tiny word
    vocabulary, so every unigram — even the "rare" ones the prefix
    keeps — posts in thousands of documents and the index join
    degenerates to all-pairs (measured at sf0.1: 12.6 M candidate
    pairs of 13.5 M possible, executor OOM). Shingles are near-unique
    outside true near-dups (measured: 331 K candidates = 2.4%, output
    margin 0.84 vs 0.23 around the {t} threshold), which is the same
    reason the Jaccard twins shingle. Scale: the index join shuffles
    on the shingle hash (bucketable); candidates are bounded by
    prefix posting-list sizes — true-dup density, not corpus² — the
    same contract as the Jaccard variant."""
    corpus = _with_toks(_corpus_neardup(spark, sf_dir))
    sh = (
        corpus.filter(F.size("toks") >= 3)
        .withColumn("shingles", F.expr(_SHINGLES_EXPR))
        .select("doc_id", F.explode("shingles").alias("term"))
    )
    df_ = sh.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nn = _corpus_neardup(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("nn")
    )
    w = (
        sh.join(df_, "term")
        .join(nn)
        .select(
            "doc_id", "term",
            F.log((1.0 + F.col("nn")) / (1.0 + F.col("df"))).alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    feats = (
        w.join(nrm, "doc_id")
        .filter(F.col("nrm") > 0)
        .select("doc_id", "term", (F.col("w") / F.col("nrm")).alias("ww"))
        .cache()  # feeds the prefix build, the index probe, and both
        # verification sides
    )
    # L2 prefix: keep features while the sum of squares BEFORE this
    # row still leaves the suffix (this row included) at norm >= T —
    # i.e. cumprev <= 1 - T^2. Unit vectors, so the budget is 1.
    from pyspark.sql import Window

    wprev = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("ww").desc(), "term")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = (
        feats.withColumn(
            "cumprev",
            F.coalesce(F.sum(F.col("ww") * F.col("ww")).over(wprev),
                       F.lit(0.0)),
        )
        .filter(F.col("cumprev") <= 1.0 - _APC_T * _APC_T)
        .select("doc_id", "term")
    )
    cand = (
        prefix.alias("p")
        .join(feats.alias("q"), "term")
        .filter(F.col("p.doc_id") != F.col("q.doc_id"))
        .select(
            F.least("p.doc_id", "q.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "q.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    fa = feats.select(
        F.col("doc_id").alias("doc_a"), "term",
        F.col("ww").alias("wa"),
    )
    fb = feats.select(
        F.col("doc_id").alias("doc_b"), "term",
        F.col("ww").alias("wb"),
    )
    verified = (
        cand.join(fa, "doc_a")
        .join(fb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("cosine"))
    )
    return (
        verified.filter(F.col("cosine") >= _APC_T)
        .select("doc_a", "doc_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("doc_a", "doc_b")
    )


dedup_allpairs_cosine.__doc__ = dedup_allpairs_cosine.__doc__.replace(
    "{t}", str(_APC_T)
)
