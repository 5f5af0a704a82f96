"""Sequence packing + document chunking over the `documents` table —
the tokenizer-side operators of a pretraining data pipeline
(beyond-reference, SURVEY.md §7 Phase 4).

- ``pack_sequences_concat_chunk``: GPT-style concat-and-chunk
  packing. Documents are laid out in a deterministic global order,
  token counts accumulate into a global offset, and each document is
  assigned to the fixed-size context window (pack) its first token
  falls into. The global running sum uses the two-phase
  range-partition + partition-offset pattern
  (operators/ordering.py) — NO single-partition window, so the
  layout step stays map-parallel at 100 TB.

- ``doc_chunk_sliding``: overlapping sliding token windows
  (size W, stride S) per document — the standard long-document
  split for context-bounded training. Pure per-row
  ``sequence``/``explode`` arithmetic: embarrassingly parallel,
  no shuffle at all.

Reference scope note: the reference (an ELT platform) has no
tokenizer layer; these operators extend the engine for LLM corpus
preparation, mirroring dlt-style "derive child tables from a parent
row" mechanics (datanika/services/dlt_runner.py:334-356) in spirit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.minhash import TOKS_PATTERN as _TOKS
from datanika_core_spark.operators.ordering import with_global_offset
from datanika_core_spark.workloads import t, workload

_O_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"

_PACK_BUDGET = 512  # tokens per pack (context window)


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), _TOKS))
        .cast("bigint")
        .alias("n_tok"),
    )


@workload(
    "pack_sequences_concat_chunk",
    headline=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, CAST(len({_O_TOKS}) AS BIGINT) AS n_tok FROM documents
),
laid AS (
  SELECT doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
  FROM tok
)
SELECT CAST(floor(tok_start / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc
FROM laid
GROUP BY 1
ORDER BY pack_id
""",
)
def pack_sequences_concat_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: token counts accumulate in doc_id
    order; pack_id = which {budget}-token window the document STARTS
    in (documents may straddle a boundary — exactly how GPT-style
    pretraining concatenates then splits). The global offset comes
    from the two-phase prefix sum, so no stage sees more than one
    partition's rows through a window."""
    laid = with_global_offset(
        _doc_tokens(spark, sf_dir), "doc_id", "n_tok", "tok_start"
    )
    return (
        laid.groupBy(
            F.floor(F.col("tok_start") / F.lit(float(_PACK_BUDGET)))
            .cast("bigint")
            .alias("pack_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("pack_id")
    )


_CH_W = 64  # window (chunk) size in tokens
_CH_S = 48  # stride → 16-token overlap between consecutive chunks


@workload(
    "doc_chunk_sliding",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_O_TOKS} AS toks, CAST(len({_O_TOKS}) AS BIGINT) AS n
  FROM documents
),
chunks AS (
  SELECT doc_id, toks, n,
         unnest(range(0, 1 + CAST(floor(
             (greatest(n - {_CH_W}, 0) + {_CH_S - 1}) / {_CH_S}.0
         ) AS BIGINT))) AS chunk_idx
  FROM tok
)
SELECT doc_id, chunk_idx,
       least({_CH_W}, n - chunk_idx * {_CH_S}) AS chunk_len,
       toks[CAST(chunk_idx * {_CH_S} + 1 AS INT)] AS head_tok
FROM chunks
ORDER BY doc_id, chunk_idx
""",
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: each document explodes into
    ceil((n-W)/S)+1 overlapping windows of W tokens at stride S.
    Per-row arithmetic only — the explode multiplies rows ~n/S×, but
    there is no shuffle and no state; at 100 TB this runs entirely
    inside the scan stage."""
    # SORT-FIRST (r12, the r11 rule): the final orderBy's range
    # partitioner samples its child plan, so tokenize + explode ran
    # TWICE. Sort the narrow (doc_id, text) frame first; the split,
    # explode and chunk arithmetic all sit ABOVE the Sort. Output
    # order is cosmetic: rows usually come out in (doc_id, chunk_idx)
    # order, but Spark does not promise that Generate/Project keep
    # it. Correctness relies only on the order-insensitive oracle
    # compare.
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .select(
            "doc_id",
            F.split(F.lower(F.trim(F.col("text"))), _TOKS).alias("toks"),
        )
    )
    n = F.size("toks").cast("bigint")
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(n - _CH_W, F.lit(0)) + F.lit(_CH_S - 1))
        / F.lit(float(_CH_S))
    ).cast("bigint")
    return (
        docs.withColumn("n", n)
        .withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.least(F.lit(_CH_W).cast("bigint"),
                    F.col("n") - F.col("chunk_idx") * _CH_S)
            .alias("chunk_len"),
            F.element_at(
                "toks", (F.col("chunk_idx") * _CH_S + 1).cast("int")
            ).alias("head_tok"),
        )
    )


# --------------------------------------------------------------------------
# Length-bucketed batching (the padding-efficiency layout).
# --------------------------------------------------------------------------

#: power-of-two context buckets; a doc lands in the smallest bucket
#: that holds it. The ladder is CASE-expressed in BOTH engines —
#: integer-exact, no float pow/log2 at exact-power boundaries.
_LB_BUCKETS = [32, 64, 128, 256, 512, 1024, 2048, 4096]
_LB_BATCH = 16  # sequences per training batch within a bucket

_LB_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN n_tok <= {b} THEN {b}" for b in _LB_BUCKETS
    )
    + f" ELSE {_LB_BUCKETS[-1]} END"
)


@workload(
    "pack_length_bucketed_batches",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, CAST(len({_O_TOKS}) AS BIGINT) AS n_tok FROM documents
),
b AS (
  SELECT doc_id,
         CAST(least(n_tok, {_LB_BUCKETS[-1]}) AS BIGINT) AS eff_tok,
         CAST({_LB_CASE_SQL} AS BIGINT) AS bucket_len
  FROM tok
)
SELECT bucket_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(CAST(ceil(count(*) / {_LB_BATCH}.0) AS BIGINT) AS BIGINT)
         AS n_batches,
       CAST(sum(eff_tok) AS BIGINT) AS actual_tokens,
       CAST(count(*) * bucket_len AS BIGINT) AS padded_tokens,
       ROUND(1.0 - CAST(sum(eff_tok) AS DOUBLE)
                   / (count(*) * bucket_len), 6) AS waste_share
FROM b
GROUP BY bucket_len
ORDER BY bucket_len
""",
)
def pack_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching: each document is assigned the
    smallest power-of-two context bucket that holds it (docs past the
    largest bucket truncate to it), and per bucket we price the
    layout — batch count at 16 sequences/batch, actual vs padded
    tokens, and the padding-waste share the bucketing exists to
    minimize (vs pad-to-global-max, bucketed padding typically cuts
    waste several-fold; this report is the number that justifies the
    bucket ladder). The complement of pack_sequences_concat_chunk:
    concat-and-chunk wastes zero padding but splits documents;
    bucketed batching preserves document boundaries and pays
    measured padding.

    Scale: one map-only projection (token count + CASE ladder) into
    one groupBy over ≤8 bucket keys — map-side combine reduces
    every partition to ≤8 rows, so the shuffle is O(partitions),
    independent of corpus size. Skew-immune: heavy buckets
    pre-aggregate per partition."""
    tok = _doc_tokens(spark, sf_dir)
    cap = _LB_BUCKETS[-1]
    bucket = F.lit(cap).cast("bigint")
    for b in reversed(_LB_BUCKETS):
        bucket = F.when(F.col("n_tok") <= b, F.lit(b).cast("bigint")).otherwise(bucket)
    b = tok.select(
        F.least(F.col("n_tok"), F.lit(cap)).cast("bigint").alias("eff_tok"),
        bucket.alias("bucket_len"),
    )
    return (
        b.groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("eff_tok").cast("bigint").alias("actual_tokens"),
        )
        .select(
            "bucket_len",
            "n_docs",
            F.ceil(F.col("n_docs") / F.lit(float(_LB_BATCH)))
            .cast("bigint").alias("n_batches"),
            "actual_tokens",
            (F.col("n_docs") * F.col("bucket_len")).cast("bigint")
            .alias("padded_tokens"),
            F.round(
                F.lit(1.0)
                - F.col("actual_tokens").cast("double")
                / (F.col("n_docs") * F.col("bucket_len")),
                6,
            ).alias("waste_share"),
        )
        .orderBy("bucket_len")
    )
