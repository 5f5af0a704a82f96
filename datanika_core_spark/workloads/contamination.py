"""Benchmark decontamination: flag corpus documents that share an
8-token shingle with a held-out benchmark set — the standard
train/test-overlap scrub in LLM data pipelines (n-gram collision
decontamination as published in the GPT-3 appendix C / PaLM §6.1 /
Llama-2 §A.6 data cards; beyond-reference, SURVEY.md §7 Phase 4).

Scale design: the benchmark side is tiny (benchmarks are MBs, the
corpus is TBs) — its distinct shingle hashes BROADCAST to every
executor, so the corpus-side scan stays shuffle-free until the final
per-doc aggregation of hits (which is proportional to *contaminated*
docs, not the corpus). Never join corpus-shingles x corpus-shingles:
the corpus side explodes to |tokens| rows, the broadcast hash-join
filters them map-side to collisions only.

Determinism: the synthetic corpus has some natural cross-doc 8-gram
collisions, but to make the operator's behavior explicit (and
sf-independent) both engines inject 'leaked quote' docs at
doc_id+30000: the 20-token prefix of every benchmark doc — the
canonical contamination shape (a training doc quoting a test item).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.workloads import workload
from datanika_core_spark.workloads.text_dedup import (
    _O_HASH,
    _O_TOKS,
    _norm_docs,
    _spark_hash,
)

_NGRAM = 8  # collision width, tokens
_BENCH_MOD = 40  # every 40th doc is "benchmark"
_LEAK_TOKENS = 20  # leaked-quote prefix length


def _shingle8_spark(toks: str) -> str:
    return (
        f"CASE WHEN size({toks}) >= {_NGRAM} THEN"
        f" array_distinct(transform(sequence(1, size({toks}) - {_NGRAM - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {_NGRAM}))))"
        f" ELSE array() END"
    )


def _shingle8_duck(toks: str) -> str:
    return (
        f"CASE WHEN len({toks}) >= {_NGRAM} THEN"
        f" list_distinct(list_transform(range(1, len({toks}) - {_NGRAM - 2}),"
        f" i -> array_to_string(list_slice({toks}, i, i + {_NGRAM - 1}), ' ')))"
        f" ELSE [] END"
    )


@workload(
    "decontaminate_ngram_overlap",
    headline=True,
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, lower(trim(text)) AS text FROM documents
  UNION ALL
  SELECT doc_id + 30000 AS doc_id,
         array_to_string(list_slice({_O_TOKS}, 1, {_LEAK_TOKENS}), ' ') AS text
  FROM documents WHERE doc_id % {_BENCH_MOD} = 0
),
bench_sh AS (
  SELECT DISTINCT {_O_HASH.format(x='s')} AS sh, doc_id AS bench_id
  FROM (
    SELECT doc_id, unnest({_shingle8_duck('toks')}) AS s
    FROM (SELECT doc_id, {_O_TOKS} AS toks FROM documents
          WHERE doc_id % {_BENCH_MOD} = 0)
  )
),
corpus_sh AS (
  SELECT doc_id, {_O_HASH.format(x='s')} AS sh
  FROM (
    SELECT doc_id, unnest({_shingle8_duck('toks')}) AS s
    FROM (SELECT doc_id, {_O_TOKS.replace('text', 'text')} AS toks
          FROM corpus)
  )
)
SELECT c.doc_id,
       CAST(count(DISTINCT c.sh) AS BIGINT) AS n_hit_shingles,
       CAST(min(b.bench_id) AS BIGINT) AS first_bench_match
FROM corpus_sh c JOIN bench_sh b ON c.sh = b.sh
WHERE c.doc_id <> b.bench_id
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs sharing >= 1 distinct 8-gram with any benchmark
    doc (self-matches excluded), with hit counts and the lowest
    matching benchmark id.

    Plan shape: benchmark shingle hashes (distinct, small) broadcast
    while under the planner's threshold — a 1-in-40 doc sample, so
    unhinted; the exploded corpus shingles hash-join against them
    map-side; the only shuffle is the final groupBy over collision
    rows."""
    docs = _norm_docs(spark, sf_dir).select("doc_id", "text")
    toks = F.split("text", r"\s+")
    leaks = docs.filter(F.col("doc_id") % _BENCH_MOD == 0).select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, _LEAK_TOKENS)).alias("text"),
    )
    corpus = docs.unionByName(leaks).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    def shingle_hashes(df: DataFrame) -> DataFrame:
        with_sh = df.select(
            "doc_id",
            F.explode(
                F.expr(_shingle8_spark("split(text, '\\\\s+')"))
            ).alias("s"),
        )
        return with_sh.select(
            "doc_id", F.expr(_spark_hash("s")).alias("sh")
        )

    bench_sh = (
        shingle_hashes(docs.filter(F.col("doc_id") % _BENCH_MOD == 0))
        .select(F.col("sh"), F.col("doc_id").alias("bench_id"))
        .distinct()
    )
    corpus_sh = shingle_hashes(corpus)
    hits = corpus_sh.join(bench_sh, "sh").filter(
        F.col("doc_id") != F.col("bench_id")
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count_distinct("sh").cast("bigint").alias("n_hit_shingles"),
            F.min("bench_id").cast("bigint").alias("first_bench_match"),
        )
        .orderBy("doc_id")
    )
