"""Flagship end-to-end corpus-curation pipeline: every document gets
a drop reason (or 'kept') from the staged filter chain

    lang filter -> repetition -> benchmark scrub -> contamination
    -> near-dup dedup -> per-source token quota

composed from the individually-tested operators (corpus_quality,
contamination, text_dedup) into ONE declarative plan — the "switch
your curation pipeline to this engine" demonstration. Fully
oracle-paired: the DuckDB SQL composes the same CTE fragments.

Scale design (the whole point of composing declaratively):
- One corpus scan feeds every stage; Catalyst shares the scan and
  pipelines per-doc metrics (repetition, tokens) in one codegen pass.
- The two pairwise stages (contamination, near-dup) reuse the
  broadcast-shingle join and LSH-band join — never quadratic.
- Stage verdicts combine as a CASE precedence chain (cheap,
  columnar); the quota cumsum runs only over survivors, partitioned
  by source.
- At 100 TB each stage's intermediate (pairs, flags) is tiny
  relative to the corpus: per-doc labels stream through one final
  broadcast-left-join chain.

The dup/mutant injection mirrors text_dedup (raw crawls contain
dups; the synthetic corpus doesn't, so both engines inject the same
90%-prefix mutants at doc_id+20000).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.workloads import workload
from datanika_core_spark.workloads.contamination import (
    _BENCH_MOD,
    _shingle8_duck,
    _shingle8_spark,
)
from datanika_core_spark.workloads.corpus_quality import (
    _BIGRAMS_DUCK,
    _BIGRAMS_SPARK,
    _DBF_DUCK,
    _DBF_SPARK,
    _DBF_MAX,
    _TOP_CNT_SPARK,
    _TTF_MAX,
)
from datanika_core_spark.workloads.text_dedup import (
    O_MINHASH_PAIRS_CTES,
    _O_HASH,
    _O_TOKS,
    _corpus_neardup,
    _norm_docs,
    _spark_hash,
    _with_toks,
    minhash_pairs,
)

_QUOTA = 300  # per-source token budget over pipeline survivors


@workload(
    "corpus_curation_pipeline",
    headline=True,
    oracle=f"""
WITH {O_MINHASH_PAIRS_CTES},
meta AS (
  SELECT c.doc_id,
         d.lang, d.source,
         len({_O_TOKS.replace('text', 'c.text')}) AS tokens
  FROM corpus c
  JOIN documents d
    ON d.doc_id = CASE WHEN c.doc_id >= 20000
                       THEN c.doc_id - 20000 ELSE c.doc_id END
),
rep AS (
  SELECT doc_id,
         top_cnt * 1.0 / n_toks AS ttf,
         {_DBF_DUCK} AS dbf
  FROM (
    SELECT d.doc_id, len(d.toks) AS n_toks, {_BIGRAMS_DUCK} AS bigrams,
           (SELECT max(c) FROM (
              SELECT count(*) AS c FROM unnest(d.toks) AS u(tok)
              GROUP BY tok)) AS top_cnt
    FROM (SELECT doc_id, {_O_TOKS} AS toks FROM corpus) d
  )
),
bench_sh AS (
  SELECT DISTINCT {_O_HASH.format(x='s')} AS sh
  FROM (
    SELECT unnest({_shingle8_duck('toks')}) AS s
    FROM (SELECT {_O_TOKS} AS toks FROM documents
          WHERE doc_id % {_BENCH_MOD} = 0)
  )
),
contaminated AS (
  SELECT DISTINCT doc_id
  FROM (
    SELECT doc_id, {_O_HASH.format(x='s')} AS sh
    FROM (
      SELECT doc_id, unnest({_shingle8_duck('toks')}) AS s
      FROM (SELECT doc_id, {_O_TOKS} AS toks FROM corpus
            WHERE NOT (doc_id % {_BENCH_MOD} = 0 AND doc_id < 20000))
    )
  ) c JOIN bench_sh b USING (sh)
),
dup_losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM pairs
),
labeled AS (
  SELECT m.doc_id, m.source, m.lang, m.tokens,
         CASE
           WHEN m.lang <> 'en' THEN 'lang_filter'
           WHEN r.ttf > {_TTF_MAX} OR r.dbf > {_DBF_MAX}
             THEN 'repetition'
           WHEN m.doc_id % {_BENCH_MOD} = 0 AND m.doc_id < 20000
             THEN 'benchmark_member'
           WHEN m.doc_id IN (SELECT doc_id FROM contaminated)
             THEN 'contaminated'
           WHEN m.doc_id IN (SELECT doc_id FROM dup_losers)
             THEN 'near_dup'
           ELSE NULL
         END AS early_drop
  FROM meta m JOIN rep r USING (doc_id)
),
quota AS (
  SELECT doc_id,
         CAST(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id)
           AS BIGINT) AS used_after
  FROM labeled WHERE early_drop IS NULL
)
SELECT l.doc_id, l.source, l.lang,
       CAST(l.tokens AS BIGINT) AS tokens,
       coalesce(
         l.early_drop,
         CASE WHEN q.used_after > {_QUOTA} THEN 'over_quota'
              ELSE 'kept' END
       ) AS verdict
FROM labeled l LEFT JOIN quota q USING (doc_id)
ORDER BY doc_id
""",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label every corpus document (base + injected near-dup
    mutants) with its curation verdict; precedence: lang_filter >
    repetition > benchmark_member > contaminated > near_dup >
    over_quota > kept. Mutants inherit the parent doc's lang/source.

    Reuses dedup_minhash_lsh for the pair set and the
    contamination/corpus_quality expression fragments — each stage's
    semantics are exactly the standalone operator's."""
    base = _norm_docs(spark, sf_dir)
    # One materialization of the (base + mutants) corpus feeds every
    # stage INCLUDING the minhash pair pipeline — without it each
    # branch re-scans parquet and re-tokenizes (4+ corpus passes; at
    # 100 TB you'd persist this to a table, same as the signature
    # store). Only (doc_id, lang, source, toks) is cached — text is
    # never needed again, and lang/source arrived WITH the corpus
    # (mutants inherit the parent row's values at construction), so
    # there is no join back to the base table.
    corpus = (
        _with_toks(_corpus_neardup(spark, sf_dir))
        .select("doc_id", "lang", "source", "toks")
        .cache()
    )

    # per-doc metadata + repetition metrics (corpus_quality
    # fragments) in ONE map-only projection over the cached corpus:
    # the top-token count is the longest equal-run of the sorted
    # token array, so no explode/shuffle/join in this stage
    meta_rep = (
        corpus
        .withColumn("bigrams", F.expr(_BIGRAMS_SPARK))
        .withColumn("top_cnt", F.expr(_TOP_CNT_SPARK))
        .select(
            "doc_id", "lang", "source",
            F.size("toks").alias("tokens"),
            (F.col("top_cnt") * F.lit(1.0) / F.size("toks")).alias("ttf"),
            F.expr(_DBF_SPARK).alias("dbf"),
        )
    )

    # contamination vs the benchmark members (base ids % mod == 0)
    def shingle_hashes(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(F.expr(_shingle8_spark("toks"))).alias("s"),
        ).select("doc_id", F.expr(_spark_hash("s")).alias("sh"))

    bench_sh = (
        shingle_hashes(
            _with_toks(base.filter(F.col("doc_id") % _BENCH_MOD == 0))
        )
        .select("sh")
        .distinct()
    )
    is_bench = (F.col("doc_id") % _BENCH_MOD == 0) & (
        F.col("doc_id") < 20000
    )
    contaminated = (
        shingle_hashes(corpus.filter(~is_bench))
        .join(bench_sh, "sh")
        .select("doc_id")
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )

    # near-dup losers from the tested LSH pipeline, fed the SAME
    # cached corpus (no re-scan/re-tokenize)
    dup_losers = (
        minhash_pairs(corpus)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup_loser", F.lit(True))
    )

    labeled = (
        meta_rep
        .join(contaminated, "doc_id", "left")
        .join(dup_losers, "doc_id", "left")
        .select(
            "doc_id", "source", "lang", "tokens",
            F.when(F.col("lang") != "en", "lang_filter")
            .when(
                (F.col("ttf") > _TTF_MAX) | (F.col("dbf") > _DBF_MAX),
                "repetition",
            )
            .when(is_bench, "benchmark_member")
            .when(F.col("is_contaminated"), "contaminated")
            .when(F.col("is_dup_loser"), "near_dup")
            .alias("early_drop"),
        )
    )

    # Quota cumsum WITHOUT a self-join: sum survivor tokens (dropped
    # rows contribute 0) in the same window — at a survivor row the
    # masked running total equals the survivors-only running total,
    # and dropped rows never read used_after. One window pass
    # replaces filter + window + join-back-on-doc_id.
    w = Window.partitionBy("source").orderBy("doc_id")
    used_after = F.sum(
        F.when(F.col("early_drop").isNull(), F.col("tokens")).otherwise(0)
    ).over(w)
    return (
        labeled.withColumn("used_after", used_after)
        .select(
            "doc_id", "source", "lang",
            F.col("tokens").cast("bigint").alias("tokens"),
            F.coalesce(
                "early_drop",
                F.when(F.col("used_after") > _QUOTA, "over_quota")
                .otherwise("kept"),
            ).alias("verdict"),
        )
        .orderBy("doc_id")
    )
