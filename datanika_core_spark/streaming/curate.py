"""Streaming corpus curation: continuous document ingestion with
quality filtering and INCREMENTAL near-dup rejection against the
warehouse-persisted MinHash signature store — the streaming analogue
of workloads/pipeline.py and the actual 100 TB operating mode
promised by operators/minhash.py.

Per micro-batch (foreachBatch):
1. quality gate: cheap per-row expressions (token length, duplicate-
   bigram fraction) — whole-stage codegen, no shuffle;
2. sign the surviving batch in-flight (per-row lambdas) and LSH-band
   it against the STORED signatures: a batch×store band equi-join in
   which the batch side is one micro-batch (tiny) — broadcastable —
   and the store is only ever probed, never recomputed;
3. exact-Jaccard-verify candidates (batch shingles vs the corpus
   table's text, semi-pruned to candidates) — cost proportional to
   collisions, not corpus size;
4. batch docs that near-dup a stored doc (or an earlier-id doc in
   the same batch) are rejected; survivors append to the corpus
   table and their signatures to the store.

Checkpointing makes file replays idempotent at the source level;
the store's doc_id anti-join in update() makes signature appends
idempotent too.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.minhash import (
    MinHashSignatureStore,
    add_signature,
    band_signatures,
    with_shingles,
)
from datanika_core_spark.streaming.jobs import (
    StreamStats,
    drain,
    read_event_stream,
)


@dataclass
class CurateStats(StreamStats):
    dropped_quality: int = 0
    dropped_dup: int = 0
    loaded: int = 0
    rejected_ids: list[int] = field(default_factory=list)


def _batch_quality_gate(batch: DataFrame, min_tokens: int,
                        max_dup_bigram: float) -> DataFrame:
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks)-1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"
        " ELSE array() END"
    )
    dbf = F.expr(
        "CASE WHEN size(bigrams) = 0 THEN CAST(0.0 AS DOUBLE)"
        " ELSE CAST(1.0 AS DOUBLE)"
        " - CAST(size(array_distinct(bigrams)) AS DOUBLE) / size(bigrams)"
        " END"
    )
    return (
        batch.withColumn("toks", toks)
        .withColumn("bigrams", bigrams)
        .filter((F.size("toks") >= min_tokens) & (dbf <= max_dup_bigram))
        .drop("toks", "bigrams")
    )


def _candidate_old_shingles(old_texts: DataFrame,
                            cand: DataFrame) -> DataFrame:
    """Shingle the old/corpus side of exact verification, pruned
    FIRST to candidate ``doc_old`` ids: the stored corpus is
    semi-joined down to band-colliding ids *before* ``with_shingles``
    runs, so the per-batch plan never computes a shingle projection
    over corpus rows outside the candidate set (the semi join sits
    BELOW the shingle projection — tests/test_stream_curate.py pins
    that plan shape). At 100 TB this is the difference between
    re-shingling the whole corpus every micro-batch and paying only
    for collisions."""
    cand_old_ids = cand.select(
        F.col("doc_old").alias("doc_id")
    ).distinct()
    pruned = old_texts.join(
        # bound: band-collision candidates of one micro-batch
        F.broadcast(cand_old_ids), "doc_id", "left_semi"
    )
    return with_shingles(pruned).select(
        F.col("doc_id").alias("doc_old"),
        F.col("shingles").alias("sh_old"),
    )


def stream_curate(
    spark: SparkSession,
    source_path: str,
    corpus_table: str,
    store: MinHashSignatureStore,
    min_tokens: int = 5,
    max_dup_bigram: float = 0.5,
    threshold: float = 0.7,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> CurateStats:
    """Run the curation stream over all currently-available files
    (availableNow) and return per-stage accounting."""
    stats = CurateStats()
    n_clean_total = 0

    def _absorb(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_clean_total
        clean = _batch_quality_gate(
            batch_df, min_tokens, max_dup_bigram
        ).localCheckpoint(eager=True)  # batch reused by 4 branches
        n_clean = clean.count()
        n_clean_total += n_clean
        stats.dropped_quality = stats.arrived - n_clean_total
        if n_clean == 0:
            return

        # sign + band the batch in-flight
        batch_sigs = add_signature(
            with_shingles(clean.select("doc_id", "text")).filter(
                F.size("shingles") > 0
            ),
            store.k,
        ).select("doc_id", "sig", "shingles")
        batch_sigs = batch_sigs.localCheckpoint(eager=True)
        batch_bands = band_signatures(batch_sigs, store.b, store.r)

        # candidates vs the STORE (cross-batch) and within the batch
        cand = None
        if spark.catalog.tableExists(store.table):
            store_bands = band_signatures(
                spark.table(store.table), store.b, store.r
            )
            cand = (
                # bound: one micro-batch's band keys
                F.broadcast(batch_bands).alias("n")
                .join(
                    store_bands.alias("o"),
                    (F.col("n.b") == F.col("o.b"))
                    & (F.col("n.bh") == F.col("o.bh")),
                )
                .select(
                    F.col("n.doc_id").alias("doc_new"),
                    F.col("o.doc_id").alias("doc_old"),
                )
            )
        intra = (
            batch_bands.alias("x")
            .join(
                batch_bands.alias("y"),
                (F.col("x.b") == F.col("y.b"))
                & (F.col("x.bh") == F.col("y.bh"))
                & (F.col("x.doc_id") > F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_new"),
                F.col("y.doc_id").alias("doc_old"),
            )
        )
        cand = intra if cand is None else cand.unionByName(intra)
        cand = cand.distinct()

        # exact-Jaccard verification: new side shingles are in-batch;
        # old side from the corpus table (or the batch, for intra
        # pairs). The stored corpus is semi-joined down to candidate
        # doc_old ids BEFORE with_shingles, so shingling cost is
        # proportional to band collisions — never a full-corpus
        # re-shingle per micro-batch.
        new_sh = batch_sigs.select(
            F.col("doc_id").alias("doc_new"),
            F.col("shingles").alias("sh_new"),
        )
        old_texts = clean.select("doc_id", "text")
        if spark.catalog.tableExists(corpus_table):
            old_texts = old_texts.unionByName(
                spark.table(corpus_table).select("doc_id", "text")
            )
        old_sh = _candidate_old_shingles(old_texts, cand)
        verified = (
            cand.join(new_sh, "doc_new")
            .join(old_sh, "doc_old")
            .withColumn(
                "inter", F.size(F.array_intersect("sh_new", "sh_old"))
            )
            .withColumn(
                "jac",
                F.col("inter")
                * 1.0
                / (
                    F.size("sh_new") + F.size("sh_old") - F.col("inter")
                ),
            )
            .filter(F.col("jac") >= threshold)
        )
        # materialize the rejected-id frame ONCE; the kept-side prune
        # is a broadcast anti-join on it (no collect()-ed literals in
        # the plan — a dup-heavy batch can't blow up the predicate
        # tree). The collect below is accounting only, bounded by the
        # micro-batch size.
        rejected_df = (
            verified.select("doc_new").distinct()
            .localCheckpoint(eager=True)
        )
        # bound: <= one micro-batch's doc ids
        rejected = sorted(r.doc_new for r in rejected_df.collect())
        stats.dropped_dup += len(rejected)
        stats.rejected_ids.extend(rejected)

        kept = clean.join(
            # bound: <= one micro-batch's doc ids
            F.broadcast(rejected_df.withColumnRenamed("doc_new", "doc_id")),
            "doc_id",
            "left_anti",
        )
        mode = (
            "append"
            if spark.catalog.tableExists(corpus_table)
            else "overwrite"
        )
        kept.write.format("parquet").mode(mode).saveAsTable(corpus_table)
        stats.loaded += store.update(kept)

    # the previous batch appended through the micro-batch session
    # clone, so drain refreshes this session's file listings of the
    # corpus + store tables each batch (stale ones would silently miss
    # the newest appends); no reset_state: the store's self-match
    # rejects re-delivered docs
    return drain(
        spark,
        read_event_stream(
            spark, source_path, max_files_per_trigger=max_files_per_trigger
        ),
        _absorb,
        kind="curate", state_name=corpus_table,
        has_state=lambda: spark.catalog.tableExists(corpus_table),
        refresh=(corpus_table, store.table), checkpoint_dir=checkpoint_dir,
        timeout_sec=timeout_sec, stats=stats,
    )


def stream_decontaminate(
    spark: SparkSession,
    stream_df: DataFrame,
    bench_shingles: DataFrame,
    ngram: int = 8,
) -> DataFrame:
    """Stream decontamination: drop arriving documents that share an
    ``ngram``-token shingle with the static benchmark set
    (workloads/contamination.py computes the same collision batch-
    side; the oracle-paired batch op is the twin).

    Why not a join: "doc has NO colliding shingle" is an aggregation
    over the doc's exploded shingles, and Structured Streaming
    forbids both stream-side anti joins and unwatermarked
    aggregations in append mode. Instead the benchmark hash set
    (tiny — benchmarks are MBs against a TB corpus) ships to every
    task as a LITERAL sorted array, and the filter is one per-row
    ``arrays_overlap`` — map-side, stateless, no watermark, exact.
    At larger benchmark sizes swap the literal for a bloom filter
    broadcast (same shape, probabilistic membership, then an exact
    batch-side recheck of the flagged docs).
    """
    from datanika_core_spark.operators.minhash import spark_hash_expr
    from datanika_core_spark.workloads.contamination import _shingle8_spark

    if ngram != 8:  # the shared fragment is specialized to 8
        raise ValueError("only 8-gram supported (shared oracle fragment)")
    # bound: the static benchmark set's distinct shingle hashes
    hashes = sorted(
        r.sh for r in bench_shingles.select("sh").distinct().collect()
    )
    doc_hashes = F.expr(
        f"transform({_shingle8_spark('toks')},"
        f" s -> {spark_hash_expr('s')})"
    )
    return (
        stream_df.withColumn(
            "toks", F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        )
        .withColumn("__doc_h", doc_hashes)
        .filter(~F.arrays_overlap("__doc_h", F.lit(hashes)))
        .drop("toks", "__doc_h")
    )
