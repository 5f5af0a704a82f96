"""The prefix-filter similarity join claims recall 1.0: its candidate
pruning (rarest-shingle prefixes + the length filter) must lose
NOTHING against the full inverted-index join. The shared DuckDB
oracle already checks each against the same SQL; this pins the
stronger engine-vs-engine statement directly — identical pair sets
and identical Jaccard values, row for row."""

from __future__ import annotations

from datanika_core_spark.workloads import load_all

SF = "/root/testdata/sf0.001"


def test_prefix_filter_equals_inverted_index(spark):
    reg = load_all()
    full = reg["dedup_ngram_jaccard"].fn(spark, SF).collect()
    pref = reg["dedup_prefix_filter_join"].fn(spark, SF).collect()
    as_set = lambda rows: {
        (r.doc_a, r.doc_b, r.jaccard) for r in rows
    }
    assert as_set(pref) == as_set(full)
    assert len(full) > 0  # the corpus has planted near-dups


def test_ppjoin_positional_equals_inverted_index(spark):
    """PPJoin's positional filter prunes candidates, never results:
    the verified pair set must still equal the full inverted-index
    join (and hence the AllPairs prefix join) exactly."""
    reg = load_all()
    full = reg["dedup_ngram_jaccard"].fn(spark, SF).collect()
    pp = reg["dedup_ppjoin_positional"].fn(spark, SF).collect()
    as_set = lambda rows: {
        (r.doc_a, r.doc_b, r.jaccard) for r in rows
    }
    assert as_set(pp) == as_set(full)
    assert len(full) > 0


def test_winnowing_finds_all_planted_mutants(spark):
    """The winnowing guarantee: a verbatim shared substring of
    >= k + W - 1 = 31 chars yields a shared fingerprint. Every
    planted mutant (doc_id + 20000) shares its parent's whole
    90%-token prefix verbatim, so every sufficiently long parent
    MUST pair with its mutant."""
    from pyspark.sql import functions as F

    from datanika_core_spark.workloads.text_dedup import (
        _corpus_neardup,
    )

    reg = load_all()
    pairs = {
        (r.doc_a, r.doc_b)
        for r in reg["dedup_winnowing_fingerprints"].fn(spark, SF).collect()
    }
    corpus = _corpus_neardup(spark, SF)
    long_parents = {
        r.doc_id
        for r in corpus.filter(
            (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 20000)
            & (F.length("text") >= 120)  # prefix comfortably > 31 chars
        ).collect()
    }
    assert long_parents
    missing = {
        p for p in long_parents if (p, p + 20000) not in pairs
    }
    assert missing == set()


def test_winnowing_df_cap_subset_and_planted_recall(spark):
    """The DF cap only ever REMOVES fingerprints, so capped pairs are
    a subset of exact pairs (with shared_capped <= shared_exact), and
    every planted parent/mutant pair must survive: a mutant shares
    its parent's whole 90%-token prefix verbatim, and those window
    minima come from doc-unique random text (df = 2, far under the
    cap), so the cap cannot touch the evidence that matters."""
    from pyspark.sql import functions as F

    from datanika_core_spark.workloads.text_dedup import _corpus_neardup

    reg = load_all()
    exact = {
        (r.doc_a, r.doc_b): r.shared
        for r in reg["dedup_winnowing_fingerprints"].fn(spark, SF).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.shared
        for r in reg["dedup_winnowing_df_capped"].fn(spark, SF).collect()
    }
    assert capped
    for pair, shared in capped.items():
        assert pair in exact, pair
        assert shared <= exact[pair], pair
    corpus = _corpus_neardup(spark, SF)
    long_parents = {
        r.doc_id
        for r in corpus.filter(
            (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 20000)
            & (F.length("text") >= 120)
        ).collect()
    }
    assert long_parents
    missing = {p for p in long_parents if (p, p + 20000) not in capped}
    assert missing == set()


def test_prefix_index_broadcast_hint_is_input_size_gated(
    spark, monkeypatch, tmp_path
):
    """The df-table broadcast hint in _prefix_index is gated on
    driver-side input-file metadata: a parquet corpus under the
    ceiling gets the hint (the r11 build-side fix), cached or not —
    the gate reads the source files behind the cache; over the
    ceiling, or with no input files to measure (an in-memory corpus),
    the hint is dropped so a corpus-sized df table can never be
    force-broadcast into an OOM. The gate reads metadata only:
    constructing the frame runs no Spark jobs either way (asserted
    via the job group)."""
    from pyspark.sql import functions as F

    from datanika_core_spark.workloads import text_dedup
    from datanika_core_spark.workloads.text_dedup import (
        _SHINGLES_EXPR,
        _corpus_neardup,
        _prefix_index,
        _with_toks,
    )

    path = str(tmp_path / "corpus.parquet")
    _corpus_neardup(spark, SF).write.parquet(path)
    in_memory = spark.createDataFrame(spark.read.parquet(path).collect())
    cached = spark.read.parquet(path).cache()
    cached.count()

    def analyzed(corpus):
        sh = (
            _with_toks(corpus)
            .filter(F.size("toks") >= 3)
            .withColumn("shingles", F.expr(_SHINGLES_EXPR))
            .select("doc_id", "shingles")
        )
        return _prefix_index(sh)._jdf.queryExecution().analyzed().toString()

    sc = spark.sparkContext
    sc.setJobGroup("prefix-gate-probe", "probe")
    try:
        hinted = analyzed(spark.read.parquet(path))
        hinted_cached = analyzed(cached)
        no_files = analyzed(in_memory)
        monkeypatch.setattr(
            text_dedup, "_PREFIX_BROADCAST_INPUT_CEILING", 0
        )
        over = analyzed(spark.read.parquet(path))
        ids = [
            j for j in sc.statusTracker().getJobIdsForGroup(
                "prefix-gate-probe"
            )
            # parquet footer/schema housekeeping is not a probe job
            if not all(
                (sc.statusTracker().getStageInfo(s).name
                 if sc.statusTracker().getStageInfo(s) else "")
                .startswith("parquet at")
                for s in list(sc.statusTracker().getJobInfo(j).stageIds)
            )
        ]
    finally:
        sc.setJobGroup(None, None)
        cached.unpersist()
    assert "Hint" in hinted
    assert "Hint" in hinted_cached
    assert "Hint" not in no_files
    assert "Hint" not in over
    assert ids == []
