"""ExactSubstringIndexStore: batch-parity with the one-shot
_exact_dup_spans pipeline (the r11 pin), idempotent replay, at-arrival
probe semantics, and summary rebuild — on a planted corpus whose edge
classes are explicit, plus the real sf0.001 injected corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datanika_core_spark.operators.substring_store import (
    ES_K,
    ExactSubstringIndexStore,
)
from datanika_core_spark.operators.writers import drop_table
from datanika_core_spark.workloads.text_dedup import (
    _corpus_neardup,
    _exact_dup_spans,
)

SF = "/root/testdata/sf0.001"

#: d1 unique; d2/d3 share a 40-char verbatim block (one island each);
#: d4 below the k floor (never indexed); d5 duplicates d1 ENTIRELY
#: (both fully covered once d5 arrives — but only d5 sees it at
#: arrival time if d1 came earlier).
SHARED = "the quick brown fox jumps over the dog!"
D1 = "totally original text nobody else ever wrote down here"
DOCS = [
    (1, D1),
    (2, "prefix junk one " + SHARED + " suffix alpha"),
    (3, "other junk bits " + SHARED + " different tail"),
    (4, "tiny"),
    (5, D1),
]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _spanset(df):
    return sorted(
        (r["doc_id"], r["n"], r["lo"], r["hi"]) for r in df.collect()
    )


@pytest.fixture()
def store(spark, request):
    name = f"t_es_{abs(hash(request.node.name)) % 10 ** 8}"
    for sfx in ("", "_docs", "_hsum", "_hsum_stage"):
        drop_table(spark, f"{name}{sfx}")
    return ExactSubstringIndexStore(spark, name, ES_K)


def test_full_readout_matches_oneshot_planted(spark, store):
    """spans() after two arrivals == the one-shot pipeline over the
    union — including the doc the SECOND batch retro-flags (d1's full
    coverage only exists because d5 arrived later)."""
    b0, b1 = DOCS[:3], DOCS[3:]
    store.update(_mk(spark, b0))
    store.update(_mk(spark, b1))
    got = _spanset(store.spans())
    want = _spanset(_exact_dup_spans(_mk(spark, DOCS)))
    assert got == want
    # d1 and d5 fully covered; d4 absent (below the k floor)
    docs = {d for d, *_ in got}
    assert {1, 2, 3, 5} == docs


def test_replay_appends_nothing_and_changes_nothing(spark, store):
    b0 = DOCS[:3]
    n1 = store.update(_mk(spark, b0))
    assert n1 > 0
    before = _spanset(store.spans())
    assert store.update(_mk(spark, b0)) == 0  # idempotent
    assert _spanset(store.spans()) == before
    assert _spanset(store.probe(_mk(spark, b0))) == before


def test_probe_is_at_arrival_not_retroactive(spark, store):
    """After batch 0 (d1 alone has no duplicate), probe(d1) is empty;
    after d5 arrives, probe(d5) sees the full-doc span but the
    AT-ARRIVAL batch-0 readout never did — while the full spans()
    readout retro-flags d1 too."""
    store.update(_mk(spark, [DOCS[0]]))
    assert _spanset(store.probe(_mk(spark, [DOCS[0]]))) == []
    store.update(_mk(spark, [DOCS[4]]))
    p5 = _spanset(store.probe(_mk(spark, [DOCS[4]])))
    n = len(D1)
    assert p5 == [(5, n, 1, n)]
    assert _spanset(store.spans()) == [(1, n, 1, n), (5, n, 1, n)]


def test_rebuild_summary_recovers_from_stale_state(spark, store):
    store.update(_mk(spark, DOCS))
    want = _spanset(store.spans())
    spark.sql(f"DROP TABLE IF EXISTS {store.summary_table}")
    store.rebuild_summary()
    assert _spanset(store.spans()) == want


def test_full_readout_matches_oneshot_sf0001(spark, store):
    """The real injected corpus, ingested in the workload's three
    batches: full-store readout == one-shot, bit-identical."""
    corpus = _corpus_neardup(spark, SF).select("doc_id", "text")
    for lo, hi in ((0, 250), (250, 20000), (20000, 10 ** 9)):
        store.update(
            corpus.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
        )
    assert _spanset(store.spans()) == _spanset(_exact_dup_spans(corpus))


def test_incremental_workload_builds_do_not_share_tables(spark):
    """Two concurrent builds of the incremental workload on one session
    each equal a lone build, and none leaves an index table behind."""
    from concurrent.futures import ThreadPoolExecutor

    from datanika_core_spark.workloads.text_dedup import (
        dedup_exact_substring_incremental,
    )

    def build():
        return sorted(
            tuple(r) for r in dedup_exact_substring_incremental(spark, SF)
            .collect()
        )

    lone = build()
    with ThreadPoolExecutor(2) as pool:
        both = [f.result() for f in [pool.submit(build) for _ in range(2)]]
    assert both == [lone, lone]
    assert [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("wl_es_index")
    ] == []
