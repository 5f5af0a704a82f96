"""operators/ranking: distributed global order statistics must be
BIT-IDENTICAL to their single-partition window forms, stable across
repeated evaluations (the repartitionByRange prototype failed exactly
here: per-execution boundary sampling let the offsets branch and the
output branch disagree near bucket edges), and plan-clean under the
unbounded-global-window detector."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from datanika_core_spark.operators.ranking import (
    global_ntile,
    global_prefix_max,
    global_prefix_min,
    global_prefix_sum,
    global_row_number,
)
from datanika_core_spark.session import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return read_table(spark, f"{SF}/documents.parquet").select(
        "doc_id", "n_chars"
    )


def _map(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


def test_row_number_matches_single_partition_window(spark, docs):
    want = _map(
        docs.select(
            "doc_id",
            F.row_number().over(W.orderBy("n_chars", "doc_id")).alias("r"),
        ),
        "doc_id", "r",
    )
    got = _map(
        global_row_number(docs, ["n_chars", "doc_id"], "r"), "doc_id", "r"
    )
    assert got == want


def test_ntile_matches_for_uneven_k_and_desc(spark, docs):
    # k=7 does not divide the corpus evenly — exercises the
    # SQL-standard first-(n mod k)-tiles-take-one-extra fill
    want = _map(
        docs.select(
            "doc_id",
            F.ntile(7).over(
                W.orderBy(F.col("n_chars").desc(), "doc_id")
            ).alias("b"),
        ),
        "doc_id", "b",
    )
    got = _map(
        global_ntile(
            docs, [F.col("n_chars").desc(), "doc_id"], 7, "b",
            bucket_by=-F.col("n_chars"),
        ),
        "doc_id", "b",
    )
    assert got == want


def test_prefix_sum_and_max_match(spark, docs):
    base = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    want_s = _map(
        docs.select("doc_id", F.sum("n_chars").over(base).alias("s")),
        "doc_id", "s",
    )
    got_s = _map(
        global_prefix_sum(docs, ["doc_id"], "n_chars", "s"), "doc_id", "s"
    )
    assert got_s == want_s
    want_m = _map(
        docs.select("doc_id", F.max("n_chars").over(base).alias("m")),
        "doc_id", "m",
    )
    got_m = _map(
        global_prefix_max(docs, ["doc_id"], "n_chars", "m"), "doc_id", "m"
    )
    assert got_m == want_m


def test_rank_is_stable_across_evaluations(spark, docs):
    """The frozen-literal bucket boundaries make every evaluation of
    the SAME returned frame agree — the property the
    repartitionByRange + spark_partition_id prototype lacked (its
    offsets branch re-sampled boundaries per execution and mis-ranked
    rows at bucket edges)."""
    df = global_ntile(docs, ["n_chars", "doc_id"], 10, "b")
    runs = [_map(df, "doc_id", "b") for _ in range(3)]
    assert runs[0] == runs[1] == runs[2]


def test_skewed_keys_stay_exact(spark):
    """A hot key spanning several would-be buckets must co-locate
    (ties share a bucket) and still rank exactly."""
    rows = [(i, 7 if i % 3 else i) for i in range(1, 2001)]
    df = spark.createDataFrame(rows, "id long, k long")
    want = _map(
        df.select("id", F.row_number().over(W.orderBy("k", "id")).alias("r")),
        "id", "r",
    )
    got = _map(global_row_number(df, ["k", "id"], "r"), "id", "r")
    assert got == want


def test_primitives_pass_the_global_window_detector(spark, docs):
    from tools.plan_audit import unbounded_global_windows

    for frame in (
        global_row_number(docs, ["n_chars", "doc_id"], "r"),
        global_ntile(docs, ["n_chars", "doc_id"], 10, "b"),
        global_prefix_sum(docs, ["doc_id"], "n_chars", "s"),
        global_prefix_max(docs, ["doc_id"], "n_chars", "m"),
    ):
        assert unbounded_global_windows(frame) == 0
    # and the detector still catches the bad shape it exists for
    bad = docs.select(
        F.row_number().over(W.orderBy("n_chars", "doc_id")).alias("r")
    )
    assert unbounded_global_windows(bad) == 1


def test_prefix_min_inclusive_and_exclusive(spark, docs):
    for excl, hi in ((False, 0), (True, -1)):
        want = _map(
            docs.select(
                "doc_id",
                F.min("n_chars").over(
                    W.orderBy("doc_id").rowsBetween(
                        W.unboundedPreceding, hi
                    )
                ).alias("m"),
            ),
            "doc_id", "m",
        )
        got = _map(
            global_prefix_min(
                docs, ["doc_id"], "n_chars", "m", exclusive=excl
            ),
            "doc_id", "m",
        )
        assert got == want, f"exclusive={excl}"


def test_prefix_sum_null_values_match_window(spark):
    """NULL values must behave exactly like the single-partition
    window's sum: ignored unless EVERY value up to the row is NULL —
    in particular a row whose within-bucket prefix is all-NULL must
    carry the earlier buckets' running total, not go NULL (the ADVICE
    r9 divergence: reachable via weight = length(text) on NULL text).
    The values are laid out so several consecutive ids — more than one
    quantile bucket's worth at 32 partitions — are NULL."""
    rows = [
        (i, None if (200 <= i < 600 or i < 3) else i * 10)
        for i in range(1, 2001)
    ]
    df = spark.createDataFrame(rows, "id long, v long")
    base = W.orderBy("id").rowsBetween(W.unboundedPreceding, 0)
    want = _map(df.select("id", F.sum("v").over(base).alias("s")), "id", "s")
    got = _map(global_prefix_sum(df, ["id"], "v", "s"), "id", "s")
    assert got == want
    assert want[1] is None and want[2] is None  # all-NULL head stays NULL
    assert want[300] == want[199]  # mid-null run carries earlier total

    from datanika_core_spark.operators.ranking import (
        global_rank_prefix_sum,
    )

    combo = {
        r["id"]: (r["r"], r["cs"])
        for r in global_rank_prefix_sum(
            df, ["id"], "v", "r", "cs"
        ).collect()
    }
    want_r = _map(
        df.select("id", F.row_number().over(W.orderBy("id")).alias("r")),
        "id", "r",
    )
    assert combo == {i: (want_r[i], want[i]) for i in want}


def test_precomputed_boundaries_match_and_skip_rescan(spark, docs):
    """quantile_boundaries + boundaries= must be bit-identical to the
    per-frame eager scan (ANY boundary placement is exact), including
    deliberately lopsided hand-picked boundaries."""
    from datanika_core_spark.operators.ranking import quantile_boundaries

    (bn,) = quantile_boundaries(docs, ["n_chars"])
    want = _map(global_row_number(docs, ["n_chars", "doc_id"], "r"),
                "doc_id", "r")
    got = _map(
        global_row_number(docs, ["n_chars", "doc_id"], "r", boundaries=bn),
        "doc_id", "r",
    )
    assert got == want
    lopsided = _map(
        global_row_number(
            docs, ["n_chars", "doc_id"], "r", boundaries=[5.0, 50.0]
        ),
        "doc_id", "r",
    )
    assert lopsided == want

    # temp-column collision: an input already carrying _gr_qb_0 must
    # not be shadowed/overwritten by the boundary scan's cast columns
    poisoned = docs.withColumn("_gr_qb_0", F.lit(-1.0))
    (bn2,) = quantile_boundaries(poisoned, ["n_chars"])
    assert bn2 == bn
    # n_parts<=1 returns before building any temp columns
    assert quantile_boundaries(poisoned, ["n_chars"], n_parts=1) == [[]]


def test_rank_prefix_sum_combined_matches_chained(spark, docs):
    from datanika_core_spark.operators.ranking import (
        global_rank_prefix_sum,
    )

    base = W.orderBy("n_chars", "doc_id")
    want = {
        r["doc_id"]: (r["r"], r["cs"])
        for r in docs.select(
            "doc_id",
            F.row_number().over(base).alias("r"),
            F.sum("n_chars").over(
                base.rowsBetween(W.unboundedPreceding, 0)
            ).alias("cs"),
        ).collect()
    }
    got = {
        r["doc_id"]: (r["r"], r["cs"])
        for r in global_rank_prefix_sum(
            docs, ["n_chars", "doc_id"], "n_chars", "r", "cs"
        ).collect()
    }
    assert got == want
