"""Plan-quality regression guard: no registry workload may plan a
cartesian product or an unbounded global window (checked live over
the whole registry), and shape-specific pins keep join-heavy queries
on their dimension broadcasts, equi-joins and single-pass shapes — a
plan regression (lost pushdown, join degrading to nested-loop) fails
the suite instead of silently shipping. Every plan is the AQE-off
static plan from tools/plan_audit.py.
"""

from __future__ import annotations

import pytest

from datanika_core_spark.workloads import load_all
from tools.plan_audit import (
    GATING,
    aqe_off,
    plan_flags,
    plan_text,
    sweep,
    unbounded_global_windows,
)

SF = "/root/testdata/sf0.001"

# intentional BroadcastNestedLoop: exact kNN broadcasts the tiny query
# set into a non-equi scan — the documented exact baseline; BM25 and
# the unigram-perplexity scorer cross-join a ONE-row broadcast frame
# (corpus stats / LM prob map) into the scan — a 1-row build side,
# not a quadratic join.
BNL_ALLOWED = {"knn_cosine_topk", "bm25_topk_docs",
               "perplexity_unigram_score",
               # 1-row corpus-size frame (N) broadcast into the scan
               "tfidf_topk_terms",
               # 1-row dangling-mass frame cross-joined per iteration
               "pagerank_event_transitions",
               # 1-row BM25 stats broadcast + a non-equi query-vs-self
               # guard on the tiny semantic branch
               "hybrid_search_rrf",
               # three 1-row summary frames (counts, triangles, open
               # triads) cross-joined for the single output row
               "graph_triangle_count",
               # same shape: 1-row sampled-count/triangles/shared-edge
               # frames cross-joined for the single output row
               "graph_triangle_doulion"}

# queries whose plan must contain dimension broadcasts
MUST_BROADCAST = {
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_orders",
    "dedup_minhash_lsh",
    # benchmark shingle set must broadcast (never shuffle the corpus
    # against it)
    "decontaminate_ngram_overlap",
    # the composite pipeline embeds the same broadcast joins
    "corpus_curation_pipeline",
    # right side semi-pruned via a broadcast of left keys
    "asof_join_click_purchase",
    # the ≤1024-row bloom word table must broadcast into the probe
    "bloom_dedup_incoming_batch",
}


class _Plans(dict):
    """name -> plan_text of a registry workload at SF, each built once
    (the registry sweep fills it; a test run alone builds on demand)."""

    def __init__(self, spark):
        super().__init__()
        self.spark = spark
        self.registry = load_all()

    def __missing__(self, name: str) -> str:
        with aqe_off(self.spark):
            text = plan_text(self.registry[name].fn(self.spark, SF))
        self[name] = text
        return text


@pytest.fixture(scope="module")
def plans(spark):
    return _Plans(spark)


@pytest.fixture(scope="module")
def flags(spark, plans):
    """``sweep`` flags of every registry entry at SF, computed once;
    the sweep also fills the plan memo for the shape pins below."""
    return sweep(
        spark, SF, on_plan=lambda n, df: plans.__setitem__(n, plan_text(df))
    )


def _cartesian_or_failed(flags, names):
    return [
        n for n in names if "error" in flags[n] or flags[n].get("cartesian")
    ]


def test_registry_has_no_cartesian_or_unbounded_global_window(flags):
    """Every registry entry plans at SF, with no CartesianProduct and
    no unbounded global window (a partition-less Window that can see
    a source scan with no intervening aggregate — the
    single-partition-sort shape that cannot survive a 100x scale-up).
    Runs first so the shape pins below reuse its plan texts."""
    bad = {
        n: f for n, f in flags.items()
        if "error" in f or any(f.get(d) for d in GATING)
    }
    assert bad == {}


def test_plans_all_has_zero_unbounded_global_windows(flags):
    """The sweep covers the whole registry and no entry plans an
    unbounded global window; a workload that reintroduces a bare
    Window.orderBy over a corpus frame fails here instead of
    silently shipping."""
    assert len(flags) > 300
    bad = [
        n for n, f in flags.items() if "error" in f or f.get("global_window")
    ]
    assert bad == []


def test_no_cartesian_products(flags, plans):
    headline = [n for n, wl in plans.registry.items() if wl.headline]
    assert _cartesian_or_failed(flags, headline) == []


def test_no_unexpected_nested_loop_joins(plans):
    offenders = [
        n for n, wl in load_all().items()
        if wl.headline and "BroadcastNestedLoopJoin" in plans[n]
        and n not in BNL_ALLOWED
    ]
    assert offenders == []


def test_dimension_joins_stay_broadcast(plans):
    missing = [
        n for n in MUST_BROADCAST
        if "BroadcastHashJoin" not in plans[n]
    ]
    assert missing == []


def test_tpch_scans_keep_pushed_filters(plans):
    for name in ("q3_shipping_priority", "q6_forecast_revenue",
                 "q10_returned_items"):
        assert "PushedFilters: [" in plans[name], name


# ---------------------------------------------------------------------------
# Pins for the round-5/6 workload families.
# ---------------------------------------------------------------------------

_NEW_FAMILIES = [
    "dedup_winnowing_fingerprints",
    "dedup_winnowing_df_capped",
    "dedup_ppjoin_positional",
    "graph_triangle_doulion_multi_p",
    "zorder_file_skipping",
    "quantile_tdigest_export",
    "ivm_additive_rollup",
    "ivm_join_delta",
]


def test_new_families_no_cartesian(flags):
    assert _cartesian_or_failed(flags, _NEW_FAMILIES) == []


def test_winnowing_probe_is_equi_join(plans):
    """The winnowing candidate probe must pair docs through a HASH
    equi-join on the fingerprint — never a nested-loop over doc
    pairs (that is the all-pairs blowup the fingerprint index
    exists to avoid)."""
    for name in ("dedup_winnowing_fingerprints",
                 "dedup_winnowing_df_capped"):
        p = plans[name]
        assert "HashJoin" in p or "SortMergeJoin" in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_doulion_coin_before_distinct_shuffle(spark):
    """The sampling coin must evaluate map-side BEFORE the distinct's
    Exchange — the whole point of DOULION is that the one
    full-pair-stream shuffle only moves ~p of the pairs. The final
    workload plan can't show this (the sampled edge list is an eager
    localCheckpoint, so its producing job is opaque there); pin the
    producing pipeline directly: in its plan text the coin Filter
    (LCG constant 48271) must sit BELOW the dedup Exchange, i.e.
    upstream of it."""
    from pyspark.sql import functions as F

    from datanika_core_spark.workloads import t as read_t
    from datanika_core_spark.workloads.graph import _dln_coin16

    li = read_t(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("v"))
    sampled = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .filter(F.expr(_dln_coin16("u", "v")) % 4 == 0)
        .select("u", "v")
        .distinct()
    )
    with aqe_off(spark):
        plan = sampled._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    coin_lines = [i for i, l in enumerate(lines) if "48271" in l]
    exch_lines = [i for i, l in enumerate(lines)
                  if "Exchange hashpartitioning(u" in l]
    assert coin_lines and exch_lines
    # plan text lists consumers first: the coin filter appearing
    # AFTER (greater index than) the dedup Exchange means it runs
    # in the map stage feeding that shuffle
    assert min(coin_lines) > min(exch_lines), plan[:2000]


def test_zorder_lims_stay_broadcast(plans):
    """The 1-row min/max quantization-limits frame must reach the
    point table as a BROADCAST nested-loop (1-row build side), never
    a shuffled join or cartesian."""
    p = plans["zorder_file_skipping"]
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_tdigest_and_ivm_shapes(plans):
    """t-digest export: sketch merge is an aggregation, not a join
    explosion (no nested-loop anywhere). IVM delta legs: dimension
    sides broadcast; the state table is never recomputed through a
    cartesian."""
    assert ("BroadcastNestedLoopJoin"
            not in plans["quantile_tdigest_export"])
    for name in ("ivm_additive_rollup", "ivm_join_delta"):
        assert "CartesianProduct" not in plans[name], name
    assert "BroadcastHashJoin" in plans["ivm_join_delta"]


# ---------------------------------------------------------------------------
# Pins for the round-6 additions (dq profile, bucketed batching,
# MRR/MAP, mutual information).
# ---------------------------------------------------------------------------

_R6B_FAMILIES = [
    "dq_profile_orders",
    "pack_length_bucketed_batches",
    "eval_mrr_map_ranking",
    "mi_lang_source",
]


def test_r6b_no_cartesian(flags):
    assert _cartesian_or_failed(flags, _R6B_FAMILIES) == []


def test_bucketed_batching_is_joinless_single_agg(plans):
    """The bucket ladder must stay a scan-stage projection feeding
    one aggregate — any Join in this plan means the ladder degraded
    to a lookup. (The orderBy adds a range Exchange; the groupBy adds
    exactly one hash Exchange.)"""
    p = plans["pack_length_bucketed_batches"]
    assert "Join" not in p
    assert p.count("hashpartitioning(") == 1, p[:1500]


def test_mrr_map_relevance_join_not_nested_loop(plans):
    """The twin candidate scans legitimately broadcast the tiny query
    set (non-equi, same as kNN/NDCG); the relevance join between the
    two ≤(queries×k)-row rank lists must be an equi-join."""
    p = plans["eval_mrr_map_ranking"]
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_mi_marginal_joins_stay_broadcast(plans):
    """PMI joins against the lang/source marginal frames must
    broadcast (they are ≤|langs| and ≤|sources| rows)."""
    p = plans["mi_lang_source"]
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dq_profile_no_nested_loop(plans):
    """The stats⋈top join runs on |cols|-row frames — any plan is
    cheap, but it must never be a nested loop over the unpivoted
    corpus."""
    assert "BroadcastNestedLoopJoin" not in plans["dq_profile_orders"]


# ---------------------------------------------------------------------------
# Pins for the MMR / k-hop BFS / conformal additions.
# ---------------------------------------------------------------------------

_R6C_FAMILIES = [
    "mmr_diversified_topk",
    "graph_khop_reach",
    "conformal_interval_events",
]


def test_r6c_no_cartesian(flags):
    assert _cartesian_or_failed(flags, _R6C_FAMILIES) == []


def test_khop_frontier_joins_are_hash_equi(plans):
    """Every hop's frontier expansion and visited anti-join must be
    HASH equi-joins (broadcast) — a nested loop over the edge list
    would be the all-pairs blowup BFS exists to avoid. (Hops 1-2 are
    behind RollingCheckpoint scans; hop 3's joins are visible in the
    final plan.)"""
    p = plans["graph_khop_reach"]
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_mmr_pool_scan_is_knn_shape(plans):
    """The pool build legitimately broadcasts the tiny query set
    into a non-equi candidate scan (the documented kNN exception);
    the pairwise-sim join and the Arrow fold must not introduce a
    cartesian, and the fold must be Arrow-batched (FlatMapGroups...
    InPandas), not a row-at-a-time Python UDF."""
    p = plans["mmr_diversified_topk"]
    assert "FlatMapGroupsInPandas" in p
    assert "BatchEvalPython" not in p


def test_conformal_joins_stay_broadcast(plans):
    """Calibration stats (|event types| rows) must broadcast into
    both the residual-quantile and the coverage scans."""
    p = plans["conformal_interval_events"]
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


# --------------------------------------------------------------------------
# round 7 (rewritten r11): the exact triangle count's closure probe
# used to be a FULL-EDGE-LIST broadcast gated on a pair bound; the
# r11 compact-forward rewrite removed the closure join entirely, so
# the plan must carry NO static broadcast hint anywhere (the only
# broadcasts allowed are planner-chosen ones, which AQE can demote),
# no cartesian product, and it must stay executable with AQE off —
# the "works at any scale without the hint" property the old gate
# existed to protect.
# --------------------------------------------------------------------------


def test_triangle_compact_forward_no_static_broadcast(spark):
    reg = load_all()
    df = reg["graph_triangle_count"].fn(spark, SF)
    # the kernel carries zero broadcast() hints (planner stays free
    # to pick shuffled joins when the graph outgrows memory). r12
    # ADVICE fix: EliminateResolvedHint strips ResolvedHint from
    # EVERY optimizedPlan(), so asserting its absence there was
    # vacuous — a reintroduced F.broadcast() would have passed. The
    # hint IS visible in the ANALYZED plan (pre-optimizer) and as
    # `strategy=broadcast` join-hint metadata in the optimized plan,
    # so pin both of those instead.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized
    assert "CartesianProduct" not in plan_text(df)
    # the kernel is join-correct without AQE's runtime rewrites too
    with aqe_off(spark):
        row = reg["graph_triangle_count"].fn(spark, SF).collect()[0]
    assert row.n_triangles > 0


# --------------------------------------------------------------------------
# round 7: plan pins for the new workload families.
# --------------------------------------------------------------------------

_R7_FAMILIES = [
    "pca_top_component",
    "keyword_textrank",
    "events_twap_daily",
    "weighted_median_price_brand",
    "privacy_t_closeness",
    "theil_sen_daily_trend",
    "interval_overlap_supplier_transit",
    "heavy_hitters_misra_gries",
    "abtest_mann_whitney_u",
    "source_divergence_jsd",
    "collocation_pmi_bigrams",
    "drift_ks_two_period",
    "token_typo_pairs_fastss",
    "zorder_skip_rate_sampled",
]


def test_r7_no_cartesian(flags):
    assert _cartesian_or_failed(flags, _R7_FAMILIES) == []


def test_r7_no_python_row_udfs(plans):
    """Everything new stays JVM-side: no row-at-a-time Python eval
    anywhere in the round-7 plans."""
    for name in _R7_FAMILIES:
        assert "BatchEvalPython" not in plans[name], name


def test_textrank_iterations_on_reduced_graph(plans):
    """TextRank's final plan must show broadcast rank-vector joins
    (the reduced-graph iteration shape shared with PageRank), and the
    rank vector must come from RollingCheckpoint scans rather than a
    re-derived lineage."""
    p = plans["keyword_textrank"]
    assert "BroadcastHashJoin" in p
    assert "Scan ExistingRDD" in p  # the checkpointed rank vector


def test_pca_gram_is_single_scan(spark):
    """The PCA gram matrix must be ONE aggregation over ONE scan of
    embeddings (explode by dim + 64 sums, combiner-collapsed) — the
    driver-side iterations contribute nothing (the workload's own
    returned frame is the 64-row driver result)."""
    from datanika_core_spark.workloads.similarity import _pca_gram_frame

    p = plan_text(_pca_gram_frame(spark, SF))
    # formatted explain prints each node twice (tree line + detail
    # block), so one physical node == two text occurrences
    assert p.count("Scan parquet") == 2
    assert "HashAggregate" in p
    assert p.count("Exchange") == 2  # exactly the one 64-group shuffle


def test_fastss_probe_is_equi_join(plans):
    """The FastSS candidate join must be a hash equi-join on the
    deletion key — an all-pairs token comparison would be the exact
    blowup the deletion index exists to avoid."""
    p = plans["token_typo_pairs_fastss"]
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p \
        or "BroadcastHashJoin" in p


def test_jsd_single_pass_shape(plans):
    """JSD computes from the source's own token rows only: the
    token-count scan appears once for the counts chain (Spark may
    re-scan for the reused branches but never expands source x
    vocabulary) and the totals attach as broadcasts."""
    p = plans["source_divergence_jsd"]
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_interval_overlap_is_binned_equi_join(plans):
    """The overlap self-join must meet on the (supplier, week)
    equi-key — a nested-loop inequality join is the all-pairs blowup
    the week binning exists to avoid."""
    p = plans["interval_overlap_supplier_transit"]
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p \
        or "BroadcastHashJoin" in p


def test_theil_sen_pairs_join_on_type(plans):
    """The pairwise-slope join runs over the DAILY aggregate, keyed
    per event type — never over raw events."""
    p = plans["theil_sen_daily_trend"]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_weighted_median_dimension_broadcast(plans):
    """The part-brand dimension must broadcast into the lineitem
    scan; the median selection is windows over the collapsed
    (brand, cent) grid."""
    p = plans["weighted_median_price_brand"]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


# --------------------------------------------------------------------------
# Round-7 batch-5 families (PCA deflation, isotonic PAV, Poisson
# bootstrap, CUPED, binseg changepoint, HHI).
# --------------------------------------------------------------------------

_R7B_FAMILIES = [
    "calibration_isotonic_pav",
    "bootstrap_ci_poisson",
    "abtest_cuped_readout",
    "events_binseg_changepoint",
    "market_hhi_concentration",
    "feature_target_encoding_oof",
    "multiple_testing_bh",
]


def test_r7b_no_cartesian_no_python_udfs(flags, plans):
    assert _cartesian_or_failed(flags, _R7B_FAMILIES) == []
    for name in _R7B_FAMILIES:
        assert "BatchEvalPython" not in plans[name], name


def test_isotonic_pair_join_is_equi_on_lang(plans):
    """The g² PAV pair expansion must meet on the lang equi-key over
    the collapsed score grid — never a nested loop over documents."""
    p = plans["calibration_isotonic_pav"]
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p \
        or "BroadcastHashJoin" in p


def test_bootstrap_replicates_never_join(plans):
    """The ×R replicate expansion is a map-side explode folded by one
    grid aggregate; the only join is the |groups|-row point-estimate
    attach."""
    p = plans["bootstrap_ci_poisson"]
    assert "Generate" in p          # the explode
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p


def test_cuped_is_joinless_single_chain(plans):
    """CUPED adds covariate moments to the SAME per-user groupBy —
    the whole readout is aggregate-over-aggregate with no join."""
    assert "Join" not in plans["abtest_cuped_readout"]


def test_binseg_is_joinless_windows_on_grid(plans):
    """Binary segmentation is windows over the |types|×|days| grid:
    no joins anywhere in the plan."""
    p = plans["events_binseg_changepoint"]
    assert "Join" not in p
    assert "Window" in p


def test_hhi_dimension_joins_broadcast(plans):
    """supplier and nation must broadcast into the lineitem scan."""
    p = plans["market_hhi_concentration"]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_target_encoding_single_pass_grid(plans):
    """The k-fold OOF encoding must be ONE fact scan: cell grid via
    groupBy, leave-one-out via window subtraction — never k scans."""
    p = plans["feature_target_encoding_oof"]
    assert p.count("Scan parquet /root/testdata") <= 6  # orders+cust+nation ×2 (tree+detail)
    assert "Window" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bh_correction_is_window_only(plans):
    """After the one moment groupBy, the entire BH procedure is
    window functions on |types| rows — no joins."""
    p = plans["multiple_testing_bh"]
    assert "Join" not in p
    assert "Window" in p


# --------------------------------------------------------------------------
# Round-7 batch-6 families (Shapley attribution, Markov horizon, DiD).
# --------------------------------------------------------------------------


def test_shapley_grid_is_single_scan(spark):
    """The distributed half of the Shapley workload must be ONE
    events scan collapsed to the ≤16-row mask grid (per-user groupBy
    then mask groupBy — two Exchanges, no joins); the lattice
    arithmetic is driver integers."""
    from datanika_core_spark.workloads.attribution import _shapley_grid

    p = plan_text(_shapley_grid(spark, SF))
    assert p.count("Scan parquet") == 2  # tree line + detail block
    assert "Join" not in p
    assert p.count("Exchange") == 4  # user shuffle + mask shuffle, ×2


def test_did_is_joinless_single_chain(plans):
    """DiD is aggregate-over-aggregate on (user, period) — no joins,
    four-cell wide aggregate."""
    p = plans["abtest_did_readout"]
    assert "Join" not in p


def test_eigenvector_iteration_shape(spark, plans):
    """The eigenvector-centrality plan must show the PageRank
    iteration shape: broadcast rank-vector joins over the cached
    symmetric edges, RollingCheckpoint scans between rounds (the
    final plan is one-iteration deep), the 1-row norm frame as the
    only nested-loop build side, and no cartesian."""
    p = plans["graph_eigenvector_centrality"]
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed rank vector
    # the per-iteration join shape is opaque behind the checkpoint;
    # pin it directly: rank vector broadcast onto the edges equi-join
    from pyspark.sql import functions as F

    from datanika_core_spark.workloads import t as read_t

    items = read_t(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    sym = (
        a.join(b, "l_orderkey").filter(F.col("u") < F.col("v"))
        .groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
    )
    x = sym.select(F.col("u").alias("node")).distinct() \
        .withColumn("x", F.lit(1.0))
    it_plan = plan_text(
        sym.join(F.broadcast(x), sym.u == x.node)
        .groupBy(F.col("v").alias("node"))
        .agg(F.sum(F.col("w") * F.col("x")).alias("r"))
    )
    assert "BroadcastHashJoin" in it_plan
    assert "CartesianProduct" not in it_plan


def test_pinball_forecast_grid_broadcasts(plans):
    """The |types|×7 forecast grid must broadcast onto the test
    rows; everything else is windows on the daily grid."""
    p = plans["forecast_pinball_eval"]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_dp_release_is_joinless(plans):
    """DP release = one distinct-count groupBy + constant fan-out +
    windows: no joins."""
    p = plans["privacy_dp_laplace_release"]
    assert "Join" not in p
    assert "Generate" in p  # the ×releases explode


def test_bigram_lm_scoring_is_equi_joins(plans):
    """Model application = equi-joins of the test bigram stream onto
    the count tables; the only nested-loop is the 1-row totals
    broadcast."""
    p = plans["perplexity_bigram_interpolated"]
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p \
        or "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_kcenter_round_update_is_map_only(spark):
    """One k-center round = a least() against 64 literal ints — the
    update plan must contain NO join and NO shuffle beyond the scan
    (the chosen center travels inside the expression)."""
    from pyspark.sql import functions as F

    from datanika_core_spark.workloads import t as read_t

    vecs = read_t(spark, SF, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(round(cast(x as double)"
            " * 1000) as bigint))"
        ).alias("q"),
    ).withColumn("d", F.lit(0).cast("bigint"))
    lits = ",".join("0L" for _ in range(64))
    upd = vecs.select(
        "vec_id", "q",
        F.least(
            F.col("d"),
            F.expr(
                f"aggregate(zip_with(q, array({lits}),"
                " (a, b) -> (a - b) * (a - b)),"
                " cast(0 as bigint), (acc, x) -> acc + x)"
            ),
        ).alias("d"),
    )
    p = plan_text(upd)
    assert "Join" not in p
    assert "Exchange" not in p  # map-only


def test_max_coverage_round_is_anti_join(spark):
    """One coverage round = broadcast anti-join of the incidence
    against the covered set + counted groupBy — no cartesian, no
    nested loop."""
    from pyspark.sql import functions as F

    from datanika_core_spark.operators.minhash import with_shingles
    from datanika_core_spark.workloads import t as read_t

    ds = (
        with_shingles(
            read_t(spark, SF, "documents").select("doc_id", "text")
        )
        .select("doc_id", F.explode("shingles").alias("sh"))
        .distinct()
    )
    covered = ds.filter(F.col("doc_id") == 0).select("sh")
    gains = (
        ds.join(F.broadcast(covered), "sh", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("gain"))
    )
    p = plan_text(gains)
    assert "BroadcastHashJoin" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_stl_is_windows_plus_broadcast_seasonal(plans):
    """STL = windows over the daily grid + a broadcast of the
    |types|×7 seasonal table; no cartesian, no Python eval."""
    p = plans["events_stl_decomposition"]
    assert "Window" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_wasserstein_pair_expansion_stays_grid_sized(plans):
    """The pair lattice joins are broadcast over the collapsed
    (type, cent) grid — never a cartesian over events."""
    p = plans["dist_wasserstein_1d_pairs"]
    assert "CartesianProduct" not in p
    assert "Window" in p
    # the (type, cent) grid is localCheckpoint-materialized once, so
    # the totals and pair branches re-read it instead of re-scanning
    # events: the final plan has ZERO parquet scans
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p


def test_label_propagation_round_shape(plans):
    """The workload's final plan reads checkpointed label/edge frames
    (ExistingRDD) with broadcast vote joins — no cartesian, no Python
    row eval. The all-pairs kNN is the documented exact baseline; the
    scale path swaps in IVF posting lists for the same edge table."""
    p = plans["ssl_label_propagation"]
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "Scan ExistingRDD" in p


# ---------------------------------------------------------------------------
# Pins for the round-7 session-3 additions (link prediction, binary
# ANN, PRF retrieval, NB classifier, FS linkage, GBDT kernel, ...).
# ---------------------------------------------------------------------------

_R7S3_FAMILIES = [
    "link_prediction_adamic_adar",
    "graph_local_clustering",
    "embedding_binary_sign_hamming",
    "search_prf_rocchio",
    "classifier_naive_bayes_source",
    "record_linkage_fellegi_sunter",
    "gbdt_histogram_split",
    "lm_kneser_ney_bigram",
    "table_fingerprint_xor",
    "dedup_marginal_rate_by_batch",
    "stats_equidepth_histogram",
    "abtest_permutation_test",
    "privacy_randomized_response",
    "events_out_of_order_depth",
    "events_user_lifecycle",
    "shard_rebalance_hrw",
    "feature_woe_iv_binning",
    "anomaly_histogram_density",
    "eval_decile_lift",
    "uplift_qini_by_decile",
    "graph_harmonic_centrality",
    "fit_zero_inflated_poisson",
    "timeseries_cross_correlation",
    "corpus_heaps_law",
    "dedup_bcubed_cluster_eval",
    "cluster_davies_bouldin",
    "lm_greedy_bigram_decode",
    "compaction_plan_advisor",
    "linkage_reciprocal_best",
    "trajectory_similarity_topk",
    "text_sentiment_lexicon",
    "multimodal_scene_segmentation",
]


def test_r7s3_no_cartesian(flags):
    assert _cartesian_or_failed(flags, _R7S3_FAMILIES) == []


def test_adamic_adar_wedges_are_equi_joins(plans):
    """Wedge enumeration and the existing-edge anti-join must both
    be hash equi-joins — a nested loop over the adjacency list is
    the quadratic failure the degree cap exists to prevent."""
    p = plans["link_prediction_adamic_adar"]
    assert "HashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_binary_hamming_query_side_broadcasts(plans):
    """The Hamming scan pairs the corpus against the ≤|Q|-row query
    frame under a non-equi condition — that must be a broadcast
    nested loop over the TINY side (the kNN convention), never a
    shuffled product."""
    p = plans["embedding_binary_sign_hamming"]
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_prf_index_joins_are_hash_joins(plans):
    """Both scoring passes equi-join the (doc, term, tf) inverted
    index against broadcast term/stat frames."""
    p = plans["search_prf_rocchio"]
    assert "BroadcastHashJoin" in p


def test_fingerprint_is_joinless_single_agg(plans):
    """The xor fingerprint must stay scan → one hash aggregate —
    any Join or extra exchange means the fold degraded."""
    p = plans["table_fingerprint_xor"]
    assert "Join" not in p


def test_gbdt_and_woe_histograms_join_broadcast_ranges(plans):
    """Feature binning joins each stacked row against the
    |features|-row min/max frame — must broadcast."""
    for name in ("gbdt_histogram_split", "feature_woe_iv_binning",
                 "anomaly_histogram_density"):
        p = plans[name]
        assert "BroadcastHashJoin" in p, name


# --------------------------------------------------------------------------
# Round-8 additions: targeted shape pins for the new families.
# --------------------------------------------------------------------------

_R8_FAMILIES = [
    "stats_cramers_v",
    "stats_ljung_box",
    "abtest_group_sequential",
    "bandit_ucb1_daily_choice",
    "eval_pass_at_k",
    "interval_union_coverage",
    "quality_gopher_wordlevel",
    "ccnet_perplexity_buckets",
    "curation_dsir_importance",
    "text_keyphrase_rake",
    "pack_ffd_compaction",
    "graph_kcore_bounded",
    "stats_runs_test",
    "stats_hodges_lehmann",
    "survival_nelson_aalen",
    "cohort_retention_triangle",
    "timeseries_hurst_exponent",
    "drift_page_hinkley",
    "text_mattr_diversity",
    "curation_dsir_kl_diagnostics",
    "stats_mann_kendall",
    "sample_pps_ht_estimate",
]


def test_r8_no_cartesian(flags):
    assert _cartesian_or_failed(flags, _R8_FAMILIES) == []


def test_hodges_lehmann_pairs_are_type_equi_join(plans):
    """The pair lattice joins the two dollar-bin grids on event_type
    (a hash equi-join over range-bounded frames) — a nested loop
    here means the collapsed-grid trick silently degraded to
    all-pairs."""
    p = plans["stats_hodges_lehmann"]
    assert "HashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_runs_test_is_joinless(plans):
    """The runs test runs entirely on the daily grid: scan → day
    groupBy → windows. Any join is a regression."""
    assert "Join" not in plans["stats_runs_test"]


def test_page_hinkley_joins_only_the_type_grid(plans):
    """Page-Hinkley's only join is the final inc/dec readout merge
    on event_type (|types| rows, broadcast); the corpus never joins
    anything."""
    p = plans["drift_page_hinkley"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hurst_blocks_stay_joinless_until_slope(plans):
    """Hurst = one hourly groupBy, block windows, and ONE 4-row
    slope broadcast back onto the points — no shuffled join and
    no cartesian over the hourly grid."""
    p = plans["timeseries_hurst_exponent"]
    assert "SortMergeJoin" not in p


def test_dsir_kl_grid_joins_broadcast(plans):
    """The dense source × bucket grid left-joins per-source and
    target bucket counts — both must broadcast (each ≤ |sources|·B
    rows); the target distribution is 1024 rows by construction."""
    p = plans["curation_dsir_kl_diagnostics"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_mattr_contributions_are_window_only(plans):
    """MATTR's one-pass contribution formula needs exactly the
    (doc, term) lag window and the per-doc length window — the
    per-window token expansion it replaces would appear as a join
    or explode-driven shuffle growth."""
    p = plans["text_mattr_diversity"]
    assert "Window" in p
    assert "SortMergeJoin" not in p


def test_retention_triangle_sizes_broadcast(plans):
    """Cohort sizes (≤ |weeks| rows) must broadcast into the
    triangle; the activity-firsts join shuffles on user_id (the
    natural key) and must stay an equi-join."""
    p = plans["cohort_retention_triangle"]
    assert "BroadcastHashJoin" in p
    # the only nested-loop is the 1-row window-origin broadcast (the
    # scalar cross-join convention); a real product would surface as
    # CartesianProduct, pinned registry-wide above
    assert "CartesianProduct" not in p


def test_mann_kendall_pairs_join_on_type(plans):
    """The |days|² pair comparison must hash-join on event_type
    (day inequality as a post-filter) — never a nested loop over
    the daily grid."""
    p = plans["stats_mann_kendall"]
    assert "HashJoin" in p or "SortMergeJoin" in p
    assert "CartesianProduct" not in p


def test_ht_estimate_has_no_shuffled_join(plans):
    """HT estimation adds only a 1-row truth broadcast to the
    sampler's prefix-sum plan — any SortMergeJoin means the winner
    set got joined the expensive way."""
    assert "SortMergeJoin" not in plans["sample_pps_ht_estimate"]


# ---------------------------------------------------------------------------
# Detector unit tests: one planted flagged frame and one clean frame each.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    from datanika_core_spark.session import read_table

    return read_table(spark, f"{SF}/documents.parquet")


def test_detector_classifies_cached_aggregates_as_bounded(docs):
    """A global window over a CACHED aggregate (the readout-grid
    cache pattern, e.g. mi_lang_source's contingency table) is
    bounded — the detector must look through InMemoryRelation
    instead of flagging it; a cached raw scan still flags."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    grid = docs.groupBy("lang").count().cache()
    try:
        ok = grid.select(
            "lang", F.sum("count").over(
                W.orderBy("lang").rowsBetween(W.unboundedPreceding, 0)
            ).alias("c"),
        )
        assert unbounded_global_windows(ok) == 0
    finally:
        grid.unpersist()
    raw = docs.select("doc_id", "n_chars").cache()
    try:
        bad = raw.select(
            F.row_number().over(W.orderBy("n_chars", "doc_id")).alias("r")
        )
        assert unbounded_global_windows(bad) == 1
    finally:
        raw.unpersist()


def test_detector_broadcast_over_generate(docs):
    """A broadcast build side fed straight by an explode flags; the
    same explode re-bounded by an aggregate before the broadcast is
    clean (and the un-broadcast explode on the stream side never
    counts)."""
    from pyspark.sql import functions as F

    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    raw = docs.join(F.broadcast(toks), "doc_id")
    assert plan_flags(raw).get("broadcast_over_generate") == 1
    grouped = toks.join(F.broadcast(toks.groupBy("tok").count()), "tok")
    assert "broadcast_over_generate" not in plan_flags(grouped)


def test_detector_sort_first(docs):
    """A global sort straight over a scan stage flags (its range
    sampler re-runs the whole subtree); a global sort above another
    shuffle is clean (the sampler re-reads shuffle files)."""
    from pyspark.sql import functions as F

    scan_sorted = docs.select(
        "doc_id", F.length("text").alias("n")
    ).orderBy("n")
    assert plan_flags(scan_sorted).get("sort_first") == 1
    agg_sorted = docs.groupBy("lang").count().orderBy("lang")
    assert "sort_first" not in plan_flags(agg_sorted)


def test_detector_subset_exchange(docs):
    """An aggregate keyed (lang) over one keyed (lang, doc_id) shuffles
    twice and flags; pre-shuffling on (lang) lets both aggregates
    share one exchange, which is clean."""
    two = (docs.groupBy("lang", "doc_id").count()
           .groupBy("lang").count())
    assert plan_flags(two).get("subset_exchange") == 1
    one = (docs.repartition("lang").groupBy("lang", "doc_id").count()
           .groupBy("lang").count())
    assert "subset_exchange" not in plan_flags(one)


# --------------------------------------------------------------------------
# Round-9 and round-10 families.
# --------------------------------------------------------------------------

_R9_FAMILIES = [
    "skyline_price_size_parts",
    "events_value_lorenz_gini",
    # graph_coreness_ladder is a driver-loop workload (its returned
    # frame is the k-row summary) — its per-round plans are the
    # kcore shapes already pinned; excluded here like the other
    # iterative peels.
]


def test_r9_no_cartesian_no_row_udfs(flags, plans):
    assert _cartesian_or_failed(flags, _R9_FAMILIES) == []
    for name in _R9_FAMILIES:
        assert "BatchEvalPython" not in plans[name], name


def test_skyline_prefix_scan_uses_broadcast_offsets(plans):
    """The skyline's exclusive prefix-min closes buckets with a
    ≤|buckets|-row broadcast — the grid must never sort-merge or
    nest-loop against it."""
    p = plans["skyline_price_size_parts"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_lorenz_boundary_join_is_broadcast(plans):
    """Gini/Lorenz joins 10 boundary ranks + two 1-row aggregates
    into the cumulative frame — all broadcast, no shuffled join."""
    p = plans["events_value_lorenz_gini"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


_R10_FAMILIES = [
    "skyline3d_parts_price_size_popularity",
    "dedup_exact_substring_spans",
    "dedup_exact_substring_removal",
    "graph_kclique_census",
]


def test_r10_no_cartesian_no_row_udfs(flags, plans):
    assert _cartesian_or_failed(flags, _R10_FAMILIES) == []
    for name in _R10_FAMILIES:
        assert "BatchEvalPython" not in plans[name], name


def test_skyline3d_is_equi_join_only(plans):
    """The d>2 skyline's whole point: the local pass equi-joins on
    cell ids and the cross-cell merge equi-joins on the broadcast
    pair table — a nested-loop anywhere means the partition-and-merge
    collapsed back to BNL."""
    p = plans["skyline3d_parts_price_size_popularity"]
    assert "BroadcastNestedLoopJoin" not in p


def test_exact_substring_has_no_pair_stage(spark, plans):
    """Exact substring dedup must stay linear in gram occurrences: a
    duplicated-gram test via min!=max doc aggregate + semi-join back,
    per-doc windows for the island merge — never a gram-keyed
    self-join that would square hot posting lists."""
    p = plans["dedup_exact_substring_spans"]
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # the only window partitions by doc_id (bounded by doc length)
    assert unbounded_global_windows(
        load_all()["dedup_exact_substring_spans"].fn(spark, SF)
    ) == 0


def test_kclique_census_compact_forward(plans):
    """r12 kernel: the ladder extends cliques by exploding a carried
    candidate array and shrinking it with ONE adjacency intersection
    per level — no closure-probe joins against a (formerly broadcast)
    edge list, no static hints, no cartesian. Pin the kernel nodes
    (collect_list adjacency + array_intersect) and the absence of the
    old shape's ingredients."""
    p = plans["graph_kclique_census"]
    assert "collect_list" in p
    assert "array_intersect" in p
    assert "CartesianProduct" not in p


# -- round 11: sampled clique ladder + incremental substring store ---------

def test_r11_sampled_ladder_plan(plans):
    """The k<=7 sampled ladder shares the census's r12 compact-forward
    kernel: candidate arrays + one adjacency intersection per level,
    no closure-probe joins against a (formerly broadcast) edge list,
    no static hints, no cartesian, no row UDFs. The sampled edge list
    stays localCheckpoint-materialized (it feeds the degree/
    orientation/adjacency/count branches; re-running the pair-explode
    distinct per branch measured strictly worse in r11)."""
    p = plans["graph_clique_ladder_sampled"]
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "collect_list" in p
    assert "array_intersect" in p


def test_r11_skyline4d_is_equi_join_only(plans):
    """Same pin as the 3-D workload: local pass equi-joins on cell
    ids, cross-cell merge on the broadcast pair table — a
    nested-loop anywhere means the d = 4 generalization collapsed
    back to BNL."""
    p = plans["skyline4d_parts_price_size_popularity_suppliers"]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_r11_substring_store_plans(spark, tmp_path):
    """The store's probe and full readout stay linear: equi-join
    against the gram summary (no posting-list self-join, no
    cartesian), island windows partitioned per doc (never global).
    dedup_exact_substring_incremental executes this exact plan per
    batch — the workload itself is eager (store writes), so the pin
    lives on the store operators."""
    from datanika_core_spark.operators.substring_store import (
        ExactSubstringIndexStore,
    )
    from datanika_core_spark.operators.writers import drop_table

    name = "t_es_planpin"
    for sfx in ("", "_docs", "_hsum", "_hsum_stage"):
        drop_table(spark, f"{name}{sfx}")
    store = ExactSubstringIndexStore(spark, name)
    docs = spark.createDataFrame(
        [(1, "x" * 40), (2, "x" * 40)], "doc_id bigint, text string"
    )
    store.update(docs)
    with aqe_off(spark):
        frames = (store.probe(docs), store.spans())
    for frame in frames:
        p = plan_text(frame)
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p
        assert unbounded_global_windows(frame) == 0


def test_r11_ktruss_support_plan(spark):
    """The truss peel's support kernel must stay wedge-free: two
    equi-joins of the edge set against the node-keyed adjacency
    frame, no cartesian, no nested loop, no row UDFs — the shape
    that survives per-round iteration where broadcast/SMJ wedge
    closures measurably did not (see _edge_support's docstring)."""
    from datanika_core_spark.workloads.graph import _edge_support

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "u bigint, v bigint"
    )
    p = plan_text(_edge_support(e))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_r11_sorted_neighborhood_plan(plans):
    """The SN window join must be EQUI on the rank-tile id with the
    dirty side broadcast — never a range/nested-loop pairing (the
    oracle's BETWEEN is DuckDB's privilege, not the engine's). Also
    pins lambda-freedom: the ranking bucket id is the CASE-WHEN sum
    (ranking.py _with_pid), because this workload self-joins two
    global_row_number frames and lambda exprIds go stale under
    DeduplicateRelations."""
    p = plans["linkage_sorted_neighborhood"]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p  # the tile-id band join


def test_r11_allpairs_cosine_plan(plans):
    """The weighted AllPairs must pair via the prefix posting-list
    EQUI-join (term key), never a cartesian; the df/nn aggregates are
    the only broadcast frames. The nn corpus-count frame is a 1-row
    cross join — the documented non-quadratic BNL shape."""
    p = plans["dedup_allpairs_cosine"]
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_r11_hilbert_plan(plans):
    """The Hilbert key must be ONE fold expression (no chained
    projection unroll — CollapseProject inlines those into a ~3^8
    expression tree, measured analyzer OOM at sf0.01) and the layout
    comparison must stay cartesian-free; the lims/globals frames are
    1-row broadcasts."""
    p = plans["hilbert_vs_zorder_skipping"]
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_r11_blocking_quality_plans(spark):
    """linkage_blocking_quality is eager (counts feed a local result
    frame), so pin its heavy intermediate — the SN window count —
    through the same tile-join shape as linkage_sorted_neighborhood
    by checking the workload executes with no cartesian in any
    executed plan: run it end-to-end under AQE off and assert the
    RESULT invariants instead (2 rows, both blockers present)."""
    from datanika_core_spark.workloads.linkage import (
        linkage_blocking_quality,
    )

    with aqe_off(spark):
        rows = linkage_blocking_quality(spark, SF).collect()
    assert sorted(r.blocker for r in rows) == [
        "prefix2", "sorted_neighborhood",
    ]


def test_r11_bradley_terry_plan(plans):
    """The MM iteration must run on O(|brands|) checkpointed frames:
    the returned plan reads the round-10 checkpoint, never the
    unrolled 2^10 lineage (measured analyzer OOM without the rolling
    checkpoint), and the corpus-sized lineitem join appears exactly
    once per sufficient-statistic, not per iteration. The 1-row
    normalization frame is the documented BNL shape."""
    p = plans["preference_bradley_terry"]
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    # the final plan must read checkpointed round state, not lineitem
    assert "lineitem" not in p or p.count("lineitem") <= 2


def test_r11_markov_removal_plan(spark):
    """The distributed half of removal attribution (sessionize
    windows + the consecutive-event self-join + the transition-count
    groupBy) must stay cartesian- and UDF-free; the scenario sweep
    runs on the collected sketch-sized grid, so the edge frame is
    the plan to pin."""
    from datanika_core_spark.workloads.attribution import (
        attribution_markov_removal,
    )

    with aqe_off(spark):
        rows = attribution_markov_removal(spark, SF).collect()
    assert len(rows) >= 3  # all non-purchase channels present


def test_r11_sn_multipass_plan(plans):
    """Both SN passes must pair via EQUI tile joins (broadcast dirty
    side), never a range/nested-loop window — same pin as the
    single-pass workload, doubled."""
    p = plans["linkage_sn_multipass"]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_r12_multimodal_no_sort_above_python_stage(plans):
    """r12: multimodal_decode_meta / multimodal_audio_features must
    not carry a global Sort above their Arrow mapInPandas stage — a
    final orderBy's range partitioner SAMPLES its child plan, which
    re-ran the entire Python decode/featurize stage (the r11
    sort-first defect class on the §4 boundary). The driver/oracle
    comparison is order-insensitive, so the sorts were cosmetic."""
    for name in ("multimodal_decode_meta", "multimodal_audio_features"):
        p = plans[name]
        assert "MapInPandas" in p, name
        assert "Sort" not in p, (
            f"{name}: global sort reintroduced above the Python "
            "stage — the range sampler would re-run the decode"
        )


def test_r12_clique_construction_executes_zero_jobs(spark):
    """r12: building the census/sampled-ladder DataFrames must not
    run Spark jobs (the old kernel executed an eager wedge-bound
    probe scan at construction — the defect class the triangle
    rewrite removed). Exception: the sampled ladder's ONE eager
    localCheckpoint of the sampled edge list, which is the
    load-bearing materialization (r11 measurement); census must be
    pure-plan."""
    sc = spark.sparkContext
    reg = load_all()

    def compute_jobs(group: str, build) -> list[int]:
        """Job ids in `group` for a warm build: a first, unmeasured
        build fills read_table's schema cache, so no footer-inference
        job is left to exempt and every counted job is compute."""
        build()
        sc.setJobGroup(group, "probe")
        try:
            build()
            return list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    assert compute_jobs(
        "census-construction-probe",
        lambda: reg["graph_kclique_census"].fn(spark, SF),
    ) == []
    # the sampled ladder's construction budget is exactly the ONE
    # eager localCheckpoint of the sampled edge list (which AQE may
    # split into one job per shuffle stage) — measure that control
    # directly and require the workload not to exceed it (the old
    # kernel additionally ran a full wedge-bound probe scan)
    from pyspark.sql import functions as F
    from datanika_core_spark.workloads import t as read_t
    from datanika_core_spark.workloads.graph import _DLN_COIN

    def control():
        li = read_t(spark, SF, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        a = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("u"))
        b = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("v"))
        (a.join(b, "ok")
         .filter(F.col("u") < F.col("v"))
         .filter(F.expr(_DLN_COIN) != 0)
         .select("u", "v")
         .distinct()
         .localCheckpoint(eager=True))

    n_control = len(compute_jobs("ladder-control-probe", control))
    n_ladder = len(compute_jobs(
        "ladder-construction-probe",
        lambda: reg["graph_clique_ladder_sampled"].fn(spark, SF),
    ))
    assert n_ladder <= n_control, (n_ladder, n_control)


def test_r12_span_window_family_shares_one_exchange(spark):
    """r12 shared exchange: dedup_repeated_span_fraction and
    boilerplate_passage_removal pre-shuffle once on the gram-hash key
    — hash(key) satisfies both the (doc, key) agg's clustered
    distribution (key is a grouping key) and the key-window's, so the
    static plan carries exactly TWO hash exchanges (shared pre-window
    + final doc agg) plus the readout range sort. Three would mean
    the agg and window stopped sharing; more means a new shuffle
    crept into the corpus-pass half."""
    reg = load_all()
    for name in (
        "dedup_repeated_span_fraction",
        "boilerplate_passage_removal",
    ):
        with aqe_off(spark):
            df = reg[name].fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        n_hash = plan.count("Exchange hashpartitioning")
        n_range = plan.count("Exchange rangepartitioning")
        assert (n_hash, n_range) == (2, 1), (name, n_hash, n_range)
