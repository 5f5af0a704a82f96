"""Streaming forensic-audit twins — incremental forms of the batch
``dq_benford_first_digit`` (workloads/dataquality.py),
``abtest_sprt_sequential`` / ``abtest_mann_whitney_u``
(workloads/stats.py), and ``drift_ks_two_period``
(workloads/evalmetrics.py) — all additive-counter shapes reusing
the DQ-monitor pattern (streaming/dq.py): per-batch deltas fold
into a persisted state table, so "does this feed still look
Benford?" / "can we stop the experiment yet?" / "has the
distribution drifted?" are answerable at any point of the stream
without rescanning history.

State sizes: Benford is 9 digit counters; SPRT is 5 scalars per
experiment arm; the KS and Mann-Whitney grids are bounded by the
VALUE DOMAIN (|types| x |distinct cents|, 2 x |distinct cents|),
never by stream volume. Every monitor keeps its state in a
:class:`~datanika_core_spark.operators.merge_store.MergeStore`, whose
batch-id watermark (the counters are not idempotent) applies a
micro-batch redelivered after a crash between the state swap and the
streaming-checkpoint commit exactly once.

Ordering caveat (SPRT only, documented): the LLR walk is a
SEQUENTIAL fold, so micro-batches must arrive in event-time order
(the availableNow file source delivers files in listing order —
name ingest files monotonically). Benford and the KS drift monitor
(below) have no such requirement: their counts are commutative
monoids.

Parity: tests/test_stream_audit.py streams the events table in two
time-split files and asserts both reports EQUAL the batch workloads
over the concatenated frame — exact equality (integer counters;
the LLR is the identical two-literal linear form of those
integers).

At 100 TB: each micro-batch contributes one map-side combiner
groupBy (9 keys / |arms| keys); state reads and writes are O(10)
rows regardless of stream volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files
from datanika_core_spark.workloads.dataquality import _BENFORD
from datanika_core_spark.workloads.stats import (
    _SPRT_L0,
    _SPRT_L1,
    _SPRT_LO,
    _SPRT_UP,
    _SPRT_VALUE,
    _spark_hash,
)


# --------------------------------------------------------------------------
# Benford first-digit monitor — pure additive digit counters.
# --------------------------------------------------------------------------


class StreamBenfordMonitor:
    """Persisted streaming first-digit counters over an events feed.

    The stored table is (digit, n_obs) for digits 1..9; absorb()
    add-merges one micro-batch's digit counts (commutative, so
    out-of-order delivery is fine — only REPLAY needs the watermark)."""

    def __init__(self, spark: SparkSession, counters_table: str):
        self.spark = spark
        self.counters_table = counters_table
        self.state = MergeStore(
            spark, counters_table, "digit bigint, n_obs bigint",
            keys=["digit"], merge={"n_obs": "sum"},
        )

    def last_batch_id(self) -> int | None:
        return self.state.last_batch_id()

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        # identical digit extraction to the batch workload: exact
        # BIGINT cents' decimal string, first character
        delta = (
            batch.filter(F.col("value") > 0)
            .select(
                F.substring(
                    F.round(F.col("value") * 100)
                    .cast("bigint").cast("string"),
                    1, 1,
                ).cast("bigint").alias("digit")
            )
            .filter(F.col("digit") > 0)
            .groupBy("digit")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
        )
        self.state.absorb(delta, batch_id)

    def report(self) -> DataFrame:
        """Same shape and math as the batch workload: (digit, n_obs,
        obs_share, benford_share, abs_gap)."""
        obs = self.state.rows()
        tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
        benford = F.lit(None).cast("double")
        for d, p in _BENFORD.items():
            benford = F.when(F.col("digit") == d, F.lit(p)).otherwise(benford)
        return (
            obs.crossJoin(F.broadcast(tot))  # bound: one row
            .select(
                "digit",
                "n_obs",
                F.round(F.col("n_obs") * 1.0 / F.col("n"), 6)
                .alias("obs_share"),
                F.round(benford, 6).alias("benford_share"),
                F.round(
                    F.abs(F.col("n_obs") * 1.0 / F.col("n") - benford), 6
                ).alias("abs_gap"),
            )
            .orderBy("digit")
        )


def stream_benford_audit(
    spark: SparkSession,
    source_path: str,
    monitor: StreamBenfordMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available events files (availableNow)
    into the Benford monitor; query ``monitor.report()`` any time."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="benford",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )


# --------------------------------------------------------------------------
# SPRT sequential-test monitor — per-arm walk state with batch offsets.
# --------------------------------------------------------------------------


class StreamSPRTMonitor:
    """Persisted per-arm SPRT walk state over a purchases feed.

    Stored state per arm: (n_trials, n_success, i_up, i_lo) — the
    trial/conversion totals plus the first boundary-crossing indices
    (null until crossed). A micro-batch folds in by continuing the
    walk from the stored totals: within the batch the LLR at global
    trial i = n0 + rn is (c0 + cum_s)·L1 + (i − (c0 + cum_s))·L0,
    integer counters with two Python-literal doubles — identical to
    the batch workload's per-row form, so parity is exact.

    The first-crossing indices are monotone under ordered delivery:
    once set they never change (coalesce keeps the stored value), so
    the state is a fold, not a recomputation."""

    def __init__(self, spark: SparkSession, state_table: str):
        self.spark = spark
        self.state_table = state_table
        self.state = MergeStore(
            spark, state_table,
            "arm int, n_trials bigint, n_success bigint,"
            " i_up bigint, i_lo bigint",
        )

    def last_batch_id(self) -> int | None:
        return self.state.last_batch_id()

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        from pyspark.sql import Window as _W

        if self.state.replayed(batch_id):
            return
        stored = self.state.rows()
        offs = stored.select(
            F.col("arm").alias("variant"),
            F.col("n_trials").alias("n0"),
            F.col("n_success").alias("c0"),
        )
        trials = batch.filter(F.col("event_type") == "purchase").select(
            F.expr(
                "pmod("
                + _spark_hash("concat('ab-', cast(user_id as string))")
                + ", 2)"
            ).cast("int").alias("variant"),
            "ts",
            "event_id",
            F.when(F.col("value") > _SPRT_VALUE, 1).otherwise(0).alias("s"),
        )
        w = (
            _W.partitionBy("variant")
            .orderBy("ts", "event_id")
            .rowsBetween(_W.unboundedPreceding, _W.currentRow)
        )
        # bound: one stored row per arm (two variants)
        walk = trials.join(F.broadcast(offs), "variant", "left").select(
            "variant",
            (F.coalesce(F.col("n0"), F.lit(0)) + F.row_number().over(
                _W.partitionBy("variant").orderBy("ts", "event_id")
            )).alias("i"),
            (F.coalesce(F.col("c0"), F.lit(0))
             + F.sum("s").over(w)).cast("bigint").alias("conv"),
        )
        llr = walk.withColumn(
            "llr",
            F.col("conv") * F.lit(_SPRT_L1)
            + (F.col("i") - F.col("conv")) * F.lit(_SPRT_L0),
        )
        step = llr.groupBy(F.col("variant").alias("arm")).agg(
            F.max("i").cast("bigint").alias("n"),
            F.max("conv").cast("bigint").alias("c"),
            F.min(F.when(F.col("llr") >= _SPRT_UP, F.col("i")))
            .cast("bigint").alias("b_iup"),
            F.min(F.when(F.col("llr") <= _SPRT_LO, F.col("i")))
            .cast("bigint").alias("b_ilo"),
        )
        # an arm the batch reached continues its walk (totals from the
        # batch, first crossings kept once set); the others keep theirs
        nxt = stored.join(step, "arm", "full_outer").select(
            "arm",
            F.coalesce("n", "n_trials").alias("n_trials"),
            F.coalesce("c", "n_success").alias("n_success"),
            F.coalesce("i_up", "b_iup").alias("i_up"),
            F.coalesce("i_lo", "b_ilo").alias("i_lo"),
        )
        self.state.commit(nxt, batch_id)

    def report(self) -> DataFrame:
        """Same shape and math as the batch workload: (arm, n_trials,
        n_success, final_llr, decision, n_at_decision)."""
        st = self.state.rows()
        final_llr = (
            F.col("n_success") * F.lit(_SPRT_L1)
            + (F.col("n_trials") - F.col("n_success")) * F.lit(_SPRT_L0)
        )
        decision = (
            F.when(F.col("i_up").isNull() & F.col("i_lo").isNull(),
                   F.lit("continue"))
            .when(
                F.col("i_lo").isNull()
                | (F.col("i_up").isNotNull()
                   & (F.col("i_up") <= F.col("i_lo"))),
                F.lit("accept_h1"),
            )
            .otherwise(F.lit("accept_h0"))
        )
        return st.select(
            F.col("arm"),
            "n_trials",
            "n_success",
            F.round(final_llr, 6).alias("final_llr"),
            decision.alias("decision"),
            F.least(
                F.coalesce(F.col("i_up"), F.col("i_lo")),
                F.coalesce(F.col("i_lo"), F.col("i_up")),
            ).alias("n_at_decision"),
        ).orderBy("arm")


def stream_sprt_monitor(
    spark: SparkSession,
    source_path: str,
    monitor: StreamSPRTMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available events files (availableNow, in
    listing order — the SPRT walk needs ordered delivery) into the
    monitor; query ``monitor.report()`` any time."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="sprt",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )


# --------------------------------------------------------------------------
# KS drift monitor — streaming twin of the batch drift_ks_two_period:
# per-(type, period, cent) counts are a commutative additive monoid,
# so micro-batches fold in ANY order; only replay needs the watermark.
# --------------------------------------------------------------------------


class StreamKSDriftMonitor:
    """Persisted two-period value-distribution counters over an
    events feed, queryable as a KS drift report at any point.

    ``mid_day`` (epoch-day) fixes the period boundary up front — the
    deployment shape: "compare before/after the release day". The
    batch workload derives the same boundary from the table's span;
    the parity test feeds that value in. Counter table size is
    bounded by |types| x |distinct cents| (the VALUE DOMAIN, not
    stream volume)."""

    def __init__(self, spark: SparkSession, counters_table: str,
                 mid_day: int):
        self.spark = spark
        self.counters_table = counters_table
        self.mid_day = int(mid_day)
        self.state = MergeStore(
            spark, counters_table,
            "event_type string, p int, c bigint, cnt bigint",
            keys=["event_type", "p", "c"], merge={"cnt": "sum"},
        )

    def last_batch_id(self) -> int | None:
        return self.state.last_batch_id()

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        delta = (
            batch.select(
                "event_type",
                F.when(
                    F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
                    < self.mid_day, 0
                ).otherwise(1).alias("p"),
                F.round(F.col("value") * 100).cast("bigint").alias("c"),
            )
            .groupBy("event_type", "p", "c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        self.state.absorb(delta, batch_id)

    def report(self) -> DataFrame:
        """Same shape and math as the batch workload: (event_type,
        n_a, n_b, ks_stat, crit_05, drifted)."""
        from pyspark.sql import Window as _W

        from datanika_core_spark.workloads.evalmetrics import _KS_CRIT_05

        cnts = self.state.rows()
        by_val = cnts.groupBy("event_type", "c").agg(
            F.sum(F.when(F.col("p") == 0, F.col("cnt")).otherwise(0))
            .cast("bigint").alias("na"),
            F.sum(F.when(F.col("p") == 1, F.col("cnt")).otherwise(0))
            .cast("bigint").alias("nb"),
        )
        w = (
            _W.partitionBy("event_type")
            .orderBy("c")
            .rowsBetween(_W.unboundedPreceding, _W.currentRow)
        )
        cum = by_val.select(
            "event_type",
            F.sum("na").over(w).cast("bigint").alias("cuma"),
            F.sum("nb").over(w).cast("bigint").alias("cumb"),
        )
        tot = by_val.groupBy("event_type").agg(
            F.sum("na").cast("bigint").alias("nat"),
            F.sum("nb").cast("bigint").alias("nbt"),
        )
        ks = (
            # bound: <= |event_type| rows
            cum.join(F.broadcast(tot), "event_type")
            .groupBy("event_type")
            .agg(
                F.max(
                    F.abs(
                        F.col("cuma") * F.col("nbt")
                        - F.col("cumb") * F.col("nat")
                    )
                ).cast("bigint").alias("ks_num")
            )
        )
        stat = F.col("ks_num") * 1.0 / (F.col("nat") * F.col("nbt"))
        crit = F.lit(_KS_CRIT_05) * F.sqrt(
            (F.col("nat") + F.col("nbt")) * 1.0
            / (F.col("nat") * F.col("nbt"))
        )
        return (
            ks.join(tot, "event_type")
            .select(
                "event_type",
                F.col("nat").alias("n_a"),
                F.col("nbt").alias("n_b"),
                F.round(stat, 6).alias("ks_stat"),
                F.round(crit, 6).alias("crit_05"),
                (stat > crit).alias("drifted"),
            )
            .orderBy("event_type")
        )


def stream_ks_drift(
    spark: SparkSession,
    source_path: str,
    monitor: StreamKSDriftMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available events files (availableNow)
    into the KS drift monitor; counts are commutative, so file order
    is irrelevant."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="ks",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )


# --------------------------------------------------------------------------
# Mann-Whitney monitor — streaming twin of abtest_mann_whitney_u:
# the (variant, cent) count grid is a commutative additive monoid
# (ranks are recomputed from the grid at report time), so micro-
# batches fold in any order; only replay needs the watermark.
# --------------------------------------------------------------------------


class StreamMannWhitneyMonitor:
    """Persisted per-(variant, cent) trial counters over a purchases
    feed, queryable as the full rank-sum test report at any point.
    Counter table size is bounded by 2 x |distinct cents| (the value
    domain, not stream volume)."""

    def __init__(self, spark: SparkSession, counters_table: str):
        self.spark = spark
        self.counters_table = counters_table
        self.state = MergeStore(
            spark, counters_table, "variant int, c bigint, cnt bigint",
            keys=["variant", "c"], merge={"cnt": "sum"},
        )

    def last_batch_id(self) -> int | None:
        return self.state.last_batch_id()

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        delta = (
            batch.filter(F.col("event_type") == "purchase")
            .select(
                F.expr(
                    "pmod("
                    + _spark_hash("concat('ab-', cast(user_id as string))")
                    + ", 2)"
                ).cast("int").alias("variant"),
                F.round(F.col("value") * 100).cast("bigint").alias("c"),
            )
            .groupBy("variant", "c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        self.state.absorb(delta, batch_id)

    def report(self) -> DataFrame:
        """Same shape and math as the batch workload: (n_a, n_b,
        u_a, u_b, z, rank_biserial) — ranks recomputed from the
        stored grid, so the streamed report is IDENTICAL to the
        batch one, not an approximation."""
        from pyspark.sql import Window as _W

        cnts = self.state.rows()
        by_val = cnts.groupBy("c").agg(
            F.sum(F.when(F.col("variant") == 0, F.col("cnt")).otherwise(0))
            .cast("bigint").alias("na"),
            F.sum("cnt").cast("bigint").alias("cnt"),
        )
        w = _W.orderBy("c").rowsBetween(_W.unboundedPreceding, -1)
        ranked = by_val.select(
            "na", "cnt",
            F.coalesce(F.sum("cnt").over(w), F.lit(0))
            .cast("bigint").alias("cumb"),
        )
        agg = ranked.agg(
            F.sum("na").cast("bigint").alias("n1"),
            F.sum(F.col("cnt") - F.col("na")).cast("bigint").alias("n2"),
            F.sum(F.col("na") * (2 * F.col("cumb") + F.col("cnt") + 1))
            .cast("bigint").alias("r1_2"),
            F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
            .cast("bigint").alias("tie_t"),
        )
        st = agg.select(
            "n1", "n2", (F.col("n1") + F.col("n2")).alias("n"),
            ((F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)) / 2.0)
            .alias("u1"),
            "tie_t",
        )
        return st.select(
            F.col("n1").alias("n_a"),
            F.col("n2").alias("n_b"),
            F.round("u1", 6).alias("u_a"),
            F.round(F.col("n1") * F.col("n2") - F.col("u1"), 6)
            .alias("u_b"),
            F.round(
                (F.col("u1") - F.col("n1") * F.col("n2") / 2.0)
                / F.sqrt(
                    F.col("n1") * F.col("n2") / 12.0
                    * ((F.col("n") + 1)
                       - F.col("tie_t") * 1.0
                       / (F.col("n") * (F.col("n") - 1)))
                ),
                6,
            ).alias("z"),
            F.round(
                1 - 2.0 * F.col("u1") / (F.col("n1") * F.col("n2")), 6
            ).alias("rank_biserial"),
        )


def stream_mann_whitney(
    spark: SparkSession,
    source_path: str,
    monitor: StreamMannWhitneyMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available events files (availableNow)
    into the Mann-Whitney monitor; counts are commutative, so file
    order is irrelevant."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="mw",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )
