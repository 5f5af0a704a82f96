"""Streaming Poisson-bootstrap monitor — the incremental twin of the
batch ``bootstrap_ci_poisson`` workload (workloads/stats.py): live
error bars on a stream. Because the Poisson weight of a row is a
pure function of (orderkey, replicate) — the md5 inverse-CDF draw —
each replicate's (Σw, Σw·x) moments are ADDITIVE counters a
micro-batch can fold into a persisted state table; the 95% CI is
recomputed from the merged moments at any point of the stream and
EQUALS the batch CI over everything absorbed so far.

State: (priority, r, sw, swx) for the |groups|×R replicate moment
grid plus r = -1 rows for the point-estimate moments (n, Σx), in a
:class:`~datanika_core_spark.operators.merge_store.MergeStore` whose
batch-id watermark guards replay (counter addition is not idempotent
— same replay discipline as the CMS/MG/DQ/collocation stores).

Parity: tests/test_stream_bootstrap.py streams orders in two files
and asserts ``report()`` EQUALS the batch workload over the
concatenated table — exact equality, because every CI input is an
integer moment that adds across any batch split and the CI itself is
rank selection on exact BIGINT ratios.

At 100 TB: each micro-batch contributes one map-side ×R explode
collapsed by the combiner to |groups|×R rows; the state merge
touches the same grid — stream volume never grows the state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files
from datanika_core_spark.workloads.stats import (
    _BS_C0,
    _BS_C1,
    _BS_C2,
    _BS_C3,
    _BS_DENOM,
    _BS_HI_RANK,
    _BS_LO_RANK,
    _BS_R,
    _spark_hash,
)


def _batch_moments(batch: DataFrame) -> DataFrame:
    """(priority, r, sw, swx) replicate moments + r = -1 point rows
    for one micro-batch — weight derivation identical to the batch
    workload."""
    reps = batch.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.explode(F.expr(f"sequence(0, {_BS_R - 1})")).alias("r"),
    ).select(
        "priority", "r", "cents",
        (
            F.expr(
                _spark_hash(
                    "concat('bs-', cast(o_orderkey as string), '-',"
                    " cast(r as string))"
                )
            )
            / F.lit(_BS_DENOM)
        ).alias("u"),
    )
    weighted = reps.select(
        "priority", "r", "cents",
        F.when(F.col("u") < float(_BS_C0), 0)
        .when(F.col("u") < float(_BS_C1), 1)
        .when(F.col("u") < float(_BS_C2), 2)
        .when(F.col("u") < float(_BS_C3), 3)
        .otherwise(4)
        .alias("w"),
    )
    rep = weighted.groupBy("priority", "r").agg(
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("swx"),
    )
    point = batch.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("sw"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).cast("bigint").alias("swx"),
    ).select("priority", F.lit(-1).alias("r"), "sw", "swx")
    return rep.unionByName(point)


class StreamBootstrapMonitor:
    """Persisted streaming replicate moments with the batch
    workload's exact CI selection as ``report()``."""

    def __init__(self, spark: SparkSession, state_table: str):
        self.spark = spark
        self.state_table = state_table
        self.state = MergeStore(
            spark, state_table,
            "priority string, r int, sw bigint, swx bigint",
            keys=["priority", "r"], merge={"sw": "sum", "swx": "sum"},
        )

    def last_batch_id(self) -> int | None:
        return self.state.last_batch_id()

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        self.state.absorb(_batch_moments(batch), batch_id)

    def report(self) -> DataFrame:
        """Identical shape + math to bootstrap_ci_poisson over
        everything absorbed so far."""
        state = self.state.rows()
        rep_means = state.filter(F.col("r") >= 0).select(
            "priority", "r",
            (F.col("swx") * 1.0 / F.col("sw")).alias("m"),
        )
        wp = Window.partitionBy("priority").orderBy("m", "r")
        ranked = rep_means.select(
            "priority", "m", F.row_number().over(wp).alias("rn")
        )
        ci = ranked.groupBy("priority").agg(
            F.max(
                F.when(F.col("rn") == _BS_LO_RANK, F.col("m"))
            ).alias("lo"),
            F.max(
                F.when(F.col("rn") == _BS_HI_RANK, F.col("m"))
            ).alias("hi"),
        )
        pt = state.filter(F.col("r") == -1).select(
            "priority", F.col("sw").alias("n"), F.col("swx").alias("s")
        )
        return (
            pt.join(ci, "priority")
            .select(
                "priority",
                F.col("n").alias("n_orders"),
                F.round(F.col("s") * 1.0 / F.col("n") / 100.0, 4)
                .alias("mean_value"),
                F.round(F.col("lo") / 100.0, 4).alias("ci_lo"),
                F.round(F.col("hi") / 100.0, 4).alias("ci_hi"),
                F.round((F.col("hi") - F.col("lo")) / 100.0, 4)
                .alias("ci_width"),
            )
            .orderBy("priority")
        )


def stream_bootstrap_ci(
    spark: SparkSession,
    source_path: str,
    monitor: StreamBootstrapMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available orders files (availableNow)
    into the replicate moments; query ``monitor.report()`` any time
    after."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="bootstrap",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
    )
