"""Streaming Page-Hinkley drift monitor — the incremental twin of
the batch ``drift_page_hinkley`` workload — and, because the state it
persists is the generic (event_type, day) counter grid, of the
``stats_runs_test`` and ``stats_mann_kendall`` daily monitors too
(``report_runs_test()`` / ``report_mann_kendall()``).

Design: the PH statistic is a path-dependent fold over the DAILY
mean series, so the monitor does NOT try to fold PH itself across
micro-batches (a batch boundary can split a day, which would freeze
a half-day mean into the walk). Instead it persists the two additive
per-(event_type, day) counters the daily mean is derived from —
Σcents and count — and ``report()`` recomputes the PH walk from the
stored grid through the SAME ``_page_hinkley_report`` plan the batch
workload runs. Consequences:

- exact batch parity by construction (identical plan over an
  identical grid — tests/test_stream_ph.py asserts equality);
- day-split safety: counters are commutative/associative, so a
  micro-batch boundary landing mid-day merges correctly;
- arrival-order independence (unlike the SPRT twin, which needs
  ordered delivery);
- state bounded by |types| x |days| — the day grid, not stream
  volume.

Replay discipline: counters are additive (not idempotent), so the
batch-id watermark of the
:class:`~datanika_core_spark.operators.merge_store.MergeStore` (a
table property, so every grid row — epoch day -1 included — is data)
guards redelivery — the CMS/MG/fingerprint store convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.streaming.jobs import StreamStats, drain_files


class StreamPageHinkleyMonitor:
    """Persisted (event_type, epoch_day, cents, cnt) daily counters,
    queryable as the PH drift report at any point."""

    def __init__(self, spark: SparkSession, counters_table: str):
        self.spark = spark
        self.counters_table = counters_table
        self.state = MergeStore(
            spark, counters_table,
            "event_type string, day bigint, cents bigint, cnt bigint",
            keys=["event_type", "day"], merge={"cents": "sum", "cnt": "sum"},
        )

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        delta = (
            batch.select(
                "event_type",
                F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
                .cast("bigint").alias("day"),
                F.round(F.col("value") * 100).cast("bigint").alias("c"),
            )
            .groupBy("event_type", "day")
            .agg(
                F.sum("c").cast("bigint").alias("cents"),
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
            )
        )
        self.state.absorb(delta, batch_id)

    def _daily(self) -> DataFrame:
        """The stored grid with the calendar day rebuilt; the report
        helpers only need `day` ordered + castable to DATE, matching
        the batch side's date_trunc('day') exactly. Before the first
        absorb this is the EMPTY grid with the same schema, so the
        report helpers return empty, correctly-typed results instead
        of raising."""
        return self.state.rows().select(
            "event_type",
            F.date_add(
                F.lit("1970-01-01").cast("date"),
                F.col("day").cast("int"),
            ).alias("day"),
            "cents",
            "cnt",
        )

    def report(self) -> DataFrame:
        """Same columns and math as the batch workload: (event_type,
        n_days, ph_inc, inc_day, ph_dec, dec_day)."""
        from datanika_core_spark.workloads.timeseries import (
            _page_hinkley_report,
        )

        return _page_hinkley_report(self._daily())

    def report_runs_test(self) -> DataFrame:
        """The SAME persisted grid also powers the Wald-Wolfowitz
        runs-test readout — one counter table, three daily monitors
        (PH drift, runs, Mann-Kendall), each replaying its batch
        twin's exact plan."""
        from datanika_core_spark.workloads.stats import _runs_test_report

        return _runs_test_report(
            self._daily().select("event_type", "day",
                                 F.col("cnt").alias("x"))
        )

    def report_mann_kendall(self) -> DataFrame:
        """Mann-Kendall trend readout from the stored grid — exact
        batch parity for the same reason as report()."""
        from datanika_core_spark.workloads.timeseries import (
            _mann_kendall_report,
        )

        return _mann_kendall_report(
            self._daily().select("event_type", "day",
                                 F.col("cnt").alias("x"))
        )


def stream_page_hinkley(
    spark: SparkSession,
    source_path: str,
    monitor: StreamPageHinkleyMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
    processing_time: str | None = None,
) -> StreamStats:
    """Absorb all currently-available events files (availableNow)
    into the PH monitor; query ``monitor.report()`` any time.

    ``processing_time`` (e.g. ``"1 seconds"``) switches to the
    open-ended deployment trigger (see
    :func:`~datanika_core_spark.streaming.jobs.drain`): the call
    then ALWAYS blocks the full timeout (pass a small one when
    polling a test dir). The monitor's cross-batch state (day
    counters, carried batch ids) does not depend on which trigger
    drove it — an availableNow restart after a processing-time run
    is a no-op (test-pinned)."""
    return drain_files(
        spark, source_path, monitor.absorb, monitor.state, kind="stream_ph",
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger, timeout_sec=timeout_sec,
        processing_time=processing_time,
    )
