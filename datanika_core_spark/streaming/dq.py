"""Streaming data-quality monitor — the incremental twin of the
batch ``dq_constraint_report`` (workloads/dataquality.py): each
micro-batch of orders folds its constraint violations into a
persisted counters table, so "is this feed clean?" is answerable at
any point of the stream without rescanning history.

Two constraint classes, two merge disciplines:

- **Row-local constraints** (not-null, accepted values, positivity,
  row count) produce per-batch violation COUNTS — an additive
  abelian monoid, merged into the counters table by key-wise sum
  (the same delta rule as the IVM rollup workloads).
- **Primary-key uniqueness** is NOT additive (a duplicate can span
  batches), so the monitor keeps a seen-keys table — the exact-key
  analogue of the Bloom/MinHash ingest stores: a batch's dup count
  is its internal dups plus the broadcast semi-join hits against the
  stored keys; new distinct keys append afterwards (batch-stamped
  and materialized before the append — see ``absorb``).

Replay safety: the counters live in a
:class:`~datanika_core_spark.operators.merge_store.MergeStore`, whose
swap commits the batch id with them, so a micro-batch redelivered
after a crash anywhere in the two-write sequence (keys append, then
counters swap) is applied exactly once — the keys append is
idempotent (anti-join vs the full stored table) and same-batch
leftovers of a crashed partial append are excluded from the dup
count via the per-row batch stamp.

Parity: tests/test_stream_dq.py splits orders into two files (the
second re-delivering some of the first's keys), streams them, and
asserts the counters equal the batch constraint logic applied to the
concatenated frame — exact equality, all-BIGINT.

At 100 TB: counters are O(constraints) rows; the key store is the
one real table and is exactly the key-dedup index any idempotent
ingest already maintains (at warehouse scale: bucketed by key, or a
Bloom prefilter in front — operators/bloom_store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.operators.writers import drop_table
from datanika_core_spark.streaming.jobs import (
    StreamStats,
    drain,
    read_event_stream,
)


def _batch_counters(batch: DataFrame) -> DataFrame:
    """Row-local violation counts for one orders micro-batch."""
    return batch.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint").alias("null_custkey"),
        F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
              .otherwise(0)).cast("bigint").alias("bad_status"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint").alias("nonpos_price"),
    ).select(F.expr(
        "stack(4,"
        " 'row_count', n_rows,"
        " 'not_null_custkey', null_custkey,"
        " 'accepted_status', bad_status,"
        " 'positive_price', nonpos_price"
        ") as (check_name, observed)"
    ))


class StreamDQMonitor:
    """Persisted streaming constraint counters over an orders feed."""

    def __init__(self, spark: SparkSession, counters_table: str,
                 keys_table: str):
        self.spark = spark
        self.counters_table = counters_table
        self.keys_table = keys_table
        self.state = MergeStore(
            spark, counters_table, "check_name string, observed bigint",
            keys=["check_name"], merge={"observed": "sum"},
        )

    def reset(self) -> None:
        """Drop the counters and the key store."""
        self.state.reset()
        drop_table(self.spark, self.keys_table)

    def absorb(self, batch: DataFrame, batch_id: int | None = None) -> None:
        """Fold one micro-batch into the counters + key store.

        Replay-safe when a batch_id is supplied: the counters swap
        commits the batch id, so a batch redelivered after a crash
        anywhere in the two-write sequence is applied exactly once.
        Write order is keys-then-counters: the keys append is
        idempotent by construction (new keys are the anti-join against
        the FULL stored table, so a replay appends nothing), and the
        same-batch leftovers of a crashed partial append are excluded
        from the dup count via the per-row batch stamp — the counters
        swap is the last write."""
        spark = self.spark
        if self.state.replayed(batch_id):
            return  # replayed batch — already committed
        counters = _batch_counters(batch)
        # pk duplicates: internal (count - distinct) + stored-key hits
        keys = batch.select(F.col("o_orderkey").alias("k"))
        internal = keys.agg(
            (F.count(F.lit(1)) - F.count_distinct("k"))
            .cast("bigint").alias("d")
        )
        kd = keys.distinct()
        if spark.catalog.tableExists(self.keys_table):
            stored = spark.table(self.keys_table)
            # rows stamped with THIS batch id are leftovers of a
            # crashed partial append of the same batch — not "prior"
            prior = (
                stored.filter(
                    F.col("b").isNull() | (F.col("b") != F.lit(batch_id))
                )
                if batch_id is not None
                else stored
            )
            stored_hits = (
                kd.join(prior, "k", "left_semi")
                .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
            )
            new_keys = kd.join(stored, "k", "left_anti")
        else:
            stored_hits = internal.select(F.lit(0).cast("bigint").alias("d"))
            new_keys = kd
        dups = internal.unionByName(stored_hits).agg(
            F.sum("d").cast("bigint").alias("observed")
        ).select(F.lit("pk_unique").alias("check_name"), "observed")
        # materialize both legs BEFORE the keys append — each is a lazy
        # read of keys_table (the dup counters, the anti-join), and
        # appending to the table a plan reads is a read-while-append
        # race. The delta is 5 rows, new_keys is batch-sized; the
        # sink's scoped_blocks frees both checkpoints.
        delta = counters.unionByName(dups).localCheckpoint(eager=True)
        new_keys = new_keys.withColumn(
            "b", F.lit(batch_id).cast("bigint")
        ).localCheckpoint(eager=True)
        mode = (
            "append"
            if spark.catalog.tableExists(self.keys_table)
            else "overwrite"
        )
        new_keys.write.format("parquet").mode(mode).saveAsTable(
            self.keys_table
        )
        spark.catalog.refreshTable(self.keys_table)
        self.state.absorb(delta, batch_id)

    def report(self) -> DataFrame:
        """(check_name, observed, passed) — row_count passes when
        > 0, every violation counter passes at 0."""
        c = self.state.rows()
        passed = F.when(
            F.col("check_name") == "row_count", F.col("observed") > 0
        ).otherwise(F.col("observed") == 0)
        return c.withColumn("passed", passed).orderBy("check_name")


def stream_dq_monitor(
    spark: SparkSession,
    source_path: str,
    monitor: StreamDQMonitor,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
) -> StreamStats:
    """Absorb all currently-available orders files (availableNow)
    into the monitor; query ``monitor.report()`` any time after."""
    return drain(
        spark,
        read_event_stream(
            spark, source_path, max_files_per_trigger=max_files_per_trigger
        ),
        monitor.absorb,
        kind="dq", state_name=monitor.counters_table,
        has_state=lambda: monitor.state.last_batch_id() is not None,
        reset_state=monitor.reset,
        refresh=(monitor.counters_table, monitor.keys_table),
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
    )
