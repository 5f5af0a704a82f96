"""Structured Streaming jobs — the streaming mode of the engine.

The reference is batch-only: its "incremental" is a cursor filter
re-run on a schedule (SURVEY.md §1.1, dlt_runner.py:173-180). This
module is the continuous analogue: the same logical operators
(ingest-append, tumbling/hopping windows, sessionization) expressed
as Structured Streaming so late data is handled by watermarks instead
of re-runs, and state (cursor) is handled by checkpoints instead of a
state table.

Batch/stream parity: each aggregation here reuses the exact column
expressions of its batch twin in ``workloads/events.py`` — Spark
guarantees the same results for the same input (event-time semantics,
not arrival-time), which tests/test_streaming.py asserts by running
the stream with an ``availableNow`` trigger against the same parquet.

Scale notes: file-source streaming shards listing+reading across
executors; windowed state lives in the state store keyed by
(window, group keys) — size it with watermarks (state is dropped once
the watermark passes a window's end). Every foreachBatch twin runs
through :func:`drain`; ingestion reuses TableWriter, so write
dispositions (append/merge) behave identically in both modes.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.blocks import scoped_blocks
from datanika_core_spark.operators.writers import TableWriter
from datanika_core_spark.session import _read_parquet

if TYPE_CHECKING:  # pragma: no cover
    from datanika_core_spark.operators.merge_store import MergeStore


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a parquet path with the same
    ns-timestamp normalization as the batch ``read_table``.

    Streaming file sources need an explicit schema — taken from the
    session's schema cache for the same path (read_table's entry: one
    footer inference per file version, none once cached).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch, nanos = _read_parquet(spark, path)
    schema = batch.schema
    if os.path.isfile(path):
        # The file streaming source monitors a DIRECTORY; expose a
        # single-file input through a symlinked staging dir. The dir
        # is keyed on the source path so checkpointed restarts see
        # the SAME file URI and correctly skip already-read files.
        import hashlib

        key = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
        stage = os.path.join(tempfile.gettempdir(), f"stream_src_{key}")
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, os.path.basename(path))
        if not os.path.exists(link):
            os.symlink(path, link)
        path = stage
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(path)
    # Watermarks require TIMESTAMP (not TIMESTAMP_NTZ); the session
    # timezone is pinned UTC above, so the instant is identical.
    for col in nanos:
        sdf = sdf.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} div 1000"))
        )
    for field in sdf.schema.fields:
        if field.dataType.typeName() == "timestamp_ntz":
            sdf = sdf.withColumn(
                field.name, F.col(field.name).cast("timestamp")
            )
    return sdf


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time windows per event_type (streaming twin of
    workloads/events.py::events_tumbling_hourly). The watermark bounds
    state: windows older than max(event time) - watermark are
    finalized and their state dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).start.alias("bucket_start"),
                 "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def hopping_totals(
    events: DataFrame,
    window: str = "1 hour",
    hop: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Hopping windows (streaming twin of events_hopping_windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, hop).start.alias("win_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def session_aggregates(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows: ``session_window(ts, gap)`` merges
    events separated by < gap into one window per user — the same
    session semantics as the batch lag/cumsum sessionization
    (events_sessionize_gap), held as mergeable state in streaming."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id", F.col("w.start").alias("session_start"),
            "n_events", "total_value",
        )
    )


def interval_join_clicks_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's click events within the preceding ``lookback`` — the
    streaming twin of the batch range join
    (operators/temporal.py::range_join over a purchase-anchored
    window).

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, so Spark can size the state store: a
    click is held only until (watermark) past its own ts + lookback,
    then evicted. Without the time bound the state would grow
    forever — the condition IS the retention policy.
    """
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        F.expr(
            f"c_user = p_user AND "
            f"click_ts >= purchase_ts - INTERVAL {lookback} AND "
            f"click_ts < purchase_ts"
        ),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id", "purchase_ts", "purchase_value",
        "click_id", "click_ts",
    )


def run_available_now_to_memory(
    agg: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_sec: int = 120,
) -> None:
    """Run a streaming aggregation to completion over all currently
    available input (``trigger(availableNow)``) into an in-memory
    sink — the batch-equivalence harness used by the tests."""
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()


def resolve_checkpoint(
    spark: SparkSession,
    checkpoint_dir: str | None,
    kind: str,
    state_name: str,
    has_state=None,
    reset_state=None,
) -> str:
    """Checkpoint-location policy shared by every stream twin.

    1. The DEFAULT checkpoint is deterministic —
       ``$TMPDIR/datanika_ck_<kind>/<state_name>`` — so a second
       invocation for the same state table RESUMES the same file
       listing + batch numbering instead of minting a fresh mkdtemp
       whose batch ids restart at 0 against persisted state
       (re-counting or skipping files depending on listing order —
       the failure mode ADVICE flagged on the PH monitor; every
       watermarked store shares it).
    2. Checkpoint lineage and state must agree; on mismatch, reset
       to a coherent zero state so the replay is exact:

       - fresh checkpoint (no prior commits) + existing state → the
         stream will re-read EVERY file. If ``reset_state`` is given
         (non-idempotent stores: additive counters, xor folds), it
         is called so the rebuild folds each row exactly once;
         idempotent stores (HLL max-merge, left-anti-keyed indexes)
         pass ``reset_state=None`` and simply re-absorb.
       - prior commits + no state (table dropped or never built) →
         the checkpoint would skip the already-listed files forever:
         it is cleared so the full input replays into empty state,
         and ``reset_state`` (when given) runs FIRST so auxiliary
         remnants go too — a multi-table monitor whose probe only
         sees the primary table (e.g. the DQ monitor's counters +
         keys pair) must not replay against a stale secondary table.

    ``has_state``: nullary callable, True when the twin's persisted
    state exists (a committed batch id, or just tableExists for
    idempotent stores). Pass None to skip reconciliation entirely.

    The default root is namespaced per OS user and per Spark
    warehouse (``datanika_ck_<user>_<hash>``): two sessions only
    share a lineage when they also share the warehouse the state
    tables live in — concurrent CI shards or other users on the same
    host can never interleave commits into each other's checkpoints
    (the collision-freedom mkdtemp used to provide, kept without
    giving up determinism).
    """
    if checkpoint_dir:
        base = checkpoint_dir
    else:
        import getpass
        import hashlib

        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        )
        ns = hashlib.md5(wh.encode()).hexdigest()[:8]
        try:
            user = getpass.getuser()
        except Exception:
            # containers whose uid has no passwd entry raise here;
            # any stable per-user token keeps the namespacing
            user = os.environ.get("USER") or (
                str(os.getuid()) if hasattr(os, "getuid") else "user"
            )
        base = os.path.join(
            tempfile.gettempdir(),
            f"datanika_ck_{user}_{ns}",
            kind,
        )
    loc = os.path.join(base, state_name)
    if has_state is not None:
        commits = os.path.join(loc, "commits")
        has_commits = os.path.isdir(commits) and any(
            not n.startswith(".") for n in os.listdir(commits)
        )
        if has_state():
            if not has_commits and reset_state is not None:
                reset_state()
        elif has_commits:
            import shutil

            if reset_state is not None:
                reset_state()
            shutil.rmtree(loc, ignore_errors=True)
    return loc


@dataclass
class StreamStats:
    """Accounting of one :func:`drain`: micro-batches seen and rows
    that arrived in them. Twins with more counters subclass it."""

    batches: int = 0
    arrived: int = 0


def _refresh(spark: SparkSession, tables: Sequence[str]) -> None:
    for t in tables:
        if spark.catalog.tableExists(t):
            spark.catalog.refreshTable(t)


def drain(
    spark: SparkSession,
    sdf: DataFrame,
    absorb: Callable[[DataFrame, int], None],
    *,
    kind: str,
    state_name: str,
    has_state: Callable[[], bool] | None,
    reset_state: Callable[[], None] | None = None,
    refresh: Sequence[str] = (),
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
    processing_time: str | None = None,
    stats: StreamStats | None = None,
) -> StreamStats:
    """Run ``sdf`` through ``foreachBatch`` into ``absorb`` — the one
    stream driver of every twin.

    Per micro-batch, inside :func:`scoped_blocks` (every frame a batch
    checkpoints is written or collected within it, so an N-batch
    stream pins O(1) block sets): refresh the ``refresh`` tables (the
    previous batch wrote them through the micro-batch session, so this
    session's cached file listings are stale), count the batch into
    ``stats``, and call ``absorb(batch_df, batch_id)`` unless it is
    empty. The checkpoint comes from :func:`resolve_checkpoint`
    (``kind``, ``state_name``, ``has_state``, ``reset_state``).

    The trigger is ``availableNow`` — drain what is there, then stop
    — unless ``processing_time`` (e.g. ``"1 seconds"``) asks for the
    open-ended deployment trigger: the stream keeps polling and
    absorbing files as they APPEAR until ``timeout_sec`` elapses, so
    the call always blocks the full timeout. Checkpoint lineage and
    state are the same under both triggers: an availableNow restart
    after a processing-time run is a no-op."""
    stats = StreamStats() if stats is None else stats

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        with scoped_blocks(spark):
            _refresh(spark, refresh)
            stats.batches += 1
            n = batch_df.count()
            stats.arrived += n
            if n:
                absorb(batch_df, batch_id)

    ckpt_loc = resolve_checkpoint(
        spark, checkpoint_dir, kind, state_name,
        has_state=has_state, reset_state=reset_state,
    )
    writer = sdf.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", ckpt_loc
    )
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    _refresh(spark, refresh)
    return stats


def drain_files(
    spark: SparkSession,
    source_path: str,
    absorb: Callable[[DataFrame, int], None],
    state: "MergeStore",
    *,
    kind: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    timeout_sec: int = 300,
    processing_time: str | None = None,
) -> StreamStats:
    """:func:`drain` of a parquet file directory into one
    :class:`~datanika_core_spark.operators.merge_store.MergeStore`
    whose folds are not idempotent: the state counts as present once
    it holds a batch id, and a fresh checkpoint against present state
    drops it, so the full replay folds every row exactly once."""
    return drain(
        spark,
        read_event_stream(
            spark, source_path, max_files_per_trigger=max_files_per_trigger
        ),
        absorb,
        kind=kind, state_name=state.table,
        has_state=lambda: state.last_batch_id() is not None,
        reset_state=state.reset, refresh=(state.table,),
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
        processing_time=processing_time,
    )


def stream_ingest(
    spark: SparkSession,
    source_path: str,
    table: str,
    disposition: str = "append",
    primary_key: str | list[str] | None = None,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
    processing_time: str | None = None,
) -> int:
    """Continuous ingestion: file stream → TableWriter via
    :func:`drain` — the streaming analogue of the batch ingestion job
    (append/merge dispositions behave identically; checkpointing
    replaces the incremental-cursor state table). Processes all
    currently-available files (availableNow) and returns rows loaded.

    ``processing_time`` switches to the open-ended trigger (see
    :func:`drain`): the call then blocks the full ``timeout_sec``
    (default 300 s), so callers polling a test directory should pass
    a small timeout.

    At scale this is exactly-once into the warehouse: the checkpoint
    records the processed-file log, and merge-on-primary-key makes
    replays idempotent.
    """
    writer = TableWriter(spark)
    loaded = {"n": 0}

    def _absorb(batch_df: DataFrame, batch_id: int) -> None:
        res = writer.write(
            batch_df, table, disposition, primary_key=primary_key
        )
        loaded["n"] += res.rows_loaded

    # no reset_state: a warehouse target is never dropped
    # automatically — merge-on-primary-key is the replay-idempotent
    # disposition (docstring above); append callers own their ckpt
    drain(
        spark, read_event_stream(spark, source_path), _absorb,
        kind="ingest", state_name=table,
        has_state=lambda: spark.catalog.tableExists(table),
        refresh=(table,), checkpoint_dir=checkpoint_dir,
        timeout_sec=timeout_sec, processing_time=processing_time,
    )
    return loaded["n"]


def interval_join_left_outer(
    purchases: DataFrame,
    clicks: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase emits — joined
    to same-user clicks in the preceding ``lookback`` when they
    exist, with NULL click columns otherwise. The null row for an
    unmatched purchase is emitted only once the watermark passes the
    point where a matching click could still arrive — outer results
    are therefore delayed by the watermark, which is the semantic
    price of a correct streaming outer join (emitting early would
    retract on a late click).

    State sizing follows the same rule as the inner variant: the
    time-bounded condition lets Spark evict both sides' state at
    watermark, so memory is O(events within the lookback+watermark
    horizon), not O(history)."""
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    return p.join(
        c,
        F.expr(
            f"p_user = c_user AND "
            f"click_ts >= purchase_ts - INTERVAL {lookback} AND "
            f"click_ts < purchase_ts"
        ),
        "leftOuter",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id", "purchase_ts", "purchase_value",
        "click_id", "click_ts",
    )


def dedup_within_watermark(
    sdf: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """First-occurrence dedup with BOUNDED state via
    ``dropDuplicatesWithinWatermark``: a duplicate of a key is
    dropped if it arrives within the watermark delay of the first
    occurrence; key state is evicted once the watermark passes, so
    state is O(keys per watermark window), not O(all keys ever) —
    the built-in alternative to the TTL ValueState processor in
    streaming/stateful.py (which gives per-key TTL control and
    custom logic; this gives zero code).

    Note the semantic difference from plain dropDuplicates: a
    re-occurrence AFTER the watermark gap is emitted again — for
    exactly-once-ever semantics use the stateful processor or a
    persisted Bloom/exact store (operators/bloom_store.py)."""
    return sdf.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )
