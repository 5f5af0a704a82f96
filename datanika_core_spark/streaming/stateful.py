"""Custom stateful streaming operators via ``applyInPandasWithState``
(the escape hatch for operators Structured Streaming lacks natively).

``streaming_dedup`` — continuous exact deduplication: emit only the
FIRST row seen per key across the whole stream. This is the streaming
form of the batch hash-dedup (workloads/text_dedup.py::
dedup_exact_pairs): per-key "seen" state lives in the state store,
bounded by an optional processing-time timeout (for corpora where keys
stop recurring after a retention horizon).

Why applyInPandasWithState and not ``dropDuplicates``: the built-in
needs the dedup columns to include the watermark column to bound
state; a custom operator can keep arbitrary first-seen payloads,
custom timeouts, and custom tie-breaking — the pattern generalizes to
any keyed training-data state (running quality stats, per-source
quotas, online fingerprint registries).

Scale: state is hash-partitioned by key across executors (the shuffle
is the groupBy); each micro-batch touches only its keys' state. Arrow
batches move rows to Python — the per-key pandas work is O(batch).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def streaming_dedup(
    sdf: DataFrame,
    key: str,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Emit the first row per ``key`` value ever seen on the stream;
    drop every later occurrence. ``timeout`` ∈ {"NoTimeout",
    "ProcessingTimeTimeout"} — with a timeout, idle keys are evicted
    and may re-emit after expiry (retention-bounded dedup)."""
    out_schema: StructType = sdf.schema
    state_schema = StructType.fromDDL("seen boolean")
    timeout_conf = {
        "NoTimeout": GroupStateTimeout.NoTimeout,
        "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
    }[timeout]

    def _dedup(
        key_tuple: Any,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            # key already emitted in an earlier batch: consume & drop
            for _ in batches:
                pass
            return
        first = None
        for pdf in batches:
            if len(pdf) and first is None:
                first = pdf.iloc[:1]
        state.update((True,))
        if timeout == "ProcessingTimeTimeout":
            state.setTimeoutDuration(24 * 3600 * 1000)
        if first is not None:
            yield first

    return (
        sdf.groupBy(key)
        .applyInPandasWithState(
            _dedup, out_schema, state_schema, "append", timeout_conf
        )
    )


# --------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 stateful API): per-key token
# quota enforcement.
# --------------------------------------------------------------------------

try:  # Spark >= 4.0 only
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    HAS_TWS = True
except ImportError:  # pragma: no cover
    StatefulProcessor = object  # type: ignore[assignment,misc]
    HAS_TWS = False


def tws_runtime_available() -> bool:
    """transformWithState's Python<->JVM state protocol is protobuf-
    based; without google.protobuf the driver worker crashes at init.
    Gate callers so they can fall back to applyInPandasWithState."""
    if not HAS_TWS:
        return False
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class TokenQuotaProcessor(StatefulProcessor):
    """Per-key cumulative token budget: rows pass through, in
    ``order_col`` order, until the RUNNING TOTAL of ``token_col``
    (counting every row seen, kept or not) exceeds ``budget`` — the
    'cap each source's contribution to the training mix' operator.

    Semantics are 'truncate at overflow': a row is emitted iff the
    cumulative token count up to and including it is <= budget. That
    makes the operator order-deterministic AND expressible as a batch
    window-cumsum (workloads/corpus_quality.py::corpus_token_quota is
    the oracle-paired twin; the parity test drives both).

    State is ONE bigint per key (the running total) in the state
    store — hash-partitioned by key, constant size per key no matter
    how many rows stream through. Uses the Spark 4 transformWithState
    ValueState API rather than applyInPandasWithState's whole-state
    tuple: the handle supports typed value/list/map state and timers,
    which is the pattern to extend for per-key quota *windows* (e.g.
    daily budgets via timers).
    """

    def __init__(self, order_col: str, token_col: str, budget: int):
        self.order_col = order_col
        self.token_col = token_col
        self.budget = budget

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._used = handle.getValueState("used", "used bigint")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        chunks = [pdf for pdf in rows if len(pdf)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            .sort_values(self.order_col, kind="mergesort")
        )
        prev = self._used.get()[0] if self._used.exists() else 0
        cum = prev + pdf[self.token_col].cumsum()
        keep = pdf[cum <= self.budget].copy()
        keep["used_after"] = cum[cum <= self.budget]
        # every row seen advances the cursor, kept or dropped —
        # matches the batch twin's cumsum over ALL rows
        self._used.update((int(cum.iloc[-1]),))
        if len(keep):
            yield keep

    def close(self) -> None:
        pass


def streaming_token_quota(
    sdf: DataFrame,
    key: str,
    order_col: str,
    token_col: str,
    budget: int,
    output_schema: str,
    impl: str = "auto",
) -> DataFrame:
    """Per-key token quota on a stream grouped by ``key``.

    ``impl="transform_with_state"`` uses :class:`TokenQuotaProcessor`
    (requires the RocksDB state store — callers set
    ``spark.sql.streaming.stateStore.providerClass`` — and a Python
    runtime with google.protobuf). ``impl="apply_in_pandas"`` uses an
    applyInPandasWithState twin with IDENTICAL semantics.
    ``impl="auto"`` picks transformWithState when its runtime is
    available. Both keep one bigint of state per key."""
    if impl == "auto":
        impl = (
            "transform_with_state"
            if tws_runtime_available()
            else "apply_in_pandas"
        )
    if impl == "transform_with_state":
        return sdf.groupBy(key).transformWithStateInPandas(
            statefulProcessor=TokenQuotaProcessor(
                order_col, token_col, budget
            ),
            outputStructType=output_schema,
            outputMode="Append",
            timeMode="None",
        )
    if impl != "apply_in_pandas":
        raise ValueError(f"unknown impl {impl!r}")

    out_schema = StructType.fromDDL(output_schema)
    state_schema = StructType.fromDDL("used bigint")

    def _quota(
        key_tuple: Any,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            order_col, kind="mergesort"
        )
        prev = state.get[0] if state.exists else 0
        cum = prev + pdf[token_col].cumsum()
        keep = pdf[cum <= budget].copy()
        keep["used_after"] = cum[cum <= budget]
        state.update((int(cum.iloc[-1]),))
        if len(keep):
            yield keep[[f.name for f in out_schema.fields]]

    return sdf.groupBy(key).applyInPandasWithState(
        _quota,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


class SeenRecentlyDedupProcessor(StatefulProcessor):
    """Streaming first-occurrence filter with TTL-BOUNDED state: the
    first row per key passes, repeats are dropped while the key's
    marker state lives; the marker expires after ``ttl_ms`` so the
    state store holds only RECENTLY-seen keys — the property that
    makes exact streaming dedup feasible over unbounded key spaces
    (an un-TTL'd seen-set grows forever; with TTL it is bounded by
    the key arrival rate × the window you actually care about,
    e.g. "suppress duplicate events within 24h").

    Extends the state-API surface past TokenQuotaProcessor's plain
    ValueState: the marker uses ``getValueState(ttlDurationMs=...)``,
    Spark's native state TTL (per-entry, enforced by the state
    store — no timers or manual sweep needed).
    """

    def __init__(self, order_col: str, ttl_ms: int = 24 * 3600 * 1000):
        self.order_col = order_col
        self.ttl_ms = ttl_ms

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._seen = handle.getValueState(
            "seen", "seen tinyint", ttlDurationMs=self.ttl_ms
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        chunks = [pdf for pdf in rows if len(pdf)]
        if not chunks:
            return
        if self._seen.exists():
            return  # repeat within TTL → drop everything for this key
        pdf = (
            pd.concat(chunks, ignore_index=True)
            .sort_values(self.order_col, kind="mergesort")
            .head(1)  # bound: one row — first occurrence, deterministic order
        )
        self._seen.update((1,))
        yield pdf

    def close(self) -> None:
        pass


def streaming_seen_dedup(
    sdf: DataFrame,
    key: str,
    order_col: str,
    output_schema: str,
    ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """First-occurrence-per-key stream filter with TTL-bounded state
    (requires the transformWithState runtime; callers gate on
    ``tws_runtime_available()``)."""
    return sdf.groupBy(key).transformWithStateInPandas(
        SeenRecentlyDedupProcessor(order_col, ttl_ms),
        outputStructType=output_schema,
        outputMode="Append",
        timeMode="ProcessingTime",
    )


# --------------------------------------------------------------------------
# Streaming EWMA (α = 1/2): per-key smoothed metric with ValueState.
# --------------------------------------------------------------------------


def streaming_ewma(
    sdf: DataFrame,
    key: str = "event_type",
    order_col: str = "day",
    value_col: str = "cents",
) -> DataFrame:
    """Streaming twin of ``events_ewma_daily``: per key, the α = ½
    recurrence s_t = (x_t + s_{t-1}) / 2 carried across micro-batches
    in ONE scalar of state per key — the canonical 'tiny state, long
    stream' shape (the batch twin recomputes the closed form; the
    stream pays O(1) per arrival). α = ½ keeps every state value an
    exact dyadic double, so batch/stream parity is arithmetic, not
    approximate. Rows within a batch apply in ``order_col`` order;
    emits (key, order, value, ewma) per input row."""
    out_schema = StructType.fromDDL(
        f"{key} string, {order_col} date, value double, ewma double"
    )
    state_schema = StructType.fromDDL("s double, seeded boolean")

    def _ewma(
        key_tuple: Any,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        s, seeded = state.get if state.exists else (0.0, False)
        rows = pd.concat(list(batches), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values(order_col)
        out_ord, out_val, out_ewma = [], [], []
        for _, r in rows.iterrows():
            x = float(r[value_col])
            s = x if not seeded else (x + s) / 2.0
            seeded = True
            out_ord.append(r[order_col])
            out_val.append(x / 100.0)
            out_ewma.append(s / 100.0)
        state.update((s, seeded))
        yield pd.DataFrame({
            key: key_tuple[0],
            order_col: out_ord,
            "value": out_val,
            "ewma": out_ewma,
        })

    return sdf.groupBy(key).applyInPandasWithState(
        _ewma, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming Holt linear smoothing: per-key (level, trend) ValueState.
# --------------------------------------------------------------------------


def streaming_holt(
    sdf: DataFrame,
    key: str = "event_type",
    order_col: str = "day",
    value_col: str = "cents",
) -> DataFrame:
    """Streaming twin of ``events_holt_linear``: the two coupled state
    scalars (level, trend) carried across micro-batches — seed sets
    (l, b) = (x, 0); every later arrival applies
    l' = ½x + ½(l+b), b' = ½(l'−l) + ½b in arrival order. The batch
    twin folds the identical recurrence per key in one applyInPandas
    pass, so batch/stream parity is bit-exact (same IEEE op sequence
    — no snapping needed, unlike the EWMA twin's weighted-term form).
    Emits (key, order, value, level, trend, forecast_next) per row,
    scaled /100 like the batch workload's pre-rounding values."""
    out_schema = StructType.fromDDL(
        f"{key} string, {order_col} date, value double, level double,"
        " trend double, forecast_next double"
    )
    state_schema = StructType.fromDDL("l double, b double, seeded boolean")

    def _holt(
        key_tuple: Any,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        l, b, seeded = state.get if state.exists else (0.0, 0.0, False)
        rows = pd.concat(list(batches), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values(order_col)
        out = {"ord": [], "val": [], "l": [], "b": [], "f": []}
        for _, r in rows.iterrows():
            x = float(r[value_col])
            if not seeded:
                l, b, seeded = x, 0.0, True
            else:
                l_new = 0.5 * x + 0.5 * (l + b)
                b = 0.5 * (l_new - l) + 0.5 * b
                l = l_new
            out["ord"].append(r[order_col])
            out["val"].append(x / 100.0)
            out["l"].append(l / 100.0)
            out["b"].append(b / 100.0)
            out["f"].append((l + b) / 100.0)
        state.update((l, b, seeded))
        yield pd.DataFrame({
            key: key_tuple[0],
            order_col: out["ord"],
            "value": out["val"],
            "level": out["l"],
            "trend": out["b"],
            "forecast_next": out["f"],
        })

    return sdf.groupBy(key).applyInPandasWithState(
        _holt, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming Holt-Winters: per-key (level, trend, 7-slot seasonal ring).
# --------------------------------------------------------------------------


def streaming_holt_winters(
    sdf: DataFrame,
    key: str = "event_type",
    order_col: str = "day",
    value_col: str = "cents",
    period: int = 7,
) -> DataFrame:
    """Streaming twin of ``events_holt_winters_weekly``: level, trend
    and the ``period``-slot seasonal ring carried in ONE ValueState
    row per key. The first ``period`` arrivals only accumulate a
    burn-in buffer (emitting nothing — the batch workload's output
    also starts after the seed week); the ``period``-th arrival
    initializes l = mean(buffer) (integer sum, then one /period
    divide — the batch fold's exact op order), b = 0 and
    s_i = x_i − l, and every later arrival applies the α=β=γ=½
    recurrence and rotates the ring. Identical IEEE sequence to the
    batch applyInPandas fold, so parity is exact equality after
    Spark-side rounding (tests/test_stream_holt_winters.py) — the
    same convention as streaming_holt / streaming_ewma.

    State size is 3 + period doubles per key — watermark-free
    (NoTimeout) because keys are the small event-type dimension; for
    an unbounded key space attach a timeout like the session twin."""
    out_schema = StructType.fromDDL(
        f"{key} string, {order_col} date, value double, level double,"
        " trend double, seasonal double, forecast_next double"
    )
    state_schema = StructType.fromDDL(
        "l double, b double, s array<double>, buf array<bigint>,"
        " seeded boolean"
    )

    def _hw(
        key_tuple: Any,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.exists:
            l, b, s, buf, seeded = state.get
            s = list(s) if s is not None else []
            buf = list(buf) if buf is not None else []
        else:
            l, b, s, buf, seeded = 0.0, 0.0, [], [], False
        rows = pd.concat(list(batches), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values(order_col)
        out = {"ord": [], "val": [], "l": [], "b": [], "sn": [], "f": []}
        for _, r in rows.iterrows():
            xi = int(r[value_col])
            x = float(xi)
            if not seeded:
                buf.append(xi)
                if len(buf) == period:
                    # batch parity: integer sum, ONE float divide
                    l = sum(buf) / float(period)
                    b = 0.0
                    s = [float(v) - l for v in buf]
                    buf = []
                    seeded = True
                continue
            l_new = 0.5 * (x - s[0]) + 0.5 * (l + b)
            b = 0.5 * (l_new - l) + 0.5 * b
            l = l_new
            s_new = 0.5 * (x - l_new) + 0.5 * s[0]
            s = s[1:] + [s_new]
            out["ord"].append(r[order_col])
            out["val"].append(x / 100.0)
            out["l"].append(l / 100.0)
            out["b"].append(b / 100.0)
            out["sn"].append(s_new / 100.0)
            out["f"].append((l + b + s[0]) / 100.0)
        state.update((l, b, s, buf, seeded))
        if not out["ord"]:
            return
        yield pd.DataFrame({
            key: key_tuple[0],
            order_col: out["ord"],
            "value": out["val"],
            "level": out["l"],
            "trend": out["b"],
            "seasonal": out["sn"],
            "forecast_next": out["f"],
        })

    return sdf.groupBy(key).applyInPandasWithState(
        _hw, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )
