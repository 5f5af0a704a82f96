"""Measurement helpers: latency statistics, spans with self-time
attribution, Spark job/stage counters per layer, warehouse space and
process memory.

The pure functions at the top (``geomean``, ``overhead_ratio``,
``self_times``, ``dir_usage``) carry no Spark dependency and are unit
tested in ``perfbench/tests``.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def overhead_ratio(untraced: list[float], traced: list[float]) -> float:
    """Mean over traced rounds of each one's time over the mean of the
    untraced rounds just before and after it (rounds alternate, an
    untraced one first); a last traced round with no untraced round
    after it is left out. Bracketing cancels the warm-up trend that
    makes every round faster than the one before."""
    return statistics.mean(t / ((before + after) / 2) for t, before, after
                           in zip(traced, untraced, untraced[1:]))


def summary(values) -> dict:
    """Median and [min, max] of one sample list, for the artifact."""
    xs = list(values)
    return {"n": len(xs), "median": statistics.median(xs),
            "min": min(xs), "max": max(xs)}


@dataclass
class Span:
    sid: int
    layer: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None


def self_times(spans: list[Span]) -> dict[str, float]:
    """Exclusive seconds per layer for the spans of ONE operation.

    Every instant between the earliest start and the latest end is
    charged to the innermost spans open at that instant: an open span
    is innermost when none of its descendants is open too. Concurrent
    innermost spans (model threads of one DAG level) split the instant
    equally, so the per-layer totals always sum to the covered wall
    time, with overlap and without double counting. The sum is the
    root span's length by construction; time no layer covers is the
    root's own."""
    if not spans:
        return {}
    by_id = {s.sid: s for s in spans}

    def ancestors(s: Span) -> set[int]:
        out, p = set(), s.parent
        while p is not None and p in by_id:
            out.add(p)
            p = by_id[p].parent
        return out

    anc = {s.sid: ancestors(s) for s in spans}
    cuts = sorted({t for s in spans for t in (s.start, s.end)})
    out: dict[str, float] = {}
    for t0, t1 in zip(cuts, cuts[1:]):
        open_ = [s for s in spans if s.start <= t0 and s.end >= t1]
        if not open_:
            continue
        inner_ids = {a for s in open_ for a in anc[s.sid]}
        leaves = [s for s in open_ if s.sid not in inner_ids]
        share = (t1 - t0) / len(leaves)
        for s in leaves:
            out[s.layer] = out.get(s.layer, 0.0) + share
    return out


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``, checksum
    and marker files included: they are space the warehouse uses."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """The gateway JVM's VmHWM plus this Python process's ru_maxrss."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                  .current().pid())
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_status_kb(jvm_pid, "VmHWM") + py_kb) / 1024.0


# -- tracing ----------------------------------------------------------------

_STAGE_FIELDS = ("stages", "tasks", "failed_tasks", "shuffle_write_bytes",
                 "spill_bytes", "output_bytes")


@dataclass
class OpTrace:
    """Spans and per-layer Spark counters of one operation."""

    op: str
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, dict[str, float]] = field(default_factory=dict)
    self_s: dict[str, float] = field(default_factory=dict)
    #: the harness's own timing of the operation, outside every span
    wall_s: float = 0.0
    #: numbers the tracer cannot see (rows loaded, batch bytes, ...)
    facts: dict = field(default_factory=dict)

    def calls(self, layer: str) -> int:
        return sum(1 for s in self.spans if s.layer == layer)


class NullTracer:
    """Stand-in for ``Tracer`` in untraced rounds: spans cost nothing."""

    traced = False

    def span(self, layer):
        return nullcontext()


class Tracer:
    """Spans around layer calls plus a Spark job group per call.

    ``op(name)`` opens the root span of one operation (a query or a
    step of a day); ``span(layer)`` opens a nested one. Spans opened
    on a thread with no open span of its own (the model runner's
    worker threads) hang under the operation's root. Around each span
    the thread's job group is ``<op>:<layer>``, so the status tracker
    charges every job, stage and task to the layer that started it.
    Spans stay in memory; counters are read once per operation."""

    ROOT = "harness"
    traced = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ops: list[OpTrace] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self._cur: OpTrace | None = None
        self._groups: dict[str, str] = {}

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def op(self, name: str):
        self._cur = OpTrace(name)
        with self.span(self.ROOT):
            yield
        self._cur.self_s = self_times(self._cur.spans)
        self._collect(self._cur)
        self.ops.append(self._cur)
        self._cur = None

    @contextmanager
    def span(self, layer: str):
        cur = self._cur
        if cur is None:
            yield
            return
        stack = self._stack()
        parent = stack[-1].sid if stack else (
            cur.spans[0].sid if cur.spans else None)
        group = f"{cur.op}:{layer}"
        with self._lock:  # model-runner threads open spans concurrently
            self._ids += 1
            s = Span(self._ids, layer, cur.op, 0.0, parent=parent)
            cur.spans.append(s)
            self._groups[group] = layer
        prev = stack[-1] if stack else None
        stack.append(s)
        self._set_group(group)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(f"{cur.op}:{prev.layer}" if prev else None)

    def wrap(self, layer: str, fn):
        """``fn`` with every call inside a ``layer`` span."""
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def _collect(self, trace: OpTrace) -> None:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for group, layer in list(self._groups.items()):
            if not group.startswith(trace.op + ":"):
                continue
            c = trace.counters.setdefault(
                layer, dict.fromkeys(("jobs",) + _STAGE_FIELDS, 0))
            for jid in st.getJobIdsForGroup(group):
                info = st.getJobInfo(jid)
                c["jobs"] += 1
                if info is None:
                    continue
                for sid in info.stageIds:
                    try:
                        d = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never submitted
                        continue
                    if str(d.status()) == "SKIPPED":  # shuffle reused
                        continue
                    c["stages"] += 1
                    c["tasks"] += d.numTasks()
                    c["failed_tasks"] += d.numFailedTasks()
                    c["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    c["spill_bytes"] += (d.memoryBytesSpilled()
                                         + d.diskBytesSpilled())
                    c["output_bytes"] += d.outputBytes()
            del self._groups[group]


@contextmanager
def patched(targets):
    """Temporarily replace attributes: ``targets`` is a list of
    (owner, attribute, replacement). Restores the originals on exit."""
    saved = [(o, a, getattr(o, a)) for o, a, _ in targets]
    try:
        for o, a, new in targets:
            setattr(o, a, new)
        yield
    finally:
        for o, a, old in reversed(saved):
            setattr(o, a, old)
