"""The plan walker every plan-quality check uses: one node walk, one
AQE-off capture, five detectors, one registry sweep.

AQE must be OFF for any walk: ``AdaptiveSparkPlanExec`` is a LEAF to
``children()``, so an AQE-wrapped plan hides its whole subtree. The
static plan is what the detectors judge; runtime AQE can only
re-pick strategies from measured sizes, which is the safe direction.

Detectors (per physical node unless noted; a flag is a CANDIDATE for
triage, except cartesian and global-window flags, which gate):

- ``broadcast_over_generate``: a BroadcastExchange whose build side
  is fed by a Generate (explode) with no re-bounding aggregate/limit
  between them. Catalyst estimates sizes before the Generate fan-out
  is known, so it can pick an exploded stream as the build side —
  which grows with the corpus until it breaks the broadcast cap.
- ``sort_first``: a global Sort fed by its range Exchange whose
  subtree holds a scan and no OTHER exchange. The range partitioner
  SAMPLES its child with a separate job, so a shuffle-free subtree
  runs twice; hoist expensive projections above the sort or drop a
  cosmetic sort.
- ``subset_exchange``: an Exchange hashpartitioning(B) whose nearest
  exchange below is hashpartitioning(A) with B ⊊ A (counted per
  pair). Re-keying the lower shuffle to B satisfies every clustered
  distribution between them and fuses the two stages onto one
  exchange; measure before shipping, since the re-keyed shuffle
  loses the lower aggregate's map-side combine.
- ``cartesian``: a CartesianProduct anywhere (cached plans included).
- ``global_window`` (optimized logical plan): a Window with an EMPTY
  partition spec that can see a source scan with no aggregate in
  between — a single-partition sort over corpus-sized input. Global
  windows over an aggregated readout grid don't count.

Usage: python tools/plan_audit.py SF_DIR
Prints one JSON object; exits 1 on any cartesian or global-window
flag.
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datanika_core_spark.blocks import release_blocks  # noqa: E402
from datanika_core_spark.session import build_spark  # noqa: E402
from datanika_core_spark.workloads import load_all  # noqa: E402

#: physical nodes that re-bound cardinality below a broadcast build
_BOUNDING_PHYSICAL = (
    "HashAggregate", "SortAggregate", "ObjectHashAggregate",
    "GlobalLimit", "LocalLimit", "TakeOrderedAndProject",
)

#: logical nodes that bound the cardinality flowing into a window:
#: any aggregate collapses the corpus to a readout grid; Range /
#: LocalRelation / limits are small by construction
_BOUNDING_LOGICAL = {
    "Aggregate", "Range", "LocalRelation", "OneRowRelation",
    "GlobalLimit", "LocalLimit", "Deduplicate",
}

_KEY_RE = re.compile(r"hashpartitioning\((.*)\)")
_ATTR_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+")

GATING = ("cartesian", "global_window")


def children(node) -> list:
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


def nodes(root):
    """Every node of a (physical or logical) plan tree, root first."""
    stack = [root]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(children(n))


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def aqe_off(spark):
    return _conf(spark, "spark.sql.adaptive.enabled", "false")


def plan_text(df) -> str:
    """``df.explain("formatted")`` captured with AQE off and scan
    metadata (``DataFilters``, ``PushedFilters``, ``Location``)
    printed in full instead of cut at the default 100 characters."""
    buf = io.StringIO()
    spark = df.sparkSession
    with aqe_off(spark), \
            _conf(spark, "spark.sql.maxMetadataStringLength", "100000"), \
            contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


#: build-specific tokens of a plan string and what they normalise to:
#: expression ids, Connect plan ids, subexpression-elimination and
#: lambda variable counters, JVM object hashes of folded literals, and
#: observe()'s random metric name
_PLAN_NOISE = (
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"@[0-9a-f]+\b"), "@N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"\bx_\d+\b"), "x_N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}"
                r"-[0-9a-f]{12}"), "<uuid>"),
)

_CHECKOUT = str(Path(__file__).resolve().parent.parent)


def normalise_plan(text: str) -> str:
    """``text`` with every token that differs between two builds of
    the same plan replaced (see ``_PLAN_NOISE``) and the checkout
    path shown as ``<checkout>``, so plans of two checkouts diff
    clean unless the plans differ."""
    text = text.replace(_CHECKOUT, "<checkout>")
    for pattern, repl in _PLAN_NOISE:
        text = pattern.sub(repl, text)
    return text


def _cached_plan(node) -> str:
    """Text of the cached plan behind an InMemoryTableScan (a cached
    frame hides its lineage from children()); empty if unreadable."""
    try:
        return node.relation().cachedPlan().toString()
    except Exception:
        return ""


def _generate_reachable(node) -> bool:
    """True if a Generate feeds this subtree with no aggregate/limit
    between it and the root."""
    name = node.nodeName()
    if any(b in name for b in _BOUNDING_PHYSICAL):
        return False
    if name.startswith("Generate"):
        return True
    if name == "InMemoryTableScan":
        # conservative: flag only if a Generate appears with no
        # aggregate anywhere in the cached fragment
        cached = _cached_plan(node)
        return "Generate" in cached and not any(
            b in cached for b in _BOUNDING_PHYSICAL
        )
    return any(_generate_reachable(c) for c in children(node))


def broadcast_over_generate(node) -> bool:
    return (node.nodeName().startswith("BroadcastExchange")
            and _generate_reachable(node))


def _is_global_sort(node) -> bool:
    # the Scala accessor is `global`, a Python keyword; the node
    # string ("Sort [...], true, 0") is the fallback
    try:
        return bool(getattr(node, "global")())
    except Exception:
        return ", true, " in node.simpleStringWithNodeId()


def sort_first(node) -> bool:
    if node.nodeName() != "Sort" or not _is_global_sort(node):
        return False
    kids = children(node)
    # only a Sort fed by an Exchange rangepartitioning has a sampling
    # pass; a global sort over a single partition sorts locally
    if not kids or "rangepartitioning" not in (
        kids[0].toString().splitlines()[0]
    ):
        return False
    below = [n.nodeName() for c in kids for n in nodes(c)]
    # the sort's own range exchange is the first one below it; no
    # OTHER exchange means the sampler re-runs the full subtree
    return sum("Exchange" in nm for nm in below) <= 1 and any(
        "Scan parquet" in nm or "FileSourceScan" in nm for nm in below
    )


def _hash_keys(node) -> frozenset[str] | None:
    """Attribute names of a hashpartitioning Exchange, else None.
    Read from outputPartitioning(): simpleStringWithNodeId() prints
    just "Exchange (unknown)" for ShuffleExchangeExec. Expression ids
    are stripped, so renamed-but-identical attributes are missed."""
    if "Exchange" not in node.nodeName():
        return None
    try:
        part = node.outputPartitioning().toString()
    except Exception:
        return None
    m = _KEY_RE.search(part)
    return frozenset(_ATTR_RE.findall(m.group(1))) if m else None


def _exchanges_below(node):
    """The nearest Exchange on each branch under `node`."""
    stack = children(node)
    while stack:
        n = stack.pop()
        if "Exchange" in n.nodeName():
            yield n
        else:
            stack.extend(children(n))


def subset_exchange(node) -> int:
    upper = _hash_keys(node)
    if not upper:
        return 0
    return sum(
        upper < (_hash_keys(lower) or frozenset())
        for lower in _exchanges_below(node)
    )


def cartesian(node) -> bool:
    name = node.nodeName()
    if name == "InMemoryTableScan":
        return "CartesianProduct" in _cached_plan(node)
    return name == "CartesianProduct"


def _scan_reachable(node) -> bool:
    name = node.nodeName()
    if name in _BOUNDING_LOGICAL:
        return False
    if name == "InMemoryRelation":
        # bounded when the cached plan aggregated (the readout-grid
        # cache pattern), a raw scan otherwise
        try:
            return "Aggregate" not in node.cachedPlan().toString()
        except Exception:
            return True
    if "Relation" in name:  # LogicalRelation / DataSourceV2Relation
        return True
    return any(_scan_reachable(c) for c in children(node))


def global_window(node) -> bool:
    return (node.nodeName() == "Window"
            and node.partitionSpec().isEmpty()
            and any(_scan_reachable(c) for c in children(node)))


PHYSICAL_DETECTORS = {
    "broadcast_over_generate": broadcast_over_generate,
    "sort_first": sort_first,
    "subset_exchange": subset_exchange,
    "cartesian": cartesian,
}


def unbounded_global_windows(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan()
    return sum(global_window(n) for n in nodes(plan))


def plan_flags(df) -> dict[str, int]:
    """Non-zero detector hit counts for one frame's AQE-off plan."""
    with aqe_off(df.sparkSession):
        plan = df._jdf.queryExecution().executedPlan()
    physical = list(nodes(plan))
    counts = {
        det: sum(int(hit(n)) for n in physical)
        for det, hit in PHYSICAL_DETECTORS.items()
    }
    counts["global_window"] = unbounded_global_windows(df)
    return {det: c for det, c in counts.items() if c}


def sweep(spark, sf_dir: str, on_plan=None) -> dict[str, dict]:
    """``{name: plan_flags}`` for every registry entry, or
    ``{name: {"error": type}}`` when its frame fails to build.
    ``on_plan(name, df)`` sees each built frame before its blocks
    are released."""
    out: dict[str, dict] = {}
    with aqe_off(spark):
        for name, wl in sorted(load_all().items()):
            try:
                df = wl.fn(spark, sf_dir)
                out[name] = plan_flags(df)
                if on_plan:
                    on_plan(name, df)
            except Exception as e:  # driver-loop workloads run eagerly
                out[name] = {"error": type(e).__name__}
            finally:
                release_blocks(spark)
    return out


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) != 1:
        print("usage: python tools/plan_audit.py SF_DIR", file=sys.stderr)
        return 2
    sf_dir = args[0]
    spark = build_spark(app_name="plan_audit")
    try:
        flags = sweep(spark, sf_dir)
    finally:
        spark.stop()
    detectors = [*PHYSICAL_DETECTORS, "global_window"]
    summary = {
        det: {
            "plans": sum(bool(f.get(det)) for f in flags.values()),
            "hits": sum(f.get(det, 0) for f in flags.values()),
        }
        for det in detectors
    }
    print(json.dumps({
        "sf_dir": sf_dir,
        "plans": len(flags),
        "failed": sorted(n for n, f in flags.items() if "error" in f),
        "summary": summary,
        "flags": {n: f for n, f in flags.items() if f},
    }, indent=1))
    return int(any(summary[det]["plans"] for det in GATING))


if __name__ == "__main__":
    raise SystemExit(main())
