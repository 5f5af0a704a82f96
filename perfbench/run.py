"""Benchmark of the datanika_core_spark engine: one workload per run.

    python3 perfbench/run.py --workload analytics_headline --seed 1 \
        --seconds 10 --trace 0

Works from any working directory. Builds a Spark session on
``local[nproc]`` with its own warehouse, Derby home, Spark local dir
and temp dir under ``.bench_run/`` of the checkout (removed at exit),
sets the workload up, runs whole rounds of it for ``--seconds``
seconds, checks the results, and prints ONE JSON line last on
stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones; see perfbench/README.md. Host and noise telemetry and
every latency sample go to ``.bench_out/<workload>-s<seed>-t<trace>.json``
(or ``--artifact``). Exit code 1 when a check fails, 2 when the
engine package is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM = "2g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analytics_headline", "elt_daily"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", default=None)
    return ap.parse_args(argv)


def _environment(work: Path) -> None:
    """Keep every file the run writes inside ``work``, and let the
    Python workers import the engine from any working directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    paths = [str(ROOT), str(HERE), str(ROOT / "tools")]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEM} pyspark-shell")
    sys.path[:0] = paths
    import tempfile

    tempfile.tempdir = str(tmp)


def _spark(work: Path, nproc: int):
    from datanika_core_spark.session import build_spark

    java_opts = " ".join((
        f"-Xms{DRIVER_MEM}",  # a fixed heap: no resizing mid-run
        f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={work / 'derby.log'}",
        f"-Djava.io.tmpdir={work / 'tmp'}",
    ))
    return build_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        warehouse_dir=str(work / "warehouse"),
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": str(work / "spark-local"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )


def _stop(spark) -> None:
    """Stop Spark, then close the gateway JVM's stdin, on which it
    exits, and wait for it: the next run must not share the host with
    this one's JVM shutdown."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _instrument(tracer):
    """(owner, attribute, wrapper) for every public entry point the
    traced run times. Module functions are replaced in every engine
    module that imported them by name."""
    import datanika_core_spark.blocks as blocks
    import datanika_core_spark.orchestration.catalog_meta as catalog_meta
    import datanika_core_spark.plans.autocomplete as autocomplete
    import datanika_core_spark.plans.model_tests as model_tests
    import datanika_core_spark.plans.preview as preview
    import datanika_core_spark.plans.resolver as resolver
    import datanika_core_spark.session as session
    from datanika_core_spark.ingest import IngestionJob
    from datanika_core_spark.operators.scd2 import SnapshotRunner
    from datanika_core_spark.operators.writers import TableWriter
    from datanika_core_spark.orchestration.catalog_meta import CatalogStore
    from datanika_core_spark.orchestration.dependencies import (
        DependencyGraph,
    )
    from datanika_core_spark.orchestration.runs import RunLedger
    from datanika_core_spark.plans.materialize import Materializer

    functions = [
        ("session", session, "read_table"),
        ("plans.test", model_tests, "run_test"),
        ("plans.compile", resolver, "compile_model"),
        ("plans.preview", preview, "preview"),
        ("plans.autocomplete", autocomplete, "suggest"),
        ("orchestration.introspect", catalog_meta, "introspect_database"),
        ("blocks", blocks, "release_blocks"),
    ]
    methods = [
        ("ingest", IngestionJob, "run"),
        ("writers", TableWriter, "write"),
        ("scd2", SnapshotRunner, "run"),
        ("plans.build", Materializer, "run_model"),
        ("orchestration.ledger", RunLedger, "create"),
        ("orchestration.ledger", RunLedger, "start"),
        ("orchestration.ledger", RunLedger, "complete"),
        ("orchestration.gate", DependencyGraph, "check_gate"),
        ("orchestration.catalog_sync", CatalogStore, "sync_from_database"),
    ]
    out = []
    for layer, owner, attr in methods:
        out.append((owner, attr, tracer.wrap(layer, getattr(owner, attr))))
    engine = [m for n, m in list(sys.modules.items())
              if m is not None and n.startswith("datanika_core_spark")]
    for layer, mod, attr in functions:
        orig = getattr(mod, attr)
        wrapped = tracer.wrap(layer, orig)
        for m in engine:
            if getattr(m, attr, None) is orig:
                out.append((m, attr, wrapped))
    return out


def _versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
    }


def _loadavg():
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def _cpu_jiffies() -> list[int]:
    """Host-wide user..steal jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _cpu_probe() -> float:
    """Best of five timings of a fixed single-threaded Python loop, in
    ms: a host speed reading taken at the start and end of a run."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


def _end_to_end(by_kind, setup_s, rss_mb) -> dict:
    """The user-visible metrics from the untraced rounds' samples,
    grouped by operation kind; a round runs each kind once. ``pass_s``
    and ``geomean_ms`` take each kind at its best over the summarised
    rounds: contention from other tenants of the host only ever adds
    time, and the first round still carries compilation of the measured
    path."""
    from measure import geomean

    best = {k: min(v) for k, v in by_kind.items()}
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (sum(best.values()), "s"),
        "geomean_ms": (geomean(best.values()) * 1e3, "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def _per_layer(wl, tracer, rounds) -> dict:
    """Per-round means over the traced rounds (a round is one pass of
    the headline queries, or one day), warehouse space at the end of
    the run, and the tracing overhead."""
    from measure import dir_usage, overhead_ratio

    ops = tracer.ops

    def per_round(fn) -> float:
        return sum(fn(o) for o in ops) / len(rounds[True])

    def st(layer):
        return per_round(lambda o: o.self_s.get(layer, 0.0))

    def jobs(layer):
        return per_round(lambda o: o.counters.get(layer, {}).get("jobs", 0))

    def total(key, prefix=""):
        return per_round(lambda o: sum(
            c[key] for lay, c in o.counters.items() if lay.startswith(prefix)))

    def fact(name):
        return per_round(lambda o: o.facts.get(name, 0))

    written = total("output_bytes")
    batch = fact("batch_bytes")
    wh_bytes, wh_files = dir_usage(wl.warehouse)
    return {
        "session.read_table_s": (st("session"), "s"),
        "session.read_table_calls": (per_round(lambda o: o.calls("session")),
                                     "count"),
        "session.read_table_jobs": (jobs("session"), "count"),
        "workloads.construct_s": (st("workloads"), "s"),
        "workloads.construct_jobs": (jobs("workloads"), "count"),
        "catalyst.plan_s": (st("catalyst"), "s"),
        "execute.s": (st("execute"), "s"),
        "execute.jobs": (total("jobs"), "count"),
        "execute.stages": (total("stages"), "count"),
        "execute.tasks": (total("tasks"), "count"),
        "execute.failed_tasks": (total("failed_tasks"), "count"),
        "execute.shuffle_write_bytes": (total("shuffle_write_bytes"),
                                        "bytes"),
        "execute.spill_bytes": (total("spill_bytes"), "bytes"),
        "ingest.s": (st("ingest"), "s"),
        "ingest.rows": (fact("rows"), "rows"),
        "ingest.jobs": (jobs("ingest"), "count"),
        "writers.s": (st("writers"), "s"),
        "writers.bytes_written": (written, "bytes"),
        "writers.write_amp": (written / batch if batch else 0.0, "ratio"),
        "scd2.snapshot_s": (st("scd2"), "s"),
        "plans.build_s": (st("plans.build"), "s"),
        "plans.test_s": (st("plans.test"), "s"),
        "plans.compile_s": (st("plans.compile"), "s"),
        "plans.preview_s": (st("plans.preview"), "s"),
        "plans.autocomplete_s": (st("plans.autocomplete"), "s"),
        "plans.jobs": (total("jobs", "plans."), "count"),
        "orchestration.ledger_s": (st("orchestration.ledger"), "s"),
        "orchestration.ledger_files": (fact("ledger_files"), "count"),
        "orchestration.catalog_sync_s": (
            st("orchestration.catalog_sync"), "s"),
        "orchestration.gate_s": (st("orchestration.gate"), "s"),
        "orchestration.introspect_s": (st("orchestration.introspect"), "s"),
        "warehouse.bytes": (wh_bytes, "bytes"),
        "warehouse.files": (wh_files, "count"),
        "warehouse.space_amp": (wh_bytes / wl.input_bytes, "ratio"),
        "blocks.release_s": (st("blocks"), "s"),
        "harness.s": (st(tracer.ROOT), "s"),
        # the share of the operations' wall time no layer span covers
        "trace.harness_share": (
            sum(o.self_s.get(tracer.ROOT, 0.0) for o in ops)
            / sum(o.wall_s for o in ops), "ratio"),
        "trace.overhead_ratio": (
            overhead_ratio(rounds[False][1:], rounds[True]), "ratio"),
    }


@dataclass
class Rounds:
    samples: list = field(default_factory=list)  # (round, kind, seconds)
    rounds: dict = field(default_factory=lambda: {False: [], True: []})
    attempted: int = 0
    failed: int = 0


def _run_rounds(wl, tracer, rng, seconds) -> Rounds:
    """Whole rounds until ``seconds`` have passed and ``wl.rounds``
    rounds ran, or ``wl.max_rounds`` rounds ran. With a tracer, a
    first untraced round is the measured path's warm-up; then traced
    and untraced rounds alternate, at least one of them traced, so each
    traced round is bracketed by untraced ones on the same data and
    session. Only untraced operations are sampled. ``release_blocks`` runs after
    every operation, outside its sample but inside its round (and
    inside a traced operation, where it is the ``blocks`` layer)."""
    from datanika_core_spark import blocks
    from measure import NullTracer, patched

    hooks = _instrument(tracer) if tracer else []
    untraced = NullTracer()
    out = Rounds()
    t0 = time.perf_counter()
    while True:
        n_u, n_t = len(out.rounds[False]), len(out.rounds[True])
        if n_u + n_t == wl.max_rounds or (
                time.perf_counter() - t0 >= seconds and (
                    n_t >= 1 and n_u > n_t + 1 if tracer
                    else n_u >= wl.rounds)):
            return out
        traced = tracer is not None and n_t < n_u - 1
        wl.tr = tracer if traced else untraced
        r0 = time.perf_counter()
        with patched(hooks if traced else []):
            for i, (kind, fn) in enumerate(wl.round(rng)):
                out.attempted += 1
                o0 = time.perf_counter()
                try:
                    if traced:
                        with tracer.op(f"r{n_t}o{i}"):
                            fn()
                            blocks.release_blocks(wl.spark)
                            o1 = time.perf_counter()
                        tracer.ops[-1].wall_s = o1 - o0
                        tracer.ops[-1].facts = wl.op_facts()
                    else:
                        fn()
                        out.samples.append(
                            (n_u, kind, time.perf_counter() - o0))
                        blocks.release_blocks(wl.spark)
                except Exception:  # noqa: BLE001 - counted and reported
                    out.failed += 1
                    traceback.print_exc()
        out.rounds[traced].append(time.perf_counter() - r0)


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "datanika_core_spark" / "__init__.py").is_file():
        print(f"perfbench: no datanika_core_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    load0, cpu0, probe0 = _loadavg(), _cpu_jiffies(), _cpu_probe()
    nproc = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = ROOT / ".bench_run" / f"{tag}-{os.getpid()}"
    artifact = Path(args.artifact) if args.artifact else (
        ROOT / ".bench_out" / f"{tag}.json")
    _environment(work)
    spark = None
    try:
        from measure import Tracer, peak_rss_mb, summary
        from scenarios import WORKLOADS

        phases = {"imports_s": time.perf_counter() - T_START}
        spark = _spark(work, nproc)
        phases["spark_s"] = time.perf_counter() - T_START
        wl = WORKLOADS[args.workload](spark, str(work), args.seed)
        wl.setup()
        phases["workload_setup_s"] = (time.perf_counter() - T_START
                                      - phases["spark_s"])
        # input preparation and DuckDB oracle queries: not the engine's
        phases["untimed_s"] = wl.untimed_s
        setup_s = time.perf_counter() - T_START - wl.untimed_s

        tracer = Tracer(spark) if args.trace else None
        run = _run_rounds(wl, tracer, random.Random(args.seed), args.seconds)
        rss = peak_rss_mb(spark)  # before the check's DuckDB queries
        t_check = time.perf_counter()
        problems = wl.check()
        check_s = time.perf_counter() - t_check
        # Metrics read the first ``wl.rounds`` rounds only, so every run
        # summarises the same warm-up state whatever the host's speed.
        by_kind: dict[str, list[float]] = {}
        for r, kind, sec in run.samples:
            if r < wl.rounds:
                by_kind.setdefault(kind, []).append(sec)
        if tracer:
            metrics = _per_layer(wl, tracer, run.rounds)
        else:
            metrics = _end_to_end(by_kind, setup_s, rss)
        telemetry = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "nproc": nproc, "loadavg_start": load0, "loadavg_end": _loadavg(),
            "cpu_steal_share": _steal_share(cpu0, _cpu_jiffies()),
            "cpu_probe_ms": {"start": probe0, "end": _cpu_probe()},
            "versions": _versions(spark),
            "setup_s": setup_s, "setup_phases": phases, "check_s": check_s,
            "peak_rss_mb": rss, "rounds": {"untraced": run.rounds[False],
                                           "traced": run.rounds[True]},
            "samples": {k: dict(summary(v), values=v)
                        for k, v in sorted(by_kind.items())},
            "problems": problems,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        if tracer:
            telemetry["ops"] = [
                {"op": o.op, "wall_s": o.wall_s, "self_s": o.self_s,
                 "counters": o.counters} for o in tracer.ops
            ]
        artifact.parent.mkdir(parents=True, exist_ok=True)
        artifact.write_text(json.dumps(telemetry, indent=1))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    correct = not problems and run.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
