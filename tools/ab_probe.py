"""A/B probe for optimization rounds: time named registry queries in
ONE warm session (interleaved reps, release_blocks between executions
— the bench.py discipline) and/or dump their `.explain("formatted")`.

Usage:
    python tools/ab_probe.py --plans OUTDIR[:SUFFIX] name [name ...]
    python tools/ab_probe.py --time N name [name ...]

Timing uses the noop sink (guide §1.4) so the computation is timed,
not the output write; jobs are labelled (guide §1.5). Plans are
tools/plan_audit.py's plan_text (the AQE-off static plan; runtime AQE
can only improve on it) passed through its normalise_plan, so dumps of
two checkouts diff clean unless the plans differ.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    args = sys.argv[1:]
    plans_dir = suffix = None
    reps = 0
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--plans":
            spec = args[i + 1]
            plans_dir, _, suffix = spec.partition(":")
            suffix = suffix or "plan"
            i += 2
        elif args[i] == "--time":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--driver-memory 8g pyspark-shell"
    )

    from datanika_core_spark.blocks import release_blocks
    from datanika_core_spark.session import build_spark
    from datanika_core_spark.workloads import load_all
    from tools.plan_audit import aqe_off, normalise_plan, plan_text

    spark = build_spark(app_name="ab_probe")
    registry = load_all()
    missing = [n for n in names if n not in registry]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    if plans_dir:
        out = Path(plans_dir)
        out.mkdir(parents=True, exist_ok=True)
        for n in names:
            with aqe_off(spark):
                text = plan_text(registry[n].fn(spark, sf_dir))
            (out / f"{n}_{suffix}.txt").write_text(normalise_plan(text))
            release_blocks(spark)
            print(f"wrote {out / f'{n}_{suffix}.txt'}")

    if reps:
        # warmup (JVM/codegen/Arrow spin-up, untimed)
        warm = registry[names[0]].fn(spark, sf_dir)
        warm.write.format("noop").mode("overwrite").save()
        release_blocks(spark)
        samples: dict[str, list[float]] = {n: [] for n in names}
        for rep in range(reps):
            for n in names:
                spark.sparkContext.setJobDescription(f"ab:{n}")
                t0 = time.perf_counter()
                df = registry[n].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                spark.sparkContext.setJobDescription(None)
                samples[n].append(dt)
                release_blocks(spark)
        for n, s in samples.items():
            med = sorted(s)[len(s) // 2]
            print(f"TIME {n}: median={med:.3f}s all={[round(x, 3) for x in s]}")
    spark.stop()


if __name__ == "__main__":
    main()
