"""Workload registry: every implemented operator gets a named query
(Spark callable) paired with a DuckDB-runnable ANSI-SQL oracle.

This is the engine's golden corpus (SURVEY.md §5): the driver runs
``queries()[name](spark, sf_dir)`` and the matching ``oracle_sql()``
string side-by-side at sf=0.01 and compares row count + schema +
order-insensitive value hash.

Conventions that make the hashes match:
- Every computed column is aliased identically on both sides.
- Double aggregates are ``round()``-ed (2-6 dp) on both sides so
  summation-order float drift can't flip a bit.
- Any ORDER BY ... LIMIT has a total-order tiebreak so top-k sets are
  deterministic.
- Session timezone is UTC (EngineSession default) so timestamps agree
  with DuckDB's naive reading of the same parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Workload:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    headline: bool = False  # include in bench.py
    doc: str = ""


REGISTRY: dict[str, Workload] = {}


def workload(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    doc: str = "",
):
    """Decorator registering a (spark, sf_dir) -> DataFrame workload."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Workload(name, fn, oracle, headline, doc or (fn.__doc__ or ""))
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table as a DataFrame (parquet scan; Catalyst
    prunes columns + pushes filters into it). Normalizes ns
    timestamps — see session.read_table."""
    from datanika_core_spark.session import read_table

    return read_table(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _recorded_names() -> dict[str, int]:
    """Workload names with a PASSING driver CORRECTNESS row (any
    round), mapped to the MOST RECENT round whose row passed. A row
    counts as recorded only if it passed: no error and no explicit
    mismatch — failed rows sink back into the un-recorded pool so a
    fix gets re-checked in the very next round instead of waiting
    behind the whole backlog. Missing/invalid files mean 'no rows
    yet', never an import error."""
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f.name)
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.loads(f.read_text())
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if isinstance(row, dict):
                if row.get("err") is not None:
                    continue
                if row.get("hash_match") is False:
                    continue
                if row.get("rows_match") is False:
                    continue
                if row.get("schema_match") is False:
                    continue
            # legacy list-of-names format falls through: recorded
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def load_all() -> dict[str, Workload]:
    """Import every workload module, populating REGISTRY."""
    from datanika_core_spark.workloads import (  # noqa: F401
        attribution,
        cdc,
        contamination,
        core_sql,
        corpus_quality,
        curation,
        dataquality,
        elt,
        evalmetrics,
        events,
        frontier,
        graph,
        layout,
        linkage,
        models,
        multimodal,
        packing,
        pipeline,
        retrieval,
        scoring,
        search,
        semdedup,
        similarity,
        sketches,
        stats,
        temporal,
        text_dedup,
        timeseries,
        tpch_extra,
    )

    # Auto-rotation: any workload that already has a recorded row in a
    # CORRECTNESS_r*.json sinks BELOW ones that don't, so the driver's
    # first-50 check window always prioritizes unverified queries.
    # Within the recorded group, STALEST EVIDENCE FIRST: entries whose
    # most recent passing row is oldest float to the top, so the
    # 50-slot window re-verifies the whole registry on a rolling
    # ~|registry|/50-round cycle even when nothing is new. The sort is
    # stable, so equal evidence keeps REGISTRY registration order.
    recorded = _recorded_names()

    def sort_key(item):
        n = item[0]
        return (n in recorded, recorded.get(n, 0))

    return dict(sorted(REGISTRY.items(), key=sort_key))
