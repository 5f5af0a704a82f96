"""Interactive preview semantics (Q2).

Reference: strip trailing ``;``, inject ``LIMIT 5`` unless the SQL
already contains a LIMIT matching ``\\bLIMIT\\s+\\d+`` (case
insensitive), execute, stringify cells with None→""
(/root/reference/datanika/ui/state/transformation_state.py:404-445,
459-535; LIMIT regex at 430-432,519-521).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

PREVIEW_LIMIT = 5
_LIMIT_RE = re.compile(r"\bLIMIT\s+\d+", re.IGNORECASE)


def inject_limit(sql: str, limit: int = PREVIEW_LIMIT) -> str:
    """Apply the reference's LIMIT-injection rule to a SQL string."""
    q = sql.strip().rstrip(";").strip()
    if _LIMIT_RE.search(q):
        return q
    return f"{q} LIMIT {limit}"


def preview(spark: SparkSession, sql: str, limit: int = PREVIEW_LIMIT):
    """Run a preview query; returns (columns, rows) with every cell
    stringified and None→'' (parity with transformation_state.py:436-443)."""
    df = spark.sql(inject_limit(sql, limit))
    cols = df.columns
    rows = [
        ["" if v is None else str(v) for v in row]
        for row in df.collect()  # bound: inject_limit caps the rows
    ]
    return cols, rows
