"""Source freshness (T15).

Reference: ``dbt source freshness`` with per-source
``loaded_at_field`` + warn_after/error_after thresholds from the
connection's freshness_config (dbt_project.py:749-772,
connection.py:46). Status = pass | warn | error by the age of
``max(loaded_at_field)`` relative to now (injectable ``as_of`` for
determinism).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.errors import ValidationError

_UNITS = {"minute": 60, "hour": 3600, "day": 86400}


def _seconds(count: int, period: str) -> int:
    period = period.rstrip("s")
    if period not in _UNITS:
        raise ValidationError(f"freshness period must be one of {set(_UNITS)}")
    return count * _UNITS[period]


@dataclass
class FreshnessResult:
    table: str
    max_loaded_at: dt.datetime | None
    age_seconds: float | None
    status: str  # pass | warn | error


def check_freshness(
    spark: SparkSession,
    table: str,
    loaded_at_field: str,
    warn_after: tuple[int, str] | None = None,
    error_after: tuple[int, str] | None = None,
    as_of: dt.datetime | None = None,
) -> FreshnessResult:
    row = spark.table(table).agg(
        F.max(loaded_at_field).alias("m")
    ).collect()[0]  # bound: one aggregate row
    max_loaded = row["m"]
    if max_loaded is None:
        return FreshnessResult(table, None, None, "error")
    now = as_of or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    if max_loaded.tzinfo is not None:
        max_loaded = max_loaded.astimezone(dt.timezone.utc).replace(tzinfo=None)
    age = (now - max_loaded).total_seconds()
    status = "pass"
    if error_after and age > _seconds(*error_after):
        status = "error"
    elif warn_after and age > _seconds(*warn_after):
        status = "warn"
    return FreshnessResult(table, max_loaded, age, status)
