"""Data tests as violation-count queries (T13/T14).

Reference surface: generic dbt tests ``not_null``, ``unique``,
``accepted_values``, ``relationships`` written into model YML and run
via ``dbt test`` (transformation_service.py:148-188,
dbt_project.py:349-435); dbt_utils tests ``expression_is_true``,
``not_constant``, ``not_null_proportion``, ``accepted_range``,
``sequential_values`` (model_detail_state.py:20-40,295-347).

Every test compiles to a SELECT that returns the VIOLATION COUNT —
the test passes iff the count is 0. All are single-scan aggregates
(plus one broadcast anti-join for relationships), so a test sweep
over a 100 TB table is one pass per table, not per test row.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Mapping

from pyspark.sql import SparkSession

from datanika_core_spark.errors import ValidationError

GENERIC_TESTS = ("not_null", "unique", "accepted_values", "relationships")
DBT_UTILS_TESTS = (
    "expression_is_true",
    "not_constant",
    "not_null_proportion",
    "accepted_range",
    "sequential_values",
)
ALL_TESTS = GENERIC_TESTS + DBT_UTILS_TESTS


def _sql_lit(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def violation_sql(table: str, column: str, test: str,
                  params: Mapping[str, Any] | None = None) -> str:
    """Render the violation-count SQL for one test. ANSI SQL — the
    same string runs on Spark and DuckDB (used by the oracle gate)."""
    p = dict(params or {})
    if test == "not_null":
        return f"SELECT count(*) AS violations FROM {table} WHERE {column} IS NULL"
    if test == "unique":
        return (
            f"SELECT count(*) AS violations FROM ("
            f"SELECT {column} FROM {table} WHERE {column} IS NOT NULL "
            f"GROUP BY {column} HAVING count(*) > 1) v"
        )
    if test == "accepted_values":
        vals = p.get("values")
        if not vals:
            raise ValidationError("accepted_values requires 'values'")
        lits = ", ".join(_sql_lit(v) for v in vals)
        return (
            f"SELECT count(*) AS violations FROM {table} "
            f"WHERE {column} IS NOT NULL AND {column} NOT IN ({lits})"
        )
    if test == "relationships":
        to, fld = p.get("to"), p.get("field")
        if not to or not fld:
            raise ValidationError("relationships requires 'to' and 'field'")
        return (
            f"SELECT count(*) AS violations FROM {table} c "
            f"WHERE c.{column} IS NOT NULL AND NOT EXISTS "
            f"(SELECT 1 FROM {to} p WHERE p.{fld} = c.{column})"
        )
    if test == "expression_is_true":
        expr = p.get("expression")
        if not expr:
            raise ValidationError("expression_is_true requires 'expression'")
        return (
            f"SELECT count(*) AS violations FROM {table} "
            f"WHERE NOT ({expr}) OR ({expr}) IS NULL"
        )
    if test == "not_constant":
        return (
            f"SELECT CASE WHEN count(DISTINCT {column}) <= 1 THEN 1 ELSE 0 END"
            f" AS violations FROM {table}"
        )
    if test == "not_null_proportion":
        at_least = p.get("at_least")
        if at_least is None:
            raise ValidationError("not_null_proportion requires 'at_least'")
        return (
            f"SELECT CASE WHEN avg(CASE WHEN {column} IS NULL THEN 0.0 ELSE 1.0 END)"
            f" >= {float(at_least)} THEN 0 ELSE 1 END AS violations FROM {table}"
        )
    if test == "accepted_range":
        lo, hi = p.get("min_value"), p.get("max_value")
        conds = []
        if lo is not None:
            conds.append(f"{column} < {_sql_lit(lo)}")
        if hi is not None:
            conds.append(f"{column} > {_sql_lit(hi)}")
        if not conds:
            raise ValidationError("accepted_range requires min_value or max_value")
        return (
            f"SELECT count(*) AS violations FROM {table} "
            f"WHERE {column} IS NOT NULL AND ({' OR '.join(conds)})"
        )
    if test == "sequential_values":
        interval = p.get("interval", 1)
        return (
            "SELECT count(*) AS violations FROM ("
            f"SELECT {column} - lag({column}) OVER (ORDER BY {column}) AS diff "
            f"FROM {table}) d WHERE diff IS NOT NULL AND diff <> {interval}"
        )
    raise ValidationError(f"unknown test {test!r}; allowed: {ALL_TESTS}")


@dataclass
class TestResult:
    table: str
    column: str
    test: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


def run_test(spark: SparkSession, table: str, column: str, test: str,
             params: Mapping[str, Any] | None = None) -> TestResult:
    sql = violation_sql(table, column, test, params)
    n = spark.sql(sql).collect()[0]["violations"]  # bound: one count row
    return TestResult(table, column, test, int(n))
