"""Connection testing (Q4): "Test connection" before the first load.

Reference: ConnectionService.test_connection
(/root/reference/datanika/services/connection_service.py:221-258) —
``SELECT 1`` through a real driver connection with a 5 s timeout,
``server_info()`` for MongoDB, "Test not applicable" for non-DB
types, and (success, message) tuples with the exact user-facing
strings. Engine extension: filesystem-backed types (csv/json/parquet/
s3) with a ``path`` in the config get an existence probe through the
Hadoop FileSystem API, so the same call validates a local dir or an
s3a:// bucket prefix; without a path they fall back to the
reference's "not applicable" answer.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import SparkSession

from datanika_core_spark.errors import ValidationError
from datanika_core_spark.sources.jdbc import JdbcSource, url_for

#: Types with no SQL surface (connection_service.py:17-25); mongodb
#: is special-cased before this check, exactly like the reference.
NON_DB_TYPES = frozenset(
    {"s3", "csv", "json", "parquet", "rest_api", "google_sheets"}
)

#: Dialect probe: Derby has no FROM-less SELECT; everything else the
#: engine supports accepts the reference's plain ``SELECT 1``. The
#: alias matters — Spark's JDBC reader re-selects columns by name
#: from the wrapped subquery, and an unnamed literal's generated
#: name is not addressable in some dialects (Derby).
_PROBE_SQL = {"derby": "SELECT 1 AS one FROM SYSIBM.SYSDUMMY1"}

_FAIL_MSG = "Connection failed — check your credentials and network settings"


def _test_mongodb(config: Mapping[str, object], timeout: int) -> tuple[bool, str]:
    """server_info() probe (connection_service.py:195-219)."""
    try:
        from pymongo import MongoClient  # noqa: PLC0415 — optional driver
    except ImportError:
        return False, "Driver not installed for mongodb"
    from urllib.parse import quote_plus

    host = config.get("host", "localhost")
    port = config.get("port", 27017)
    user = str(config.get("user", "") or "")
    password = str(config.get("password", "") or "")
    database = config.get("database", "")
    if user:
        uri = (
            f"mongodb://{quote_plus(user)}:{quote_plus(password)}"
            f"@{host}:{port}/{database}"
        )
    else:
        uri = f"mongodb://{host}:{port}/{database}"
    try:
        client = MongoClient(uri, serverSelectionTimeoutMS=timeout * 1000)
        client.server_info()
        client.close()
        return True, "Connected successfully"
    except Exception:  # noqa: BLE001 — reference masks the cause
        return False, _FAIL_MSG


def _probe_path(spark: SparkSession, path: str) -> tuple[bool, str]:
    """Existence probe through Hadoop's FileSystem — one API for
    file://, hdfs:// and s3a:// alike, no data read."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            return True, "Connected successfully"
        return False, f"Path not found: {path}"
    except Exception:  # noqa: BLE001 — bad scheme/credentials
        return False, _FAIL_MSG


def test_connection(
    spark: SparkSession,
    conn_type: str,
    config: Mapping[str, object] | None,
    timeout: int = 5,
) -> tuple[bool, str]:
    """Returns (success, message) — never raises, mirroring the
    reference's endpoint contract (connection_service.py:221-258)."""
    if not config:
        return False, "Configuration is empty"

    if conn_type == "mongodb":
        return _test_mongodb(config, timeout)

    if conn_type in NON_DB_TYPES:
        path = config.get("path") or config.get("file_path")
        if path:
            return _probe_path(spark, str(path))
        return True, "Test not applicable for this type"

    try:
        url_for(conn_type, config)  # URL build errors surface verbatim
    except (ValidationError, KeyError) as e:
        return False, str(e)

    src = JdbcSource(
        spark, conn_type, config,
        # reference sets connect_timeout=5 via SQLAlchemy connect_args;
        # Spark's JDBC source exposes queryTimeout (seconds) and the
        # drivers' own loginTimeout is bounded by it for the probe
        properties={"queryTimeout": str(int(timeout))},
    )
    sql = _PROBE_SQL.get(conn_type, "SELECT 1 AS one")
    try:
        # bound: the probe selects one row
        src.query(sql).collect()  # forces a real driver connect+fetch
        return True, "Connected successfully"
    except Exception:  # noqa: BLE001 — reference masks the cause
        return False, _FAIL_MSG
