"""EngineSession — the engine's handle on a SparkSession.

Replaces the reference's warehouse-connection layer
(datanika/services/connection_service.py) with a single Spark
session + managed warehouse. All relational execution that the
reference delegated to postgres/snowflake/bigquery/... via dbt
(SURVEY.md §0) happens here in Spark SQL / Catalyst.

Scale notes (100 TB target):
- AQE is on: runtime partition coalescing, skew-join splitting and
  broadcast-demotion decisions happen per-stage from real statistics.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly value;
  on a real cluster set it ~2-3× total cores (AQE coalesces down).
- Session timezone is pinned UTC so results are stable across
  environments (and comparable to DuckDB oracles).
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from collections import OrderedDict
from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from datanika_core_spark.errors import DriverCollectTooLarge
from datanika_core_spark.naming import to_snake_case, validate_identifier

#: Tables every driver test-dataset directory contains (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_DEFAULTS: Mapping[str, str] = {
    # The driver testdata's `events.ts` is parquet TIMESTAMP(NANOS),
    # which Spark's vectorized reader rejects by default; read as
    # int64 nanos and rebuild (see read_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 10 MB default is conservative; dims like region/nation/customer
    # are far below this even at sf100.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    # FAIR job scheduling so the concurrent ModelRunner's per-worker
    # pools (spark.scheduler.pool = models-<i>, plans/runner.py) do
    # real work: a wide topo level's models time-share executors
    # instead of queuing FIFO (dbt `threads: 4` parity — reference
    # dbt_project.py:231). Inert for single-job sessions.
    "spark.scheduler.mode": "FAIR",
}

#: directory holding the package — the Python workers' import root
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)

#: shipped pool definitions for the ModelRunner workers; pools are
#: auto-created with the same defaults past models-3, the file is the
#: operator knob for re-weighting model runs on a shared cluster
FAIR_SCHEDULER_XML = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "resources",
    "fairscheduler.xml",
)


def build_spark(
    app_name: str = "datanika_core_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    The Python workers get the package's parent directory at the front
    of their ``PYTHONPATH`` (ahead of the inherited value), so Python
    UDFs import the package whatever the working directory is."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or int(cpus))
    inherited = os.environ.get("PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        [_PACKAGE_PARENT] + ([inherited] if inherited else [])
    )
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    if extra_conf:
        conf.update(extra_conf)
    if os.path.isfile(FAIR_SCHEDULER_XML):
        conf.setdefault(
            "spark.scheduler.allocation.file", FAIR_SCHEDULER_XML
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: schema-cache entries kept per SparkSession; past it the entry
#: used longest ago is evicted
_SCHEMA_CACHE_MAX = 1024
_schema_caches: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_schema_lock = threading.Lock()


def _file_version(path: str) -> tuple | None:
    """``(st_ino, st_mtime_ns, st_size)`` of the file at ``path``, or
    of each file (with its name) in a flat directory of part files
    (dot-files are skipped, as Spark skips them); None when the path
    cannot be stat'ed (a remote URI) or holds subdirectories (a
    partitioned or half-written layout) — those paths are not cached."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((st.st_ino, st.st_mtime_ns, st.st_size),)
        files = []
        with os.scandir(path) as it:
            for e in it:
                if e.name.startswith("."):
                    continue
                if e.is_dir():
                    return None
                s = e.stat()
                files.append((e.name, s.st_ino, s.st_mtime_ns, s.st_size))
        return tuple(sorted(files))
    except (OSError, ValueError):
        return None


def _nanos_timestamp_columns(
    path: str, schema: StructType
) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns] (illegal for Spark's
    reader — surfaced as int64 under the nanosAsLong flag). pyarrow
    also reports a legacy INT96 column as timestamp[ns], but Spark
    reads that one as TIMESTAMP, so only columns Spark inferred as
    LongType count."""
    longs = {
        f.name for f in schema.fields if isinstance(f.dataType, LongType)
    }
    if not longs:
        return ()
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            inner = sorted(
                f for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if not inner:
                return ()
            path = os.path.join(path, inner[0])
        return tuple(
            f.name for f in pq.read_schema(path)
            if str(f.type) == "timestamp[ns]" and f.name in longs
        )
    except Exception:
        return ()


def _read_parquet(
    spark: SparkSession, path: str
) -> tuple[DataFrame, tuple[str, ...]]:
    """``spark.read.parquet(path)`` and its nanosecond-timestamp
    columns, through the session's schema cache (see read_table)."""
    version = _file_version(path)
    key = (path, version)
    with _schema_lock:
        cache = _schema_caches.setdefault(spark, OrderedDict())
        entry = cache.get(key) if version is not None else None
        if entry is not None:
            cache.move_to_end(key)
    if entry is not None:
        return spark.read.schema(entry[0]).parquet(path), entry[1]
    df = spark.read.parquet(path)
    nanos = _nanos_timestamp_columns(path, df.schema)
    if version is not None:
        with _schema_lock:
            cache[key] = (df.schema, nanos)
            if len(cache) > _SCHEMA_CACHE_MAX:
                cache.popitem(last=False)
    return df, nanos


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table, normalizing nanosecond timestamps to
    TIMESTAMP_NTZ (truncated to micros, matching how DuckDB/pandas
    read the same file).

    Runtime-sets the two confs it depends on so this works on any
    caller-provided SparkSession (e.g. the verify driver's), not just
    ones built by :func:`build_spark`.

    Schema cache: the first read of a file version infers the footer
    schema through Spark (one Spark job) and reads the nanosecond
    columns' footer once through pyarrow; both are cached per
    SparkSession, since inference depends on session settings. Later
    reads of the same version pass the cached schema
    (``spark.read.schema(s).parquet(path)``) and run no Spark job.
    The key is the path plus ``(st_ino, st_mtime_ns, st_size)`` of
    each file under it, so a rewritten file, or a directory that gains
    or loses a part file, is inferred again. A path that cannot be
    stat'ed (a remote URI) or holds subdirectories is read uncached.
    At most ``_SCHEMA_CACHE_MAX`` entries are kept per session.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df, nanos = _read_parquet(spark, path)
    for col in nanos:
        df = df.withColumn(
            col,
            F.expr(f"cast(timestamp_micros({col} div 1000) as timestamp_ntz)"),
        )
    return df


def bounded_collect(df: DataFrame, max_rows: int, what: str) -> list:
    """Collect ``df``, a frame the caller bounds by ``max_rows``
    (a readout grid, a vocabulary). Collects ``limit(max_rows + 1)``,
    so a frame past its bound costs at most ``max_rows + 1`` rows on
    the driver and raises :class:`DriverCollectTooLarge` instead of
    an OOM."""
    rows = df.limit(max_rows + 1).collect()  # bound: max_rows + 1
    if len(rows) > max_rows:
        raise DriverCollectTooLarge(
            f"{what}: more than {max_rows} rows reached a driver collect"
        )
    return rows


class EngineSession:
    """Engine facade: one Spark session + a managed warehouse.

    The reference's "destination warehouse" becomes Spark's session
    catalog (parquet-backed managed tables); its per-tenant "dataset"
    (schema) becomes a Spark database (K2 —
    datanika/services/upload_service.py:32).
    """

    def __init__(self, spark: SparkSession | None = None, **kwargs):
        self.spark = spark or build_spark(**kwargs)

    # -- catalog helpers ------------------------------------------------

    def ensure_database(self, name: str) -> str:
        """CREATE DATABASE IF NOT EXISTS for a dataset name (K2)."""
        db = validate_identifier(to_snake_case(name))
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        return db

    def table_exists(self, qualified: str) -> bool:
        return self.spark.catalog.tableExists(qualified)

    def drop_database(self, name: str) -> None:
        db = validate_identifier(to_snake_case(name))
        self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    # -- data loading ---------------------------------------------------

    def load_dir(
        self,
        sf_dir: str,
        tables: Iterable[str] = TESTDATA_TABLES,
        register: bool = True,
    ) -> dict[str, DataFrame]:
        """Read each ``{sf_dir}/{name}.parquet`` and (optionally)
        register it as a temp view under its table name."""
        out: dict[str, DataFrame] = {}
        for name in tables:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            df = read_table(self.spark, path)
            if register:
                df.createOrReplaceTempView(name)
            out[name] = df
        return out

    # -- querying -------------------------------------------------------

    def query(self, sql: str) -> DataFrame:
        """Read-only SQL passthrough (Q1 —
        datanika/services/connection_service.py:174-192)."""
        return self.spark.sql(sql)

    def stop(self) -> None:
        self.spark.stop()
