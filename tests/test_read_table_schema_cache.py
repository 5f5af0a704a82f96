"""read_table's per-session schema cache: the first read of a file
version infers the parquet footer through Spark (one job); later reads
of the same version pass the cached schema and run none. A rewritten
file or a directory that gains a part file infers again; a path that
cannot be stat'ed is read uncached."""

from __future__ import annotations

import datetime as dt
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import StringType, StructField, StructType

from datanika_core_spark import session
from datanika_core_spark.session import read_table

from conftest import SF_SMOKE


def _run(spark, group: str, build):
    """``build()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "schema-cache probe")
    try:
        out = build()
        n = len(list(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setJobGroup(None, None)
    return out, n


def _plan(df) -> str:
    s = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", s))


def test_warm_read_runs_no_job_and_matches_cold_read(spark, tmp_path):
    """events.parquet carries the nanosecond ``ts`` column: the warm
    read must rebuild it exactly as the cold read does."""
    path = str(tmp_path / "events.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", path)
    cold, n_cold = _run(
        spark, "cache-cold", lambda: read_table(spark, path)
    )
    warm, n_warm = _run(
        spark, "cache-warm", lambda: read_table(spark, path)
    )
    assert n_cold >= 1
    assert n_warm == 0
    assert dict(warm.dtypes)["ts"] == "timestamp_ntz"
    assert _plan(warm) == _plan(cold)
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_rewritten_file_infers_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_table(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, n = _run(spark, "cache-rewrite", lambda: read_table(spark, path))
    assert n >= 1
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_directory_gaining_a_part_file_infers_again(spark, tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    read_table(spark, str(d))
    _, n_warm = _run(
        spark, "cache-dir-warm", lambda: read_table(spark, str(d))
    )
    assert n_warm == 0
    pq.write_table(pa.table({"a": [2]}), str(d / "part-1.parquet"))
    df, n = _run(spark, "cache-dir-grown", lambda: read_table(spark, str(d)))
    assert n >= 1
    assert sorted(r.a for r in df.collect()) == [1, 2]


def test_unstatable_path_falls_back_uncached(spark, tmp_path):
    """A ``file://`` URI cannot be stat'ed as a local path: each read
    infers through Spark, as before the cache."""
    local = tmp_path / "u.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(local))
    uri = local.as_uri()
    read_table(spark, uri)
    df, n = _run(spark, "cache-uri", lambda: read_table(spark, uri))
    assert n >= 1
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_cache_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_SCHEMA_CACHE_MAX", 2)
    monkeypatch.setattr(
        session, "_schema_caches", type(session._schema_caches)()
    )
    for i in range(3):
        p = str(tmp_path / f"b{i}.parquet")
        pq.write_table(pa.table({"a": [i]}), p)
        read_table(spark, p)
    cache = session._schema_caches[spark]
    assert len(cache) == 2
    assert str(tmp_path / "b0.parquet") not in {k[0] for k in cache}


def test_int96_timestamps_read_like_pyarrow(spark, tmp_path):
    """pyarrow reports a legacy INT96 column as timestamp[ns], but
    Spark reads it as TIMESTAMP: it must not be rebuilt from nanos."""
    path = str(tmp_path / "int96.parquet")
    ts = [dt.datetime(2024, 1, 1, 1, 2, 3, 456789), dt.datetime(2025, 5, 6)]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ts, pa.timestamp("us"))}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    expected = pq.read_table(path)
    assert str(expected.schema.field("ts").type) == "timestamp[ns]"
    want = sorted(zip(
        expected.column("id").to_pylist(),
        expected.column("ts").cast(pa.timestamp("us")).to_pylist(),
    ))
    for _ in range(2):  # cold, then cached
        got = sorted(
            (r.id, r.ts) for r in read_table(spark, path).collect()
        )
        assert got == want


class _StubSession:
    """Stands in for a SparkSession in the cache's thread test: reads
    cost no Spark round trip, so threads interleave inside the cache
    code instead of waiting on the JVM."""

    def __init__(self):
        self.read = self

    def schema(self, schema):
        return _StubFrame(schema)

    def parquet(self, path):
        return _StubFrame(StructType([StructField(
            path.rsplit("/", 1)[-1], StringType())]))


class _StubFrame:
    def __init__(self, schema):
        self.schema = schema

    def parquet(self, path):
        return self


def test_concurrent_reads_share_one_bounded_cache(tmp_path, monkeypatch):
    """ModelRunner workers read tables from several threads: with more
    threads than cores and a cache smaller than the working set, hits,
    misses and evictions interleave; every read must still get its own
    file's schema and the cache must stay within its bound."""
    import sys
    import threading

    monkeypatch.setattr(session, "_SCHEMA_CACHE_MAX", 2)
    stub = _StubSession()
    paths = []
    for i in range(4):
        p = tmp_path / f"c{i}.parquet"
        p.write_bytes(b"")
        paths.append(str(p))
    errors = []

    def worker(k: int) -> None:
        try:
            for j in range(2000):
                path = paths[(k + j) % len(paths)]
                df, _ = session._read_parquet(stub, path)
                assert df.schema.names == [path.rsplit("/", 1)[-1]]
        except Exception as e:  # reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,))
                   for k in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(session._schema_caches[stub]) <= 2
