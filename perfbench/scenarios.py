"""The benchmark's workloads.

Each workload is a class with

- ``setup()``: lands its inputs and warms the session up (timed as
  ``setup_s``, less ``untimed_s``: the time spent preparing inputs
  and in DuckDB, which is not the engine's);
- ``round(rng)``: the operations of one round, as ``(kind, fn)``
  pairs; a round runs every operation kind of the workload once (every
  query, or every step and editor request of one day), so the seed
  changes the order and parameters of a round but not its make-up;
- ``check()``: the correctness checks, run untimed; returns a list of
  problems, empty when everything matched.

Engine functions are always called through their modules
(``S.read_table``, ``P.preview``), so the traced run's wrappers see
every call.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager
from urllib.parse import urlparse

import duckdb

import inputs
from measure import NullTracer, dir_usage
from datanika_core_spark import blocks as B
from datanika_core_spark import session as S
from datanika_core_spark.ingest import IngestionJob
from datanika_core_spark.operators.incremental import CursorStateStore
from datanika_core_spark.operators.scd2 import SnapshotConfig
from datanika_core_spark.orchestration import catalog_meta as C
from datanika_core_spark.orchestration.dependencies import (
    DependencyGraph,
    Edge,
)
from datanika_core_spark.orchestration.runs import RunLedger
from datanika_core_spark.plans import autocomplete as A
from datanika_core_spark.plans import preview as P
from datanika_core_spark.plans import resolver as R
from datanika_core_spark.plans.models import (
    ColumnTest,
    IncrementalConfig,
    Model,
    ModelRegistry,
    SnapshotDef,
)
from datanika_core_spark.plans.runner import ModelRunner
from datanika_core_spark.sources.base import TableBatch
from datanika_core_spark.specs import UploadSpec
from datanika_core_spark.workloads import load_all
from check_correctness import _norm_rows

#: Headline queries in ``analytics_headline``: TPC-H SQL (q5 reads six
#: tables), an events window, graph (12 jobs at construction) and a
#: Python UDF over vectors, chosen so that set-up plus five passes fit
#: one run. They read the sf0.01 test tables. SCD2 is measured on
#: ``elt_daily``; the full 37-query pass at sf0.1 stays ``bench.py``'s
#: job.
HEADLINE = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "events_sessionize_gap",
    "graph_triangle_doulion",
    "semdedup_embedding_prune",
)


def _execute(df) -> None:
    """Run every output column through the noop sink (bench.py's
    discipline: count() would prune projections)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    #: rounds the metrics summarise
    rounds: int
    #: most rounds a run can make (None: no limit)
    max_rounds: int | None = None

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = NullTracer()
        self.data_dir = os.path.join(work, "data")
        self.warehouse = os.path.join(work, "warehouse")
        self.input_bytes = 1
        self.facts: dict = {}
        self.untimed_s = 0.0

    @contextmanager
    def untimed(self):
        """Leave the enclosed set-up work out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def source_bytes(self) -> int:
        return max(1, dir_usage(self.data_dir)[0])

    def op_facts(self) -> dict:
        """Per-operation numbers the tracer cannot see (rows loaded,
        batch bytes, ledger files added); cleared on read."""
        out, self.facts = self.facts, {}
        return out


# -- analytics_headline ------------------------------------------------------


class AnalyticsHeadline(Workload):
    #: timings still fall over the first three passes, and a slow spell
    #: of the host can cover a whole pass: the best of five is steadier
    rounds = 5

    def setup(self) -> None:
        self.data_dir = str(inputs.SF001)
        self.input_bytes = self.source_bytes()
        reg = load_all()
        self.queries = {n: reg[n] for n in HEADLINE}
        # The correctness pass is the warm-up. The noop path's plans
        # differ from collect's, so the first measured pass is still
        # slower; each query's best time passes over it.
        self.problems = self._oracle_pass()

    def _oracle_pass(self) -> list[str]:
        """Collect every query and compare it with its DuckDB oracle;
        only the Spark side counts towards ``setup_s``."""
        with self.untimed():
            con = duckdb.connect()
            for t in S.TESTDATA_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data_dir}/{t}.parquet'")
        problems = []
        for name in random.Random(self.seed).sample(HEADLINE, len(HEADLINE)):
            sdf = self.queries[name].fn(self.spark, self.data_dir)
            srows = [tuple(r) for r in sdf.collect()]
            with self.untimed():
                ores = con.sql(self.queries[name].oracle)
                orows = [tuple(r) for r in ores.fetchall()]
                if len(srows) != len(orows):
                    problems.append(f"{name}: {len(srows)} rows, oracle "
                                    f"{len(orows)}")
                elif (_norm_rows(list(sdf.columns), srows)
                      != _norm_rows(list(ores.columns), orows)):
                    problems.append(f"{name}: values differ from the oracle")
        con.close()
        return problems

    def _query(self, name: str) -> None:
        wl = self.queries[name]
        with self.tr.span("workloads"):
            df = wl.fn(self.spark, self.data_dir)
        if self.tr.traced:
            # the noop write plans its command again inside execute
            with self.tr.span("catalyst"):
                df._jdf.queryExecution().executedPlan()
        with self.tr.span("execute"):
            _execute(df)

    def round(self, rng: random.Random):
        order = rng.sample(HEADLINE, len(HEADLINE))
        return [(n, lambda n=n: self._query(n)) for n in order]

    def check(self) -> list[str]:
        return self.problems


# -- elt_daily ---------------------------------------------------------------


LAND = "orders_land"
MODELS = "orders_models"


def _elt_registry() -> ModelRegistry:
    reg = ModelRegistry()
    reg.add_source("land", "orders", f"{LAND}.orders")
    reg.add(Model(
        "stg_orders",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
        " o_orderdate, o_orderpriority, o_updated"
        " FROM {{ source('land', 'orders') }}",
        materialization="view", schema=MODELS,
    ))
    reg.add(Model(
        "orders_current",
        """
        SELECT * FROM {{ ref('stg_orders') }}
        {% if is_incremental() %}
        WHERE o_updated > (SELECT max(o_updated) FROM {{ this }})
        {% endif %}
        """,
        materialization="incremental", schema=MODELS,
        incremental=IncrementalConfig(strategy="merge",
                                      unique_key="o_orderkey"),
        tests=[ColumnTest("o_orderkey", "not_null"),
               ColumnTest("o_orderkey", "unique"),
               ColumnTest("o_orderstatus", "accepted_values",
                          {"values": inputs.STATUSES})],
    ))
    reg.add(Model(
        "revenue_by_status",
        "SELECT o_orderstatus, count(*) AS n,"
        " round(sum(o_totalprice), 2) AS revenue"
        " FROM {{ ref('orders_current') }} GROUP BY o_orderstatus",
        materialization="table", schema=MODELS,
        tests=[ColumnTest("o_orderstatus", "unique")],
    ))
    reg.add(Model(
        "revenue_by_month",
        "SELECT date_trunc('MONTH', o_orderdate) AS month,"
        " o_orderpriority, count(*) AS n,"
        " round(sum(o_totalprice), 2) AS revenue"
        " FROM {{ ref('orders_current') }} GROUP BY 1, 2",
        materialization="table", schema=MODELS,
        tests=[ColumnTest("month", "not_null")],
    ))
    reg.add_snapshot(SnapshotDef(
        name="orders_snap",
        sql_body="SELECT * FROM {{ source('land', 'orders') }}",
        config=SnapshotConfig(unique_key="o_orderkey", strategy="timestamp",
                              updated_at="o_updated"),
    ))
    return reg


#: Columns each model's preview shows.
MODEL_COLUMNS = {
    "stg_orders": inputs.ORDER_DAY_COLUMNS,
    "orders_current": inputs.ORDER_DAY_COLUMNS,
    "revenue_by_status": ["o_orderstatus", "n", "revenue"],
    "revenue_by_month": ["month", "o_orderpriority", "n", "revenue"],
}


class _DaySource:
    def __init__(self, df):
        self.df = df

    def tables(self):
        yield TableBatch("orders", self.df)


class EltDaily(Workload):
    """The daily ELT loop, then the analyst's look at the fresh data in
    the SQL editor. Editor requests are answered by at most five rows,
    so their fixed per-request costs (read_table's footer-schema job,
    Catalyst planning, metastore lookups, job scheduling) are the whole
    cost."""

    threads = len(os.sched_getaffinity(0))
    #: a day takes about 10 s on 4 cores: two days keep a run near a
    #: minute, JVM start and day 0 included
    rounds = 2
    #: days after day 0; a run makes 2 or 3 unless the host is fast
    max_rounds = 5
    ledger_rows_per_day = 6  # create, start, complete for two runs

    def setup(self) -> None:
        with self.untimed():
            self.days = inputs.order_days(
                os.path.join(self.data_dir, "orders"), self.seed,
                self.max_rounds)
        self.input_bytes = self.source_bytes()
        engine = S.EngineSession(self.spark)
        self.state = CursorStateStore(os.path.join(self.work, "cursors.json"))
        self.job = IngestionJob(engine, self.state)
        self.spec = UploadSpec.from_config("Orders Land", {
            "mode": "single_table", "table": "orders",
            "write_disposition": "merge", "primary_key": "o_orderkey",
            "incremental": {"cursor_path": "o_updated"},
        })
        self.ledger = RunLedger(self.spark, "ops.run_ledger")
        self.deps = DependencyGraph()
        self.deps.add(Edge("upload", LAND, "transformation", MODELS,
                           timeframe_value=24, timeframe_unit="hours"))
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {MODELS}")
        self.registry = _elt_registry()
        self.runner = ModelRunner(self.spark, self.registry)
        self.catalog = C.CatalogStore()
        self.next_day = 0
        self.problems: list[str] = []
        # Day 0 lands the initial orders and runs every operation once;
        # the first merge day's extra compilation falls in the first
        # round, which the per-kind best times pass over.
        for _kind, op in self.round(random.Random(-self.seed)):
            op()
            B.release_blocks(self.spark)

    def _ledger_files(self) -> int:
        d = os.path.join(self.warehouse, "ops.db", "run_ledger")
        return len(os.listdir(d)) if os.path.isdir(d) else 0

    def _steps(self):
        """One day as the scheduler runs it, one operation per step:
        the incremental upload, then the gated model build, tests and
        snapshot journaled as one transformation run, and the catalog
        sync."""
        if self.next_day >= len(self.days):
            raise RuntimeError("elt_daily ran out of generated days")
        day, path = self.next_day, self.days[self.next_day]
        self.next_day += 1
        run = {}

        def ingest():
            run["files"] = self._ledger_files()
            up = self.ledger.create("upload", LAND)
            self.ledger.start(up.run_id)
            res = self.job.run(self.spec,
                               _DaySource(S.read_table(self.spark, path)))
            self.ledger.complete(up.run_id, rows_loaded=res.rows_loaded)
            self.facts = {"rows": res.rows_loaded,
                          "batch_bytes": os.path.getsize(path)}

        def build():
            gate = self.deps.check_gate(self.ledger, "transformation",
                                        MODELS)
            if not gate.satisfied:
                self.problems.append(f"day {day}: gate blocked")
            run["tr"] = self.ledger.create("transformation", MODELS)
            self.ledger.start(run["tr"].run_id)
            run["build"] = self.runner.invoke("build", threads=self.threads)

        def test():
            run["test"] = self.runner.invoke("test", threads=self.threads)

        def snapshot():
            self.runner.invoke("snapshot")
            self.ledger.complete(run["tr"].run_id,
                                 rows_loaded=run["build"].rows_affected)
            if not (run["build"].tests_passed and run["test"].tests_passed):
                self.problems.append(f"day {day}: model test failed")

        def catalog():
            self.catalog.sync_from_database(self.spark, LAND)
            self.catalog.sync_from_database(self.spark, MODELS,
                                            entry_type="dbt_model")
            self.facts = {"ledger_files":
                          self._ledger_files() - run["files"]}

        return [("ingest", ingest), ("build", build), ("test", test),
                ("snapshot", snapshot), ("catalog", catalog)]

    # -- the SQL editor, one request per operation ---------------------------

    def _expect(self, what, cols, rows, want) -> None:
        if list(cols) != want or not 0 < len(rows) <= P.PREVIEW_LIMIT:
            self.problems.append(f"{what}: columns {list(cols)}, "
                                 f"{len(rows)} rows")

    def _ad_hoc(self, rng: random.Random):
        """Ad-hoc queries typed in the editor, one per template with
        seeded constants; preview injects LIMIT."""
        price = rng.randrange(1000, 400_000)
        cust = rng.randrange(0, 14_000)
        year = rng.randrange(1995, 2001)
        queries = {
            "sql.priority": (
                f"SELECT o_orderpriority, count(*) AS n FROM {LAND}.orders"
                f" WHERE o_totalprice > {price} GROUP BY o_orderpriority",
                ["o_orderpriority", "n"]),
            "sql.top_orders": (
                f"SELECT o_orderkey, o_orderstatus, o_totalprice"
                f" FROM {LAND}.orders WHERE o_custkey BETWEEN {cust}"
                f" AND {cust + 999} ORDER BY o_totalprice DESC",
                ["o_orderkey", "o_orderstatus", "o_totalprice"]),
            "sql.monthly": (
                f"SELECT month, sum(revenue) AS revenue"
                f" FROM {MODELS}.revenue_by_month"
                f" WHERE month >= TIMESTAMP '{year}-01-01 00:00:00'"
                f" GROUP BY month ORDER BY month",
                ["month", "revenue"]),
        }
        return [(kind, lambda sql=sql, want=want: self._expect(
                     "ad-hoc preview", *P.preview(self.spark, sql), want))
                for kind, (sql, want) in queries.items()]

    def _model(self, rng: random.Random, name: str):
        """Pick a model through ref() autocomplete, compile it and
        preview it."""
        typed = "SELECT * FROM {{ ref('" + name[:rng.randrange(1, 4)]

        def request():
            got = A.suggest(self.registry, typed)
            if name not in got:
                self.problems.append(f"autocomplete {typed!r}: {got}")
            compiled = R.compile_model(self.registry,
                                       self.registry.get(name))
            self._expect(f"model preview {name}",
                         *P.preview(self.spark, compiled.sql),
                         MODEL_COLUMNS[name])
        return request

    def _source(self, rng: random.Random):
        """A five-row preview of an uploaded batch file."""
        path = rng.choice(self.days[:self.next_day])

        def request():
            df = S.read_table(self.spark, path).limit(P.PREVIEW_LIMIT)
            self._expect("source preview", df.columns, df.collect(),
                         inputs.ORDER_DAY_COLUMNS)
        return request

    def _introspect(self, db: str, want: list[str]):
        def request():
            got = [t["table"] for t in C.introspect_database(self.spark, db)]
            if got != want:
                self.problems.append(f"introspect {db}: {got}")
        return request

    def round(self, rng: random.Random):
        """One day: its scheduled steps, then the editor requests in a
        seeded order."""
        steps = self._steps()
        requests = self._ad_hoc(rng) + [
            (f"model.{name}", self._model(rng, name))
            for name in sorted(MODEL_COLUMNS)
        ] + [
            ("introspect.land", self._introspect(LAND, ["orders"])),
            ("introspect.models",
             self._introspect(MODELS, sorted(MODEL_COLUMNS))),
            ("source", self._source(rng)),
        ]
        rng.shuffle(requests)
        return steps + requests

    def check(self) -> list[str]:
        problems = list(self.problems)
        # DuckDB compares the landed table's files with the latest
        # version per key of the day batches, as multisets of rows.
        days = ", ".join(f"'{p}'" for p in self.days[:self.next_day])
        landed = ", ".join(
            f"'{urlparse(u).path}'"
            for u in self.spark.table(f"{LAND}.orders").inputFiles())
        cols = ", ".join(inputs.ORDER_DAY_COLUMNS)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW want AS SELECT {cols} FROM (SELECT *, "
                f"row_number() OVER (PARTITION BY o_orderkey ORDER BY "
                f"o_updated DESC) AS rk FROM read_parquet([{days}])) "
                f"WHERE rk = 1")
        con.sql(f"CREATE VIEW got AS SELECT {cols} "
                f"FROM read_parquet([{landed}])")
        n_landed, n_diff = con.sql(
            "SELECT (SELECT count(*) FROM got), count(*) FROM ("
            "(SELECT * FROM got EXCEPT ALL SELECT * FROM want) UNION ALL "
            "(SELECT * FROM want EXCEPT ALL SELECT * FROM got))").fetchone()
        con.close()
        if n_diff:
            problems.append(f"landed orders: {n_diff} rows differ from the "
                            f"latest version per key")
        snap = self.spark.sql(
            "SELECT count(*) AS cur, count(DISTINCT o_orderkey) AS keys "
            "FROM snapshots.orders_snap WHERE dbt_valid_to IS NULL").first()
        if not (snap.cur == snap.keys == n_landed):
            problems.append(f"scd2: {snap.cur} current rows for "
                            f"{snap.keys} keys, {n_landed} landed")
        n_ledger = self.spark.table("ops.run_ledger").count()
        if n_ledger != self.ledger_rows_per_day * self.next_day:
            problems.append(f"ledger: {n_ledger} rows after "
                            f"{self.next_day} days")
        return problems


WORKLOADS = {
    "analytics_headline": AnalyticsHeadline,
    "elt_daily": EltDaily,
}
