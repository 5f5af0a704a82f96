"""Write dispositions + schema contracts (the E+L "load" half).

Reference semantics (SURVEY.md §2A W1-W7):
- ``append``  — insert all rows (upload_service.py:14).
- ``replace`` — truncate-and-load (upload_service.py:14).
- ``merge``   — upsert on ``primary_key`` (str or list)
  (upload_service.py:163-164, dlt_runner.py:351-356), with per-table
  hints via ``merge_config`` in full-database mode
  (dlt_runner.py:341-349).
- schema contracts ``{tables|columns|data_type} ×
  {evolve|freeze|discard_value|discard_row}``
  (upload_service.py:17-18,213-225).

Spark mapping:
- append/replace → ``df.write.mode(...)``.
- merge → with a transactional table format (Delta/Iceberg) this is
  a single ``MERGE INTO``; this repo's warehouse is plain parquet
  managed tables, so merge is composed as
  ``target ANTI-JOIN source ∪ source`` written to a staging table and
  atomically swapped in (the classic warehouse swap pattern). At
  100 TB you run this on Delta and the anti-join+swap collapses to a
  file-level MERGE; the API here is format-agnostic.
- contract ``evolve`` → ``ALTER TABLE ADD COLUMNS`` (metadata-only,
  O(1) regardless of table size) + append.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.errors import SchemaContractViolation, ValidationError

WRITE_DISPOSITIONS = ("append", "replace", "merge")

CONTRACT_ENTITIES = ("tables", "columns", "data_type")
CONTRACT_MODES = ("evolve", "freeze", "discard_value", "discard_row")


@dataclass(frozen=True)
class SchemaContract:
    """Per-entity schema-evolution policy (W5)."""

    tables: str = "evolve"
    columns: str = "evolve"
    data_type: str = "evolve"

    def __post_init__(self):
        for entity in CONTRACT_ENTITIES:
            mode = getattr(self, entity)
            if mode not in CONTRACT_MODES:
                raise ValidationError(
                    f"schema_contract.{entity} must be one of {CONTRACT_MODES},"
                    f" got {mode!r}"
                )

    @classmethod
    def parse(cls, raw: str | Mapping[str, str] | None) -> "SchemaContract":
        """dlt accepts either a single mode string (applied to every
        entity) or a per-entity dict."""
        if raw is None:
            return cls()
        if isinstance(raw, str):
            return cls(tables=raw, columns=raw, data_type=raw)
        unknown = set(raw) - set(CONTRACT_ENTITIES)
        if unknown:
            raise ValidationError(f"unknown schema_contract entities: {sorted(unknown)}")
        return cls(**{k: raw[k] for k in raw})


@dataclass
class WriteResult:
    """Load accounting (W7 — rows summed excluding internal tables,
    dlt_runner.py:58-76)."""

    table: str
    disposition: str
    rows_loaded: int
    evolved_columns: list[str] = field(default_factory=list)


class TableWriter:
    """Writes DataFrames into the session catalog under the reference's
    disposition + contract semantics."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- public API -----------------------------------------------------

    def write(
        self,
        df: DataFrame,
        table: str,
        disposition: str = "append",
        primary_key: str | Sequence[str] | None = None,
        contract: SchemaContract | None = None,
        precedence_col: str | None = None,
    ) -> WriteResult:
        if disposition not in WRITE_DISPOSITIONS:
            raise ValidationError(
                f"write_disposition must be one of {WRITE_DISPOSITIONS},"
                f" got {disposition!r}"
            )
        contract = contract or SchemaContract()
        # Heal any debris a crashed previous staged swap left behind
        # BEFORE probing existence: the mid-rename crash window
        # leaves the target missing with a complete __stage beside it
        # — without roll-forward this write would CTAS a fresh table
        # and orphan that data. Safe under the single-active-writer
        # guarantee the run ledger's create_exclusive provides.
        recover_swap(self.spark, table)
        exists = self.spark.catalog.tableExists(table)

        if not exists:
            if contract.tables == "freeze":
                raise SchemaContractViolation(
                    f"table {table} does not exist and tables contract is 'freeze'"
                )
            if contract.tables in ("discard_value", "discard_row"):
                return WriteResult(table, disposition, 0)
            # tables=evolve → create. First write of any disposition is CTAS.
            rows = self._create(df, table)
            return WriteResult(table, disposition, rows)

        if disposition == "replace":
            rows = self._replace(df, table)
            return WriteResult(table, disposition, rows)

        df, evolved = self._apply_column_contract(df, table, contract)
        if disposition == "append":
            rows = self._append(df, table)
        else:
            if not primary_key:
                raise ValidationError("merge disposition requires primary_key")
            pk = [primary_key] if isinstance(primary_key, str) else list(primary_key)
            rows = self._merge(df, table, pk, precedence_col)
        return WriteResult(table, disposition, rows, evolved)

    # -- dispositions ----------------------------------------------------
    #
    # W7 accounting: rows_loaded is the SOURCE-batch row count, captured
    # with ``df.observe()`` as a byproduct of the write itself — never a
    # ``count()`` scan of the target (dlt parity: dlt sums normalize-step
    # source counts, dlt_runner.py:58-76). At 100 TB a post-write
    # full-table count would cost more than the load.

    @staticmethod
    def _observed(df: DataFrame):
        from pyspark.sql import Observation

        obs = Observation()
        return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs

    def _create(self, df: DataFrame, table: str) -> int:
        df, obs = self._observed(df)
        df.write.format("parquet").mode("overwrite").saveAsTable(table)
        return obs.get["rows"]

    def _replace(self, df: DataFrame, table: str) -> int:
        # Overwriting a table the plan might also read requires a
        # staged swap; replace of an independent source df is direct.
        df, obs = self._observed(df)
        df.write.format("parquet").mode("overwrite").saveAsTable(table)
        return obs.get["rows"]

    def _append(self, df: DataFrame, table: str) -> int:
        # Align column order with the target (by-name semantics).
        target_cols = self.spark.table(table).columns
        df, obs = self._observed(df.select(*target_cols))
        df.write.format("parquet").mode("append").saveAsTable(table)
        return obs.get["rows"]

    # Table providers with transactional row-level MERGE support.
    MERGE_CAPABLE_PROVIDERS = ("delta", "iceberg")

    def table_provider(self, table: str) -> str:
        """Lowercased storage provider of ``table`` ('' if unknown)."""
        try:
            rows = self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {table}"
            ).collect()  # bound: the table's columns + metadata rows
        except Exception:  # noqa: BLE001 — e.g. temp view
            return ""
        for r in rows:
            if (r[0] or "").strip().lower() == "provider":
                return (r[1] or "").strip().lower()
        return ""

    def _merge(
        self,
        df: DataFrame,
        table: str,
        pk: list[str],
        precedence_col: str | None,
    ) -> int:
        """Upsert: rows of ``table`` whose pk appears in ``df`` are
        replaced by the ``df`` version; new pks are inserted.

        Two physical strategies:

        - transactional table format (Delta/Iceberg): one ``MERGE
          INTO`` — file-level rewrite of only the touched files, the
          100 TB path (parity with dlt's merge disposition,
          dlt_runner.py:341-356).
        - plain parquet warehouse: composed as
          ``target ANTI-JOIN source ∪ source`` + staged swap (rewrites
          the whole table — correct, but the scale story is the
          transactional branch).
        """
        target = self.spark.table(table)
        source = df
        if precedence_col:
            # Deduplicate the batch on pk keeping the highest-precedence
            # row (dlt keeps one row per pk after dedup).
            from pyspark.sql import Window

            w = Window.partitionBy(*pk).orderBy(F.col(precedence_col).desc())
            source = (
                source.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        source = source.select(*target.columns)
        if self.table_provider(table) in self.MERGE_CAPABLE_PROVIDERS:
            return self._merge_into(source, table, pk)
        # Observe the deduped source subtree inside the merge plan:
        # rows_loaded = batch rows after precedence dedup (dlt's
        # batch-rows semantics), collected during the ONE pass that
        # writes the merged table — not a post-merge table count.
        source, obs = self._observed(source)
        kept = target.join(source.select(*pk), on=pk, how="left_anti")
        merged = kept.unionByName(source)
        self._swap_in(merged, table)
        return obs.get["rows"]

    @staticmethod
    def merge_into_sql(table: str, source_view: str, pk: list[str]) -> str:
        """The MERGE INTO statement for the transactional branch."""
        on = " AND ".join(f"t.{k} = s.{k}" for k in pk)
        return (
            f"MERGE INTO {table} t USING {source_view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )

    def _merge_into(self, source: DataFrame, table: str, pk: list[str]) -> int:
        """Transactional upsert via MERGE INTO (Delta/Iceberg).

        The source batch is registered as a temp view and merged in a
        single atomic statement; rows_loaded is observed from the
        source subtree during the merge — same accounting as the
        composed branch.
        """
        source, obs = self._observed(source)
        view = f"__merge_src_{abs(hash(table)) % 10**8}"
        source.createOrReplaceTempView(view)
        try:
            self.spark.sql(self.merge_into_sql(table, view, pk))
        finally:
            self.spark.catalog.dropTempView(view)
        return obs.get["rows"]

    def _swap_in(
        self,
        df: DataFrame,
        table: str,
        properties: Mapping[str, str] | None = None,
    ) -> None:
        """Replace ``table`` with ``df`` via a staging table (df's plan
        reads ``table`` itself, so a direct overwrite would read-write
        conflict).

        ``properties`` become table properties of the stage, set by the
        same statement that creates it: they commit with the data in
        the stage's rename, and a stage exists in the catalog only
        complete. A missing ``table`` skips the aside-rename — the
        stage simply takes its name.

        The swap is NOT atomic on a parquet warehouse (a transactional
        format is the real fix — see ``_merge_into``); it is ordered to
        be crash-RECOVERABLE: the old table is renamed aside before the
        stage takes its name, so at no point is the data unrecoverable —
        a crash leaves either ``table`` intact, or ``table__old`` plus
        a complete ``table__stage`` to roll forward from.

        The intermediate names are cleared with :func:`drop_table`, not
        a bare DROP TABLE IF EXISTS: a crash can leave an orphaned
        warehouse DIRECTORY for ``table__old``/``table__stage`` with no
        catalog entry, and DROP TABLE alone would not remove it — the
        next swap's RENAME TO would then fail on the occupied location.
        """
        stage, old = f"{table}__stage", f"{table}__old"
        drop_table(self.spark, stage)
        writer = df.writeTo(stage).using("parquet")
        for key, value in (properties or {}).items():
            writer = writer.tableProperty(key, value)
        writer.create()
        drop_table(self.spark, old)
        if self.spark.catalog.tableExists(table):
            self.spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
        self.spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")
        self.spark.sql(f"DROP TABLE IF EXISTS {old}")

    # -- schema contracts -------------------------------------------------

    def _apply_column_contract(
        self, df: DataFrame, table: str, contract: SchemaContract
    ) -> tuple[DataFrame, list[str]]:
        """Reconcile incoming columns/types with the existing table."""
        target_schema = self.spark.table(table).schema
        target_cols = {f.name: f for f in target_schema.fields}
        new_fields = [f for f in df.schema.fields if f.name not in target_cols]
        evolved: list[str] = []

        if new_fields:
            mode = contract.columns
            if mode == "freeze":
                names = [f.name for f in new_fields]
                raise SchemaContractViolation(
                    f"columns {names} not in {table} and columns contract is 'freeze'"
                )
            if mode == "evolve":
                cols_ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in new_fields
                )
                self.spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({cols_ddl})")
                evolved = [f.name for f in new_fields]
            elif mode == "discard_row":
                # Drop rows carrying values in unknown columns.
                cond = None
                for f in new_fields:
                    c = F.col(f.name).isNull()
                    cond = c if cond is None else (cond & c)
                df = df.filter(cond)
                df = df.drop(*[f.name for f in new_fields])
            else:  # discard_value
                df = df.drop(*[f.name for f in new_fields])

        # Fill columns the batch is missing with NULLs, align types.
        target_schema = self.spark.table(table).schema
        out_cols = []
        df_fields = {f.name: f for f in df.schema.fields}
        for f in target_schema.fields:
            if f.name not in df_fields:
                out_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
                continue
            incoming = df_fields[f.name]
            if incoming.dataType != f.dataType:
                mode = contract.data_type
                if mode == "freeze":
                    raise SchemaContractViolation(
                        f"column {f.name}: incoming type "
                        f"{incoming.dataType.simpleString()} != table type "
                        f"{f.dataType.simpleString()} (data_type contract 'freeze')"
                    )
                # evolve/discard_value: cast (non-castable → NULL via
                # try_cast — plain cast throws under ANSI mode);
                # discard_row handled below by dropping failed casts.
                out_cols.append(
                    F.col(f.name).try_cast(f.dataType).alias(f.name)
                )
            else:
                out_cols.append(F.col(f.name))

        if contract.data_type == "discard_row":
            # Drop rows where a cast would lose a non-null value.
            for f in target_schema.fields:
                if f.name in df_fields and df_fields[f.name].dataType != f.dataType:
                    ok = (
                        F.col(f.name).isNull()
                        | F.col(f.name).try_cast(f.dataType).isNotNull()
                    )
                    df = df.filter(ok)
        return df.select(*out_cols), evolved


def drop_table(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS + clear any orphaned warehouse directory.

    With the in-memory session catalog, a table created by a previous
    session leaves its parquet directory behind while the new session
    has no catalog entry for it — a subsequent saveAsTable then fails
    with LOCATION_ALREADY_EXISTS. Local-filesystem warehouses only;
    on a cluster use a persistent metastore and plain DROP TABLE.
    """
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if wh.scheme not in ("", "file"):
        return
    parts = table.split(".")
    name = parts[-1].lower()
    db = parts[-2].lower() if len(parts) > 1 else None
    root = wh.path or wh.netloc
    loc = (
        os.path.join(root, f"{db}.db", name) if db and db != "default"
        else os.path.join(root, name)
    )
    if os.path.exists(loc):
        shutil.rmtree(loc, ignore_errors=True)


def recover_swap(spark: SparkSession, table: str) -> str:
    """Roll a crashed :meth:`TableWriter._swap_in` forward (or clear
    its debris) — the recovery procedure the swap's ordering was
    designed for. Call at pipeline startup for every staged-swap
    target. Crash states, in swap order, and the action taken:

    - ``table`` + ``table__stage`` both exist (crash before the
      renames): the run never reported success, so the stage is
      DEBRIS — drop it; the rerun rebuilds it ("cleared_stage").
    - ``table`` missing, ``table__old`` + ``table__stage`` exist
      (crash between the two renames — the dangerous window): the
      stage is a COMPLETE new table; finish the swap: rename stage
      to ``table``, drop old ("rolled_forward").
    - ``table`` + ``table__old`` exist, no stage (crash after the
      swap, before the final drop): the swap committed — drop the
      leftover old copy ("dropped_old").
    - anything else: healthy ("none").
    """
    stage, old = f"{table}__stage", f"{table}__old"
    has = spark.catalog.tableExists
    if has(table) and has(stage):
        drop_table(spark, stage)
        return "cleared_stage"
    if not has(table) and has(stage):
        spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")
        drop_table(spark, old)
        return "rolled_forward"
    if has(table) and has(old):
        drop_table(spark, old)
        return "dropped_old"
    return "none"


def merge_config_dispositions(
    tables: Sequence[str],
    merge_config: Mapping[str, Mapping[str, object]] | None,
) -> dict[str, tuple[str, object]]:
    """Full-database per-table write plan (W4).

    Tables listed in ``merge_config`` get ``("merge", primary_key)``;
    all others fall back to ``("append", None)`` — parity with
    dlt_runner.py:341-349 where hints are applied per resource and the
    top-level disposition is stripped.
    """
    merge_config = merge_config or {}
    plan: dict[str, tuple[str, object]] = {}
    for t in tables:
        if t in merge_config:
            pk = merge_config[t].get("primary_key")
            if not pk:
                raise ValidationError(
                    f"merge_config entry for {t!r} requires primary_key"
                )
            plan[t] = ("merge", pk)
        else:
            plan[t] = ("append", None)
    return plan
