"""One mergeable state store for the sketch stores and streaming twins.

A store is one warehouse table of keyed rows plus the id of the last
micro-batch folded into it. Every incremental state in the package —
the CMS / HLL / Bloom / Misra-Gries / fingerprint sketch stores, the
substring index's gram summary and the counter grids of the
streaming monitors — is such a table, and they all keep it through
this class:

- ``absorb(delta, batch_id)`` merges a batch's delta rows into the
  stored rows by ``keys``, combining each value column with its
  ``merge`` function (``sum``, ``max``, ``min``, ``bit_or``,
  ``bit_xor`` — each an associative, commutative fold, so any batch
  split merges to the same state);
- ``commit(state, batch_id)`` writes a next state the caller built
  itself — the folds that are not a column monoid (the SPRT
  sequential walk, Misra-Gries re-truncation, the out-of-order
  high-water mark).

Replay watermark: counter addition and xor are not idempotent, so a
micro-batch redelivered after a crash between the state write and
the streaming checkpoint commit must be recognised. The id of the
last folded batch is a TABLE PROPERTY (``datanika.batch_id``), never
a data row: it is set by the statement that creates the stage table,
so data and batch id commit together in the stage's rename, no data
row can collide with it, and reading it (``SHOW TBLPROPERTIES``) is a
catalog lookup that runs no Spark job — a replayed batch is skipped
without touching the data.

Writes: every write goes through :meth:`TableWriter._swap_in` — the
merged plan is written to ``<table>__stage`` and renamed into place,
so the state never passes through the driver and the write never
reads the table it replaces. Opening a store runs
:func:`recover_swap`, which clears or rolls forward what a crashed
swap left behind.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datanika_core_spark.errors import ValidationError
from datanika_core_spark.operators.writers import (
    TableWriter,
    drop_table,
    recover_swap,
)

#: table property carrying the id of the last folded micro-batch
BATCH_ID_PROPERTY = "datanika.batch_id"

_MERGES = {
    "sum": F.sum,
    "max": F.max,
    "min": F.min,
    "bit_or": F.bit_or,
    "bit_xor": F.bit_xor,
}


class MergeStore:
    """Keyed state rows in one warehouse table, merged per batch.

    ``schema`` is the stored row type (a DDL string or StructType);
    every write is cast to it, so the table is typed from its first
    write and :meth:`rows` is a typed empty frame before it."""

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        schema: str | StructType,
        keys: Sequence[str] = (),
        merge: Mapping[str, str] | None = None,
    ):
        self.spark = spark
        self.table = table
        self.schema = (
            StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        self.keys = list(keys)
        self.merge = dict(merge or {})
        unknown = sorted(set(self.merge.values()) - set(_MERGES))
        if unknown:
            raise ValidationError(
                f"merge functions must be among {sorted(_MERGES)},"
                f" got {unknown}"
            )
        recover_swap(spark, table)

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def last_batch_id(self) -> int | None:
        """Id of the last folded micro-batch, or None before the first
        write with a batch id. A catalog lookup: no Spark job."""
        if not self.exists():
            return None
        props = self.spark.sql(f"SHOW TBLPROPERTIES {self.table}")
        for key, value in props.collect():  # bound: the table's properties
            if key == BATCH_ID_PROPERTY:
                return int(value)
        return None

    def replayed(self, batch_id: int | None) -> bool:
        """True when ``batch_id`` is already folded in (a redelivery)."""
        if batch_id is None:
            return False
        last = self.last_batch_id()
        return last is not None and batch_id <= last

    def rows(self) -> DataFrame:
        """The stored rows; a typed empty frame before the first write."""
        if self.exists():
            return self.spark.table(self.table)
        return self.spark.createDataFrame([], self.schema)

    def absorb(self, delta: DataFrame, batch_id: int | None = None) -> None:
        """Merge ``delta`` into the stored rows by ``keys``; a replayed
        ``batch_id`` is skipped before any Spark job runs."""
        if self.replayed(batch_id):
            return
        merged = delta
        if self.exists():
            merged = self.rows().unionByName(delta)
        merged = merged.groupBy(*self.keys).agg(
            *[_MERGES[fn](col).alias(col) for col, fn in self.merge.items()]
        )
        self._write(merged, batch_id)

    def commit(self, state: DataFrame, batch_id: int | None = None) -> None:
        """Replace the stored rows with ``state``, a next state the
        caller folded itself (its plan may read :meth:`rows`)."""
        self._write(state, batch_id)

    def reset(self) -> None:
        """Drop the state and any swap debris."""
        for name in (self.table, f"{self.table}__stage", f"{self.table}__old"):
            drop_table(self.spark, name)

    def _write(self, df: DataFrame, batch_id: int | None) -> None:
        last = max(
            (x for x in (self.last_batch_id(), batch_id) if x is not None),
            default=None,
        )
        props = {} if last is None else {BATCH_ID_PROPERTY: str(last)}
        typed = df.select(
            *[F.col(f.name).cast(f.dataType) for f in self.schema.fields]
        )
        TableWriter(self.spark)._swap_in(typed, self.table, props)
        self.spark.catalog.refreshTable(self.table)
