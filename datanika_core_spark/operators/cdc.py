"""CDC apply: collapse a change log (insert/update/delete rows with a
monotonically increasing sequence) into final table state.

Reference parity: the reference's merge write disposition
(datanika/services/dlt_runner.py:341-356) upserts on primary_key —
the degenerate CDC case with no deletes and one change per key per
run. This operator handles the general log: many changes per key,
interleaved deletes, exactly the shape a Debezium/dlt CDC feed
produces. The writers module then lands the collapsed state with the
ordinary merge disposition.

Scale: ONE shuffle keyed by the primary key, then a per-key windowed
argmax — no iterative reconciliation, no driver-side loop. At 100 TB
the change log is orders of magnitude smaller than the table; the
window runs over the LOG only, and the result joins/merges into the
target via the existing (anti-join or MERGE INTO) write path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: change-operation vocabulary (Debezium-style)
OPS = ("insert", "update", "delete")


def latest_state(
    changes: DataFrame,
    key: str,
    seq: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Collapse a change log to final state: for each key, the
    highest-``seq`` change wins; keys whose winning change is a
    ``delete`` vanish. Returns the surviving rows minus the
    bookkeeping columns.

    Ties on ``seq`` within a key are broken by preferring the delete
    (destructive change wins a same-sequence race — deterministic,
    and the conservative choice for replayed feeds)."""
    return (
        _winning_change(changes, key, seq, op_col)
        .filter(F.col(op_col) != "delete")
        .drop("_rn", op_col, seq)
    )


def _winning_change(
    changes: DataFrame, key: str, seq: str, op_col: str
) -> DataFrame:
    """Each key's highest-``seq`` change (delete outranks
    insert/update at equal seq), with the ``_rn`` column retained."""
    w = Window.partitionBy(key).orderBy(
        F.col(seq).desc(),
        F.when(F.col(op_col) == "delete", 0).otherwise(1),
    )
    return changes.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )


def apply_cdc(
    writer,
    changes: DataFrame,
    table: str,
    key: str,
    seq: str = "seq",
    op_col: str = "op",
) -> tuple[int, int]:
    """Collapse ``changes`` and land them in ``table``:
    upserts via the writer's merge disposition, deletes via anti-join
    removal of keys whose final change is a delete. Returns
    (n_upserted, n_deleted).

    The two steps see disjoint key sets (a key's final change is
    either a delete or not), so ordering between them is free.

    Parquet-warehouse fallback semantics: deletes rewrite the table
    through the writer's staged swap — the honest cost on an
    immutable format. On Delta/Iceberg the same call collapses to
    ``MERGE INTO ... WHEN MATCHED AND src.op='delete' THEN DELETE``
    (file-level, transactional) via the writer's _merge_into branch;
    see operators/writers.py."""
    spark = changes.sparkSession
    final = latest_state(changes, key, seq=seq, op_col=op_col)
    deleted_keys = (
        _winning_change(changes, key, seq, op_col)
        .filter(F.col(op_col) == "delete")
        .select(key)
    )
    n_up = writer.write(final, table, "merge", primary_key=key).rows_loaded
    n_del = deleted_keys.count()
    if n_del:
        remaining = spark.table(table).join(
            # bound: delete keys of one change batch
            F.broadcast(deleted_keys), key, "left_anti"
        )
        # `remaining` READS the table it replaces — a direct
        # overwrite is rejected (and would corrupt); the writer's
        # staged swap (write to __stage, rename) handles self-reads
        writer._swap_in(remaining, table)
    return n_up, n_del
