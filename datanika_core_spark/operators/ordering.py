"""Global ordered running totals without a single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` funnels the whole
table through ONE task — the classic scale-killer for "global
cumulative sum" (sequence packing, global offsets, exclusive prefix
sums). The scalable shape is the classic two-phase scan:

1. range-partition by the order column (so partitions hold disjoint,
   sorted key ranges),
2. per-partition window cumsum (parallel — each task scans its own
   sorted run),
3. per-partition totals (one tiny row per partition) get their own
   exclusive prefix sum — P rows, so the single-partition window is
   free — and are broadcast-joined back as partition offsets.

Beyond-reference operator (SURVEY.md §7 Phase 4 support code): the
reference delegates all windowing to the warehouse; this module is
the Spark-native primitive that keeps "order the corpus and
accumulate" map-parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PID = "__cumsum_pid"


def with_global_offset(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "offset",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = exclusive global running sum of ``value_col``
    in ``order_col`` order (i.e. the sum of all strictly-preceding
    rows; 0 for the first row).

    ``order_col`` must be a total order (unique values) — ties across
    a range-partition boundary would make "preceding" ambiguous.

    The intermediate range-partitioned frame is cached: the offsets
    branch and the output branch must observe the SAME partitioning
    (range partitioning samples its boundaries, so two independent
    executions are not guaranteed to split identically). At corpus
    scale, persist it to a table instead — the pattern is unchanged.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(n, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn(_PID, F.spark_partition_id())
    )
    part = part.cache()

    # P tiny rows; the unpartitioned window here is over the
    # per-partition totals, not the data — that's the whole trick.
    totals = part.groupBy(_PID).agg(F.sum(value_col).alias("__t"))
    w_excl = (
        Window.orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        _PID,
        F.coalesce(F.sum("__t").over(w_excl), F.lit(0)).alias("__off"),
    )

    w_local = (
        Window.partitionBy(_PID)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_excl = F.coalesce(F.sum(value_col).over(w_local), F.lit(0))
    return (
        part.join(F.broadcast(offsets), _PID)  # bound: <= n range partitions
        .withColumn(out_col, (F.col("__off") + local_excl).cast("bigint"))
        .drop(_PID, "__off")
    )
