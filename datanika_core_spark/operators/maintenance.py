"""Warehouse maintenance: small-file compaction + table statistics.

The two operational killers of a 100 TB parquet warehouse:

- **Small files.** Every incremental append / streaming micro-batch
  writes its own files; after months a table holds millions of
  KB-sized files and scan planning (file listing + footer reads)
  dominates query time. ``compact_table`` rewrites a table into
  size-targeted files. On Delta/Iceberg this is OPTIMIZE /
  rewrite_data_files; on plain parquet it is a staged rewrite through
  the same crash-recoverable swap the writers use.
- **Missing statistics.** Catalyst's cost-based decisions (broadcast
  eligibility, join reordering) read catalog stats; an unanalyzed
  table falls back to size-on-disk guesses. ``analyze_table`` wraps
  ANALYZE TABLE ... COMPUTE STATISTICS (+ per-column stats for join
  keys).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


@dataclass
class CompactionResult:
    table: str
    files_before: int
    files_after: int
    bytes_total: int


def _table_files(spark: SparkSession, table: str) -> list[tuple[str, int]]:
    """(path, size) of the table's current data files via the
    catalog's input_file_name accounting — storage-API-free, works on
    any Hadoop-compatible FS."""
    rows = (
        spark.table(table)
        .select(F.input_file_name().alias("f"))
        .groupBy("f")
        .count()
        .collect()  # bound: one row per data file of the table
    )
    import os
    from urllib.parse import unquote, urlparse

    out = []
    for r in rows:
        p = unquote(urlparse(r.f).path)
        try:
            out.append((p, os.path.getsize(p)))
        except OSError:
            out.append((p, 0))
    return out


def compact_table(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> CompactionResult:
    """Rewrite ``table`` into ⌈total_bytes / target⌉ files.

    Plain-parquet OPTIMIZE: one full scan + one shuffle-free
    coalesce-style write (repartition only when file count must
    GROW). The rewrite goes through the writers' staged swap, so a
    crash leaves the original table intact. At Delta/Iceberg, prefer
    the format's native OPTIMIZE (file-level, transactional,
    can Z-ORDER); this is the fallback that works everywhere.
    """
    from datanika_core_spark.operators.writers import TableWriter

    files = _table_files(spark, table)
    total = sum(sz for _, sz in files)
    n_target = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.table(table)
    # coalesce() avoids a shuffle when shrinking file count — the
    # dominant compaction direction; growing uses a round-robin
    # repartition to actually split data.
    df = df.coalesce(n_target) if n_target <= len(files) else df.repartition(n_target)
    TableWriter(spark)._swap_in(df, table)
    after = _table_files(spark, table)
    return CompactionResult(table, len(files), len(after), total)


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> None:
    """Refresh catalog statistics so Catalyst sizes joins correctly
    (broadcast decisions, join reordering). Column stats (ndv,
    min/max, null count) on join/filter keys are what the CBO
    actually uses — pass the table's key columns."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(
            f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}"
        )


@dataclass
class PartitionCompactionResult:
    table: str
    partitions_compacted: list[str]
    files_before: int
    files_after: int


def compact_partitioned_table(
    spark: SparkSession,
    table: str,
    partition_col: str,
    max_files_per_partition: int = 1,
) -> PartitionCompactionResult:
    """Per-partition compaction for partitioned tables (IVF posting
    lists, insert_overwrite targets): rewrite ONLY partitions whose
    file count exceeds ``max_files_per_partition``, via dynamic
    partition overwrite — untouched partitions are never read or
    rewritten, so the cost is proportional to the fragmentation, not
    the table (``compact_table``'s whole-table swap would also lose
    the partitioned layout).

    ``repartition(partition_col)`` routes each fragmented partition's
    rows to one task, so the rewrite emits one file per partition.
    """
    import re

    files = _table_files(spark, table)
    pat = re.compile(rf"{re.escape(partition_col)}=([^/]+)/")
    per_part: dict[str, int] = {}
    for path, _ in files:
        m = pat.search(path)
        if m:
            per_part[m.group(1)] = per_part.get(m.group(1), 0) + 1
    frag = sorted(
        v for v, n in per_part.items() if n > max_files_per_partition
    )
    if not frag:
        return PartitionCompactionResult(table, [], len(files), len(files))

    df = spark.table(table)
    ptype = dict(df.dtypes)[partition_col]
    vals = [
        F.lit(v).cast(ptype) for v in frag
    ]
    batch = df.filter(F.col(partition_col).isin(*vals)).repartition(
        F.col(partition_col)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        batch.write.insertInto(table, overwrite=True)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.catalog.refreshTable(table)
    after = _table_files(spark, table)
    return PartitionCompactionResult(table, frag, len(files), len(after))


@dataclass
class ZorderResult:
    table: str
    columns: list[str]
    files_before: int
    files_after: int


def zorder_table(
    spark: SparkSession,
    table: str,
    columns: list[str],
    bits: int = 16,
    target_file_bytes: int = 128 * 1024 * 1024,
    quantize: str = "linear",
) -> ZorderResult:
    """Rewrite ``table`` clustered on the Z-order (Morton) curve of
    ``columns`` — multi-column data skipping for plain parquet.

    A single-column sort gives perfect min/max file pruning on that
    column and none on others; interleaving the quantized bits of k
    columns gives every column ~1/k of the pruning power, which is
    the right trade for tables filtered on varying dimensions
    (Delta's OPTIMIZE ZORDER BY; this is the format-agnostic
    equivalent through the same staged swap as compact_table).

    Quantization (``quantize``):
    - ``"linear"``: min-max scaling to ``bits`` bits — one cheap agg;
      right for roughly uniform columns.
    - ``"equidepth"``: bucket boundaries from ``percentile_approx``
      (capped at 2^min(bits,8) buckets) — a heavily skewed column
      (zipfian ids, long-tail amounts) gets equal row mass per code
      value instead of burning most codes on empty range, which is
      what keeps the interleave balanced and the files rectangular.
    The quantized codes bit-interleave into one long, then the table
    is range-repartitioned + sorted by that key so each output file
    covers a compact hyper-rectangle.
    """
    from datanika_core_spark.operators.writers import TableWriter

    if quantize not in ("linear", "equidepth"):
        raise ValueError(f"unknown quantize mode {quantize!r}")
    df = spark.table(table)
    files = _table_files(spark, table)
    total = sum(sz for _, sz in files)
    n_target = max(1, -(-total // target_file_bytes))

    quantized = []
    if quantize == "equidepth":
        eff_bits = min(bits, 8)  # sketch cost grows with bucket count
        n_buckets = 1 << eff_bits
        qs = ", ".join(
            str((i + 1) / n_buckets) for i in range(n_buckets - 1)
        )
        bnds_row = df.agg(
            *[
                F.expr(
                    f"percentile_approx(cast({c} as double),"
                    f" array({qs}), 10000)"
                ).alias(f"b_{c}")
                for c in columns
            ]
        ).collect()[0]  # bound: one aggregate row
        scale_fix = (1 << bits) // n_buckets  # keep bit-width parity
        for c in columns:
            bl = ", ".join(f"{b!r}d" for b in bnds_row[f"b_{c}"])
            # code = #boundaries <= x (0..n_buckets-1), then spread
            # back over the full bit range so interleaving still
            # alternates at the same positions as linear mode
            quantized.append(
                f"cast(size(filter(array({bl}),"
                f" b -> b <= cast({c} as double))) * {scale_fix}"
                f" as bigint)"
            )
    else:
        bounds = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in columns],
            *[F.max(c).alias(f"hi_{c}") for c in columns],
        ).collect()[0]  # bound: one aggregate row
        scale = (1 << bits) - 1
        for c in columns:
            lo, hi = float(bounds[f"lo_{c}"]), float(bounds[f"hi_{c}"])
            span = (hi - lo) or 1.0
            quantized.append(
                f"cast(round((cast({c} as double) - {lo!r}d)"
                f" / {span!r}d * {scale}) as bigint)"
            )
    m = len(columns)
    # one aggregate over bit positions per column, summed
    zparts = []
    for i, q in enumerate(quantized):
        zparts.append(
            f"aggregate(sequence(0, {bits - 1}), 0L,"
            f" (acc, b) -> acc + shiftleft(shiftright({q}, b) & 1,"
            f" {m} * b + {i}))"
        )
    zexpr = " + ".join(zparts)

    clustered = (
        df.withColumn("_z", F.expr(zexpr))
        .repartitionByRange(n_target, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    TableWriter(spark)._swap_in(clustered, table)
    after = _table_files(spark, table)
    return ZorderResult(table, columns, len(files), len(after))


@dataclass
class MaintenanceAdvice:
    table: str
    n_files: int
    total_bytes: int
    avg_file_bytes: int
    recommendation: str
    reason: str


def advise(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_ratio: float = 0.5,
) -> MaintenanceAdvice:
    """Inspect a table's file layout and recommend a maintenance
    action — the decision rule an automated OPTIMIZE scheduler runs
    nightly per table, here exposed so operators can see WHY:

    - >50% of files under half the target size → ``compact``
      (listing + footer overhead dominates scans);
    - fewer, right-sized files → ``none``;
    - a partitioned layout reports per-partition fragmentation and
      recommends ``compact_partitions`` only when SOME partitions
      are fragmented (whole-table rewrite would be wasteful —
      exactly what compact_partitioned_table avoids)."""
    files = _table_files(spark, table)
    n = len(files)
    total = sum(sz for _, sz in files)
    avg = total // max(n, 1)
    partitioned = any("=" in p.rsplit("/", 2)[-2] for p, _ in files if "/" in p)
    small = sum(1 for _, sz in files if sz < target_file_bytes // 2)
    if n <= 1 or small / max(n, 1) <= small_file_ratio:
        return MaintenanceAdvice(
            table, n, total, avg, "none",
            f"{small}/{n} files below half target — healthy layout",
        )
    if partitioned:
        return MaintenanceAdvice(
            table, n, total, avg, "compact_partitions",
            f"{small}/{n} files below half target in a partitioned"
            " layout — rewrite only fragmented partitions",
        )
    return MaintenanceAdvice(
        table, n, total, avg, "compact",
        f"{small}/{n} files below half target"
        f" ({avg} B avg vs {target_file_bytes} B target)",
    )


# --------------------------------------------------------------------------
# Shuffle sizing advisor.
# --------------------------------------------------------------------------


@dataclass
class ShuffleAdvice:
    input_bytes: int
    target_partition_bytes: int
    recommended_partitions: int
    cores: int
    note: str


def advise_shuffle_partitions(
    spark: SparkSession,
    table: str,
    target_partition_bytes: int = 128 * 1024 * 1024,
    expansion: float = 1.0,
) -> ShuffleAdvice:
    """Recommend ``spark.sql.shuffle.partitions`` for jobs whose wide
    stages are dominated by ``table``: ceil(bytes × expansion /
    target), rounded UP to a multiple of the executor core count so
    every wave is full, floored at the core count itself.
    ``expansion`` scales for operators that inflate the shuffled
    volume past the input (explodes: >1) or collapse it (pre-agg:
    <1). With AQE on, this sets the UPPER bound AQE coalesces down
    from — the reason the advisory still matters in the AQE era is
    that AQE never splits partitions it didn't create.

    Driver-only metadata math (a file listing); no job runs."""
    files = _table_files(spark, table)
    total = sum(b for _, b in files)
    cores = spark.sparkContext.defaultParallelism
    want = max(1, -(-int(total * expansion) // target_partition_bytes))
    rec = max(cores, -(-want // cores) * cores)
    note = (
        f"{len(files)} files, {total/1e6:.1f} MB input x "
        f"{expansion:g} expansion -> {want} partitions of "
        f"<= {target_partition_bytes/1e6:.0f} MB, rounded to full "
        f"waves of {cores} cores"
    )
    return ShuffleAdvice(total, target_partition_bytes, rec, cores, note)
