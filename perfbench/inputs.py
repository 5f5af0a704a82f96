"""The benchmark's inputs.

``data/`` holds byte-for-byte copies of the engine's fixed test tables
(TESTDATA.md, generated once with seed 42): every sf0.01 table, which
``analytics_headline`` reads, and the sf0.1 ``orders`` table, from
which ``order_days`` cuts the ELT workload's day batches. The seed
never changes the tables; it only picks which earlier orders flip
status on each day and when in the day each row was updated.
"""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
SF001 = DATA / "sf0.01"
ORDERS_SF01 = DATA / "sf0.1" / "orders.parquet"

STATUSES = ["F", "O", "P"]
ORDER_DAY_COLUMNS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "o_updated",
]

#: Day 0 of the ELT loop; day ``d``'s rows carry ``o_updated`` on
#: ``DAY0 + d`` so the incremental cursor advances one day per load.
DAY0 = dt.datetime(2024, 3, 1)


def order_days(out_dir: str, seed: int, days: int,
               flip_share: float = 0.02) -> list[str]:
    """Write ``days + 1`` batches of the sf0.1 orders. The orders, in
    key order, are split into ``days + 1`` equal runs of new orders,
    one per batch. Every batch after the first also carries a seeded
    ``flip_share`` of the orders loaded before it, each with its status
    changed to another one. Every row carries ``o_updated``, the
    incremental cursor. Returns the batch paths in load order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    orders = pq.read_table(ORDERS_SF01).sort_by("o_orderkey")
    status = np.array(STATUSES)
    current = np.searchsorted(
        status, orders["o_orderstatus"].to_numpy(zero_copy_only=False))
    bounds = np.linspace(0, orders.num_rows, days + 2).astype(int)
    paths = []
    for d in range(days + 1):
        lo, hi = bounds[d], bounds[d + 1]
        rows = np.arange(lo, hi)
        if d > 0:
            flips = np.sort(rng.choice(lo, size=int(lo * flip_share),
                                       replace=False))
            current[flips] = (current[flips]
                              + rng.integers(1, len(status), len(flips))
                              ) % len(status)
            rows = np.concatenate([rows, flips])
        secs = rng.integers(0, 86400, len(rows))
        updated = (np.datetime64(DAY0 + dt.timedelta(days=int(d)), "us")
                   + (secs * 1_000_000).astype("timedelta64[us]"))
        batch = (orders.take(rows)
                 .set_column(orders.schema.get_field_index("o_orderstatus"),
                             "o_orderstatus", pa.array(status[current[rows]]))
                 .append_column("o_updated", pa.array(updated)))
        path = os.path.join(out_dir, f"day{d:03d}.parquet")
        pq.write_table(batch.select(ORDER_DAY_COLUMNS)
                       .replace_schema_metadata(None), path)
        paths.append(path)
    return paths
