"""Driver collects of the event-type state grids are bounded: past
the bound the build raises DriverCollectTooLarge instead of pulling
a corpus-sized frame onto the driver, and the bound costs no extra
Spark job."""

from __future__ import annotations

import datetime as dt

import pytest

from datanika_core_spark.errors import DriverCollectTooLarge
from datanika_core_spark.session import bounded_collect
from datanika_core_spark.workloads import load_all
from datanika_core_spark.workloads.graph import GRID_MAX_STATES

from conftest import SF_CORRECT


def test_bounded_collect_returns_rows_up_to_the_bound(spark):
    df = spark.range(5)
    assert len(bounded_collect(df, 5, "five rows")) == 5
    with pytest.raises(DriverCollectTooLarge, match="five rows"):
        bounded_collect(df, 4, "five rows")


def test_pagerank_over_ceiling_vocabulary_raises_typed_error(spark, tmp_path):
    """Planted events table with one more distinct event type than
    the grid bound: the node-list collect must refuse it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = GRID_MAX_STATES + 1
    t0 = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(minutes=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": [f"type_{i}" for i in range(n)],
        }),
        str(tmp_path / "events.parquet"),
    )
    pagerank = load_all()["pagerank_event_transitions"].fn
    with pytest.raises(DriverCollectTooLarge, match="pagerank node list"):
        pagerank(spark, str(tmp_path))


def test_pagerank_construction_job_count(spark):
    """The bounded collects run the same jobs as the plain collects
    they replaced: 5 per warm build at sf0.01 (the node list and the
    edge grid with their AQE stage jobs). The first build fills
    read_table's schema cache, so the count does not depend on
    whether an earlier test already read events.parquet."""
    sc = spark.sparkContext
    pagerank = load_all()["pagerank_event_transitions"].fn
    pagerank(spark, SF_CORRECT)
    sc.setJobGroup("pagerank-construction", "probe")
    try:
        pagerank(spark, SF_CORRECT)
        ids = list(sc.statusTracker().getJobIdsForGroup("pagerank-construction"))
    finally:
        sc.setJobGroup(None, None)
    assert len(ids) == 5
