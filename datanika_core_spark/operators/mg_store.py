"""Persisted Misra-Gries heavy-hitters store — incremental top-k
tracking for the sketch-store family (CMSSketchStore: point
frequency; HLLSketchStore: cardinality; this: the top-k GUARANTEE).

The store is a (tok, resid) residual table of at most k rows plus an
``undershoot`` scalar — the accumulated truncation mass that bounds
how far any residual can undercount its true frequency.  ``update()``
folds one batch in with the mergeable-summaries rule (Agarwal et al.,
PODS 2012): key-wise sum of the batch's offset-optimal k-counter
summary into the stored residuals, then re-truncate to k by
subtracting the (k+1)-th largest sum.  The invariant maintained
across ANY sequence of batches:

    true_count(tok) - undershoot  <=  resid(tok)  <=  true_count(tok)

so every token with true frequency > undershoot is guaranteed
present — the guarantee the batch workload
(workloads/sketches.py::heavy_hitters_misra_gries) proves against
exact counts each run.

The merge is NOT idempotent (sums, like the CMS store), so update()
carries the same batch-id watermark: a micro-batch redelivered after
a crash between the state swap and the streaming-checkpoint commit
is recognized and skipped.  The watermark is a table property of the
:class:`~datanika_core_spark.operators.merge_store.MergeStore`; the
undershoot rides on the one row whose ``tok`` is NULL (NULL tokens
are dropped from every batch, so no token row can take its place).

At 100 TB: the stored state is <= k + 1 rows regardless of history;
each batch costs one combiner groupBy of the batch plus a <= 2k-row
driver-side merge.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore

_SCHEMA = "tok string, resid bigint"


def batch_summary(
    toks: DataFrame, k: int
) -> tuple[list[tuple[str, int]], int]:
    """Offset-optimal k-counter MG summary of one batch's non-NULL
    ``tok`` values: [(tok, resid)] with <= k entries plus the
    truncation offset, computed by one combiner groupBy + a top-(k+1)
    driver collect. Returns (rows, offset)."""
    from pyspark.sql import Window as _W

    cnt = toks.filter(F.col("tok").isNotNull()).groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    top = (
        cnt.withColumn(
            "rnk",
            F.row_number().over(_W.orderBy(F.col("cnt").desc(), "tok")),
        )
        .filter(F.col("rnk") <= k + 1)
        .collect()  # bound: the top k + 1 tokens
    )
    off = next((int(r["cnt"]) for r in top if r["rnk"] == k + 1), 0)
    rows = [
        (r["tok"], int(r["cnt"]) - off)
        for r in top
        if r["rnk"] <= k and int(r["cnt"]) - off > 0
    ]
    return rows, off


@dataclass
class MGSketchStore:
    """Warehouse-persisted k-counter Misra-Gries residuals."""

    spark: SparkSession
    table: str
    k: int = 16

    def __post_init__(self):
        self.state = MergeStore(self.spark, self.table, _SCHEMA)

    def _stored(self) -> tuple[dict[str, int], int]:
        """(residuals, undershoot) from the table."""
        resid: dict[str, int] = {}
        us = 0
        # bound: k residual rows + the undershoot row
        for r in self.state.rows().collect():
            if r["tok"] is None:
                us = int(r["resid"])
            else:
                resid[r["tok"]] = int(r["resid"])
        return resid, us

    def update(self, toks: DataFrame, batch_id: int | None = None) -> None:
        """Fold one batch's tokens into the store (sum + truncate).
        Replay-safe via the batch-id watermark, like the CMS store;
        the fold runs on the driver over <= 2k counters."""
        if self.state.replayed(batch_id):
            return
        resid, us = self._stored()
        rows, off = batch_summary(toks, self.k)
        us += off
        for tok, r in rows:
            resid[tok] = resid.get(tok, 0) + r
        # re-truncate the merged summary to k counters
        ordered = sorted(resid.items(), key=lambda kv: (-kv[1], kv[0]))
        off2 = ordered[self.k][1] if len(ordered) > self.k else 0
        us += off2
        kept = [
            (tok, r - off2) for tok, r in ordered[: self.k] if r - off2 > 0
        ]
        state = self.spark.createDataFrame(kept + [(None, us)], _SCHEMA)
        self.state.commit(state, batch_id)

    def heavy_hitters(self) -> DataFrame:
        """(tok, mg_est, max_undercount, rank) — every token whose
        true frequency exceeds max_undercount is guaranteed listed;
        mg_est never overestimates."""
        from pyspark.sql import Window as _W

        resid, us = self._stored()
        rows = sorted(resid.items(), key=lambda kv: (-kv[1], kv[0]))
        out = self.spark.createDataFrame(
            [(tok, r, us) for tok, r in rows],
            "tok string, mg_est bigint, max_undercount bigint",
        )
        return out.withColumn(
            "rank",
            F.row_number().over(
                _W.orderBy(F.col("mg_est").desc(), "tok")
            ).cast("bigint"),
        )
