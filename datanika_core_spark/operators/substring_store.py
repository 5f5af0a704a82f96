"""Incremental exact-substring dedup index — the persisted operating
mode of workloads/text_dedup's dedup_exact_substring_spans (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better"):
a gram-position index that a new batch probes and appends to, with the
same append-only discipline as operators/minhash.MinHashSignatureStore
and operators/winnow.WinnowingFingerprintStore.

Three warehouse tables per store:

- ``{table}``        (doc_id, pos, h) — one row per positional
  char-k-gram occurrence, the O(total chars) payload (the suffix-array
  cost; Lee et al. pay the same). Append-only.
- ``{table}_docs``   (doc_id, n)      — ingested doc lengths; the
  cheap replay guard (update left-anti-joins THIS, never the index).
- ``{table}_hsum``   (h, mn, mx)      — per-gram min/max doc_id, the
  O(distinct grams) duplication-test state. A position of doc d is
  duplicated iff its gram's (mn, mx) is not (d, d) — the exact same
  test the one-shot's ``min(doc_id) <> max(doc_id)`` group-by makes,
  so the full-store readout (``spans()``) is bit-identical to the
  one-shot pipeline over the union of every ingested batch
  (tests/test_substring_store.py pins it).

Why the summary table exists: probing a batch against raw positions
would either rescan the whole index per batch (group-by h over
everything) or fan out per occurrence on hot grams (posting-list
join). Against ``_hsum`` the probe is one equi-join of the batch's
grams — constant state per gram, never a posting list.

At 100 TB: bucket index and summary by ``h`` so the probe equi-join
and the summary merge co-locate; the summary rewrite per batch is the
parquet-warehouse stand-in for MERGE INTO (flip to real MERGE when a
transactional provider appears — same gate as operators/writers.py).
Crash between the index append and the summary swap leaves the
summary stale; ``rebuild_summary()`` restores it from the index (the
index is the source of truth).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datanika_core_spark.operators.merge_store import MergeStore
from datanika_core_spark.operators.minhash import spark_hash_expr

ES_K = 20  # minimum duplicated-substring length, chars


def positional_grams(
    corpus: DataFrame, text_col: str = "text", k: int = ES_K
) -> DataFrame:
    """(doc_id, n, pos, h) positional char-``k``-gram rows of a
    (doc_id, text) corpus — one row per position, h = 60-bit md5 gram
    hash (the engine/oracle-shared hash). Docs shorter than ``k``
    emit nothing (no k-gram exists). Pure per-row explode — the only
    cost is the O(total chars) row count, which IS the operator's
    honest price."""
    corpus = corpus.filter(F.length(text_col) >= k)
    h = spark_hash_expr(f"substring({text_col}, i, {k})")
    return corpus.select(
        "doc_id",
        F.length(text_col).alias("n"),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {k} + 1),"
                f" i -> struct(i as pos, {h} as h))"
            )
        ).alias("g"),
    ).select("doc_id", "n", F.col("g.pos").alias("pos"),
             F.col("g.h").alias("h"))


def merge_islands(hits: DataFrame, k: int = ES_K) -> DataFrame:
    """Duplicated positions (doc_id, n, pos) → maximal spans
    (doc_id, n, island, lo, hi): positions whose k-gram windows
    overlap or touch merge into one island per doc — exactly the
    "duplicated substring of length >= k" coverage a suffix array
    yields. Per-DOC windows only (bounded by doc length)."""
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "new_isl",
        F.when(
            F.col("pos")
            > F.coalesce(F.lag("pos").over(wlag), F.lit(-(10 ** 9)))
            + k - 1,
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_isl").over(wlag))
    return isl.groupBy("doc_id", "n", "island").agg(
        F.min("pos").alias("lo"),
        (F.max("pos") + k - 1).alias("hi"),
    )


@dataclass
class ExactSubstringIndexStore:
    """Warehouse-persisted positional gram index + gram summary."""

    spark: SparkSession
    table: str
    k: int = ES_K

    def __post_init__(self):
        self._summary = MergeStore(
            self.spark, self.summary_table, "h bigint, mn bigint, mx bigint",
            keys=["h"], merge={"mn": "min", "mx": "max"},
        )

    @property
    def docs_table(self) -> str:
        return f"{self.table}_docs"

    @property
    def summary_table(self) -> str:
        return f"{self.table}_hsum"

    def update(self, corpus: DataFrame, text_col: str = "text") -> int:
        """Index docs not yet ingested: append their positional gram
        rows, record their lengths, min/max-merge the gram summary.
        Returns gram rows appended (Observation-counted during the
        write). Replayed doc_ids are skipped via the (tiny) docs
        table, so file-replay is idempotent — a replayed batch
        appends 0 rows and leaves the summary untouched (its grams
        are filtered out BEFORE the summary merge)."""
        from datanika_core_spark.operators.writers import TableWriter

        new_docs = corpus.select("doc_id", F.col(text_col).alias("text"))
        exists = self.spark.catalog.tableExists(self.docs_table)
        if exists:
            seen = self.spark.table(self.docs_table).select("doc_id")
            new_docs = new_docs.join(seen, "doc_id", "left_anti")
        grams = positional_grams(new_docs, "text", self.k)
        # one gram pass feeds the index append, the summary merge and
        # the docs append — materialize it once (batch-sized)
        grams = grams.localCheckpoint(eager=True)
        mode = "append" if exists else "overwrite"
        idx_rows, obs = TableWriter._observed(
            grams.select("doc_id", "pos", "h")
        )
        idx_rows.write.format("parquet").mode(mode).saveAsTable(self.table)
        appended = obs.get["rows"]
        grams.select("doc_id", "n").distinct().write.format(
            "parquet"
        ).mode(mode).saveAsTable(self.docs_table)
        if appended:
            # min/max-merge: an abelian idempotent monoid like the HLL
            # register max, written through the store's staged swap
            self._summary.absorb(
                grams.groupBy("h").agg(
                    F.min("doc_id").alias("mn"),
                    F.max("doc_id").alias("mx"),
                )
            )
        return appended

    def rebuild_summary(self) -> None:
        """Recompute ``_hsum`` from the index — the recovery path if
        a crash landed between the index append and the summary swap
        (the index is the source of truth)."""
        self._summary.commit(
            self.spark.table(self.table)
            .groupBy("h")
            .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        )

    def _dup_hits(self, grams: DataFrame) -> DataFrame:
        """Positions of ``grams`` whose gram some OTHER ingested doc
        also holds: equi-join against the summary, (mn, mx) ≠ (d, d).
        Equivalent to the one-shot's min(doc) <> max(doc) test — if
        every occurrence of h lives in doc d then mn = mx = d."""
        if not self._summary.exists():
            # nothing ingested yet (or no doc cleared the k floor)
            return grams.select("doc_id", "n", "pos").limit(0)
        hsum = self._summary.rows()
        return (
            grams.join(hsum, "h")
            .filter(
                (F.col("mn") != F.col("doc_id"))
                | (F.col("mx") != F.col("doc_id"))
            )
            .select("doc_id", "n", "pos")
        )

    def probe(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """Maximal duplicated spans of ``docs`` against everything
        ingested so far (call AFTER ``update`` of the same batch so
        intra-batch duplication counts too): (doc_id, n, island, lo,
        hi). Cost: the batch's own grams + one equi-join against the
        summary — the stored index's positions are never rescanned."""
        grams = positional_grams(
            docs.select("doc_id", F.col(text_col).alias("text")),
            "text", self.k,
        )
        return merge_islands(self._dup_hits(grams), self.k)

    def spans(self) -> DataFrame:
        """Full-store readout: maximal duplicated spans of EVERY
        ingested doc — bit-identical to the one-shot
        _exact_dup_spans over the union of all ingested batches (the
        batch-parity pin). Reads the index + summary; no text."""
        idx = self.spark.table(self.table)
        docs = self.spark.table(self.docs_table)
        grams = idx.join(docs, "doc_id").select("doc_id", "n", "pos", "h")
        return merge_islands(self._dup_hits(grams), self.k)
