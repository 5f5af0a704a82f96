"""Distributed BPE merge learning (Sennrich et al. 2016): learn the
top-N byte-pair merges from a corpus — the counting core of
tokenizer training.

Beyond-reference family (the reference has no tokenizer surface);
complements the n-gram counting pass in workloads/frontier.py
(bigram_lm_topk is the flat version of one BPE iteration).

Algorithm per merge step:
1. count adjacent symbol pairs across the (word, count) vocabulary —
   weighted by word frequency, so the corpus is scanned ONCE ever
   (step 0 builds the vocab; iterations run on the vocab table,
   which is orders of magnitude smaller);
2. pick the globally most frequent pair (deterministic tiebreak:
   count desc, then pair lexicographic);
3. greedily merge that pair left-to-right in every word.

The merge (3) runs as a regexp_replace with a lookahead on a
separator-encoded symbol string — one non-consuming pattern
reproduces exact left-to-right BPE greediness in a single JVM
codegen'd projection (no Python UDF):
``SEP a SEP b (?=SEP)`` → ``SEP ab``; the lookahead keeps the
trailing separator so back-to-back merge sites ("ababab") all match.

Scale: the vocabulary (distinct words) is what iterates, not the
corpus. Each iteration is: explode pairs over the vocab → one
combiner-friendly agg → a 1-row argmax collect → a map-only rewrite.
Lineage is truncated with localCheckpoint every few iterations (the
pagerank lesson — workloads/graph.py). At 100 TB the vocab table is
a few GB; iterations are seconds each, and the driver loop's N tiny
jobs are the textbook trade for a global argmax dependency chain.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: symbol separator in the encoded word — a control char that cannot
#: appear in whitespace-tokenized text
SEP = "\x1f"

#: truncate iteration lineage every K merges
_CHECKPOINT_EVERY = 4


def build_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) vocabulary with words pre-encoded as
    SEP-joined character symbols: ``'the' ->  ␟t␟h␟e␟``. The one
    corpus-scale pass of BPE training."""
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.lit(SEP),
                F.concat_ws(SEP, F.split(F.col("word"), "")),
                F.lit(SEP),
            ).alias("sym"),
            "cnt",
        )
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts weighted by word frequency."""
    pairs = (
        vocab.select(
            "cnt",
            F.split(F.expr(f"trim(BOTH '{SEP}' FROM sym)"), SEP).alias(
                "syms"
            ),
        )
        .filter(F.size("syms") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms)-1),"
                    " i -> struct(syms[i-1] as a, syms[i] as b))"
                )
            ).alias("p"),
        )
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("cnt").alias("pair_cnt")
    )


def learn_merges(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns
    [(rank, left, right, pair_count), ...] in merge order."""
    from datanika_core_spark.blocks import RollingCheckpoint

    roll = RollingCheckpoint(docs.sparkSession)
    vocab = roll(build_vocab(docs, text_col))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_counts(vocab)
            .orderBy(F.col("pair_cnt").desc(), "a", "b")
            .limit(1)
            .collect()  # bound: one row
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["pair_cnt"])
        merges.append((rank, a, b, cnt))
        # greedy left-to-right merge: lookahead keeps the trailing
        # separator so consecutive sites all match (see module doc)
        pattern = re.escape(f"{SEP}{a}{SEP}{b}") + f"(?={SEP})"
        vocab = vocab.select(
            F.regexp_replace(
                "sym", pattern, f"{SEP}{a}{b}"
            ).alias("sym"),
            "cnt",
        )
        if rank % _CHECKPOINT_EVERY == 0:
            # rolling: frees the previous truncation's blocks the
            # moment this one materializes — O(1) pinned sets
            vocab = roll(vocab)
    # the merge list is driver-side state; nothing references the
    # final vocab checkpoint anymore
    roll.release()
    return merges


def apply_merges(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
) -> DataFrame:
    """Tokenize ``docs`` with a learned merge list: each word is
    split to characters and the merges replay IN RANK ORDER (BPE
    inference is exactly training's rewrite sequence). Adds
    ``bpe_tokens`` (array of subword strings per word, flattened
    per doc) and ``n_bpe_tokens``.

    Map-only: one chained regexp_replace per merge over the
    SEP-encoded word — the whole merge table compiles into a single
    projection, no shuffle, no Python. At inference scale this is
    the tokenize step of every training-data pipeline; the merge
    list is a broadcast-sized literal (30-50k entries in a real
    tokenizer — still a map-side artifact; chain length beyond a few
    hundred merges would switch to a trie-based Pandas UDF, noted
    here deliberately)."""
    words = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("ws"),
    )
    sym = (
        f"transform(ws, w -> concat('{SEP}',"
        f" concat_ws('{SEP}', split(w, '')), '{SEP}'))"
    )
    def _replace(pattern: str, merged: str):
        # closure factory: F.transform reads the lambda's ARITY, so
        # default-arg binding (lambda s, p=..., m=...) would select
        # the 3-arg higher-order variant and fail analysis
        return lambda s: F.regexp_replace(s, pattern, merged)

    col = F.expr(sym)
    for _, a, b, _cnt in merges:
        pattern = re.escape(f"{SEP}{a}{SEP}{b}") + f"(?={SEP})"
        col = F.transform(col, _replace(pattern, f"{SEP}{a}{b}"))
    return docs.select("doc_id").join(
        words.select(
            "doc_id",
            F.flatten(
                F.transform(
                    col,
                    lambda s: F.split(
                        F.regexp_replace(s, f"^{SEP}|{SEP}$", ""), SEP
                    ),
                )
            ).alias("bpe_tokens"),
        ),
        "doc_id",
    ).withColumn("n_bpe_tokens", F.size("bpe_tokens"))
