"""Distributed unigram-LM tokenizer training (Kudo 2018, the
SentencePiece `unigram` model) — the second tokenizer-training
algorithm next to BPE (operators/bpe.py): instead of greedy merges,
a vocabulary of candidate pieces with probabilities, trained by EM
over the best segmentation of each word, then pruned to size.

This is the Viterbi-EM ("hard EM") variant: the E-step counts pieces
along each word's single BEST segmentation rather than the full
forward-backward expectation — the standard simplification (it is
also exactly SentencePiece's final encoding rule, so train and
encode agree). Deterministic throughout: seed selection, Viterbi
tiebreaks, and pruning all order by (score, piece) with lexicographic
piece tiebreaks.

Scale shape (same split as BPE):
- the corpus is scanned ONCE into a (word, count) vocabulary —
  the only corpus-scale job; everything after runs on the vocab
  table, which is orders of magnitude smaller;
- candidate seeding is one explode of substrings over the vocab +
  one combiner agg + a driver top-K;
- each EM iteration is: broadcast the piece table (a few hundred k
  entries at real scale — megabytes) into an Arrow-batched
  `mapInPandas` over the vocab, per-word Viterbi (O(len·L) per
  word), one groupBy(piece) agg, and a driver-side M-step re-norm.
  Piece state lives on the driver between iterations exactly like
  k-means centroids / BPE merges — tiny model, huge data;
- pruning is a driver sort of the piece table.

Verification: pure-Python reference parity (tests/test_unigram_lm.py)
— same seeding, same EM, same Viterbi tiebreaks, probabilities equal
to 1e-12 — plus a full DuckDB recursive-CTE oracle on the registry
entry (workloads/frontier.py::unigram_lm_vocab) that replays the
seed → EM → prune → EM pipeline in SQL, Viterbi DP included.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_MAX_PIECE_LEN = 8


def build_word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) from whitespace tokenization — the one
    corpus-scale pass."""
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def seed_pieces(
    word_vocab: DataFrame,
    max_seed: int = 1000,
    max_piece_len: int = _MAX_PIECE_LEN,
) -> dict[str, float]:
    """Candidate piece table: every substring of length 1..L of every
    word, frequency-weighted; ALL single characters are kept (they
    guarantee every word stays segmentable), multi-char candidates
    take the remaining top slots by (count desc, piece asc). Returns
    piece -> initial probability (count-proportional).

    One explode + one agg on the vocab table; the top-K collapse is
    a driver sort of the candidate counts (at real scale: TakeOrdered
    on (cnt desc, piece)).
    """
    subs = word_vocab.select(
        "cnt",
        F.explode(
            F.expr(
                "array_distinct(flatten(transform("
                f"  sequence(1, length(word)),"
                f"  i -> transform(sequence(1, least({max_piece_len},"
                "        length(word) - i + 1)),"
                "        l -> substring(word, i, l)))))"
            )
        ).alias("piece"),
    )
    counts = (
        subs.groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        # bound: substrings (<= max_piece_len chars) of the word
        # vocabulary — grows with the vocabulary, not the corpus
        .collect()
    )
    singles = {r.piece: r.cnt for r in counts if len(r.piece) == 1}
    multis = sorted(
        ((r.piece, r.cnt) for r in counts if len(r.piece) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[: max(0, max_seed - len(singles))]
    table = dict(singles)
    table.update(dict(multis))
    total = sum(table.values())
    return {p: c / total for p, c in sorted(table.items())}


def _viterbi(word: str, logp: dict[str, float],
             max_len: int = _MAX_PIECE_LEN) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs.
    DP over end positions; ties break toward the LONGER last piece,
    then lexicographically — fixed so train and parity reference
    agree bit-for-bit."""
    n = len(word)
    best: list[float] = [0.0] + [-math.inf] * n
    back: list[int] = [0] * (n + 1)
    for end in range(1, n + 1):
        for start in range(max(0, end - max_len), end):
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None:
                continue
            cand = best[start] + lp
            if cand > best[end] or (
                cand == best[end] and start < back[end]
            ):
                best[end] = cand
                back[end] = start
    if best[n] == -math.inf:  # unsegmentable (unseen char): char-split
        return list(word)
    out: list[str] = []
    end = n
    while end > 0:
        start = back[end]
        out.append(word[start:end])
        end = start
    return out[::-1]


_PIECE_COUNT_SCHEMA = StructType([
    StructField("piece", StringType()),
    StructField("n", LongType()),
])


def em_step(
    word_vocab: DataFrame, probs: dict[str, float]
) -> dict[str, float]:
    """One Viterbi-EM iteration: segment every distinct word under
    the current probabilities (frequency-weighted), re-normalize
    piece counts. Pieces never used by any best segmentation drop
    out (probability 0 → removed)."""
    logp = {p: math.log(q) for p, q in probs.items() if q > 0.0}

    def count_pieces(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc: dict[str, int] = {}
            for word, cnt in zip(pdf["word"], pdf["cnt"]):
                for piece in _viterbi(word, logp):
                    acc[piece] = acc.get(piece, 0) + int(cnt)
            yield pd.DataFrame(
                {"piece": list(acc.keys()), "n": list(acc.values())}
            )

    counted = (
        word_vocab.mapInPandas(count_pieces, _PIECE_COUNT_SCHEMA)
        .groupBy("piece")
        .agg(F.sum("n").alias("n"))
        .collect()  # bound: one row per piece of the vocabulary
    )
    counts = {r.piece: r.n for r in counted}
    total = sum(counts.values())
    return {p: c / total for p, c in sorted(counts.items())}


def prune_pieces(
    probs: dict[str, float], vocab_size: int
) -> dict[str, float]:
    """Keep the top-``vocab_size`` pieces by (prob desc, piece asc),
    always retaining every single-character piece (segmentability
    guarantee), then re-normalize."""
    singles = {p: q for p, q in probs.items() if len(p) == 1}
    multis = sorted(
        ((p, q) for p, q in probs.items() if len(p) > 1),
        key=lambda pq: (-pq[1], pq[0]),
    )[: max(0, vocab_size - len(singles))]
    kept = dict(singles)
    kept.update(dict(multis))
    total = sum(kept.values())
    return {p: q / total for p, q in sorted(kept.items())}


def train_unigram(
    docs: DataFrame,
    vocab_size: int = 200,
    iters: int = 3,
    max_seed: int = 1000,
    text_col: str = "text",
) -> dict[str, float]:
    """Full train loop: seed → (EM × iters) → prune → one final EM
    so the returned probabilities are consistent with the pruned
    vocabulary. The word vocab is cached across iterations (it is
    the table EVERY job reads; at 100 TB persist it to a warehouse
    table instead — same note as the MinHash signature store)."""
    vocab = build_word_vocab(docs, text_col).cache()
    try:
        probs = seed_pieces(vocab, max_seed=max_seed)
        for _ in range(iters):
            probs = em_step(vocab, probs)
        probs = prune_pieces(probs, vocab_size)
        return em_step(vocab, probs)
    finally:
        vocab.unpersist()


_TOKENIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("piece", StringType()),
    StructField("pos", LongType()),
    StructField("logp", DoubleType()),
])


def tokenize(
    docs: DataFrame, probs: dict[str, float], text_col: str = "text"
) -> DataFrame:
    """Viterbi-encode documents with a trained piece table:
    (doc_id, piece, pos, logp) rows. Map-only (Arrow-batched); the
    piece table rides along as broadcast state."""
    import re

    logp = {p: math.log(q) for p, q in probs.items() if q > 0.0}
    # ASCII-whitespace split matching build_word_vocab's Spark-side
    # Java regex \s+ (Python str.split()/\s would also break on
    # Unicode whitespace like  , so train/encode would disagree)
    ws = re.compile(r"[ \t\n\r\f\v]+")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_piece, out_pos, out_lp = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None:
                    continue
                pos = 0
                for word in ws.split(str(text).lower().strip()):
                    if not word:
                        continue
                    for piece in _viterbi(word, logp):
                        out_id.append(int(doc_id))
                        out_piece.append(piece)
                        out_pos.append(pos)
                        out_lp.append(logp.get(piece, float("-inf")))
                        pos += 1
            yield pd.DataFrame({
                "doc_id": out_id, "piece": out_piece,
                "pos": out_pos, "logp": out_lp,
            })

    return docs.select("doc_id", text_col).mapInPandas(
        encode, _TOKENIZE_SCHEMA
    )
