"""Distributed logistic-regression training — batch gradient descent
where each iteration is ONE combiner-friendly aggregation over the
data and the model lives on the driver (d+1 scalars).

This is the fit step for the quality-classifier family: the hashed-
feature INFERENCE pass (workloads/scoring.py::quality_classifier_
hashed) scores with fixed weights; this operator produces those
weights from labeled rows. Same tiny-model / huge-data split as
k-means (workloads/similarity.py) and PQ (operators/pq.py):
per-iteration network traffic is the gradient vector, never rows.

Scale: the gradient is sum over rows of (sigmoid(w·x) − y)·x — a
per-row projection followed by d+1 partial-aggregated sums; at
100 TB each epoch is one scan with map-side combine, and epochs
parallelize across dimensions inside the single agg (one column per
gradient component, not one job per component). Deterministic: no
sampling, fixed init, fixed iteration count → NumPy-reproducible
(tests/test_logreg.py). Mini-batching at scale = a deterministic
hash-threshold filter per epoch (same pattern as the samplers)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def train_logreg(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 20,
    lr: float = 0.5,
) -> list[float]:
    """Fit weights [w_0 (bias), w_1..w_d] by full-batch GD; returns
    the weight vector after ``iters`` steps."""
    d = len(feature_cols)
    w = [0.0] * (d + 1)
    n = df.count()
    for _ in range(iters):
        dot = " + ".join(
            [f"{w[0]!r}d"]
            + [
                f"{w[i + 1]!r}d * cast({c} as double)"
                for i, c in enumerate(feature_cols)
            ]
        )
        resid = (
            f"(1.0d / (1.0d + exp(-({dot}))) - cast({label_col} as double))"
        )
        aggs = [F.sum(F.expr(resid)).alias("g0")] + [
            F.sum(F.expr(f"{resid} * cast({c} as double)")).alias(f"g{i + 1}")
            for i, c in enumerate(feature_cols)
        ]
        row = df.agg(*aggs).collect()[0]  # bound: one aggregate row
        grad = [row[f"g{i}"] / n for i in range(d + 1)]
        w = [wi - lr * gi for wi, gi in zip(w, grad)]
    return w


def predict_proba(
    df: DataFrame, feature_cols: list[str], weights: list[float]
) -> DataFrame:
    """Append ``proba`` = sigmoid(w·x) — a scan-stage expression."""
    dot = " + ".join(
        [f"{weights[0]!r}d"]
        + [
            f"{weights[i + 1]!r}d * cast({c} as double)"
            for i, c in enumerate(feature_cols)
        ]
    )
    return df.withColumn(
        "proba", F.expr(f"1.0d / (1.0d + exp(-({dot})))")
    )
