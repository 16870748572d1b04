"""Distributed logistic-regression training (full-batch gradient
descent) — the minimal "ML training loop on Spark" pattern, same
execution shape as operators/kmeans.py:

- the MODEL (w, 65 doubles) is a default argument of the per-batch
  gradient function, so it ships in the closure of each round's
  ``kernels.batch_sum``;
- each partition emits only its PARTIAL gradient (dim+1 numbers), so
  the per-round shuffle is (partitions × dim) rows — never data-sized;
- the driver reduces dim+1 numbers and updates w.

At 100 TB this is exactly parameter-server-free data-parallel
training: gradient traffic is O(model), not O(data). The pytest gate
compares against a numpy reference run (same iterations, same lr) to
~1e-4 — partial-sum association differs from numpy's single-pass sum,
which bounds, not breaks, the comparison.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_geotab_spark.blocks import advance
from etl_geotab_spark.operators.kernels import batch_sum, vectors

WEIGHTS_SCHEMA = "feature_idx INT, weight DOUBLE"


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-z))


def train_logreg(
    df: DataFrame,
    features_col: str,
    label_col: str,
    dim: int,
    iterations: int = 5,
    lr: float = 0.1,
) -> DataFrame:
    """Train w (dim weights + bias at index ``dim``) by full-batch GD
    on sigmoid cross-entropy. Returns (feature_idx, weight)."""
    spark = df.sparkSession
    # freeze input once (iterations re-scan this); its row count rides
    # on the checkpoint's own job
    data, m = advance(None, df.select(
        F.col(features_col).alias("x"), F.col(label_col).cast("int").alias("y")
    ), F.count(F.lit(1)).alias("n"))
    n_total = m["n"]
    if n_total == 0:
        # grad/n_total would divide by zero and silently return
        # NaN/inf weights (numpy only warns) — fail loudly instead
        raise ValueError("train_logreg: empty input DataFrame")

    w = np.zeros(dim + 1, dtype=np.float64)
    for _ in range(iterations):

        def grad(b: pd.DataFrame, w: np.ndarray = w.copy()) -> np.ndarray:
            X = vectors(b["x"])
            r = _sigmoid(X @ w[:dim] + w[dim]) - b["y"].to_numpy(dtype=np.float64)
            return np.append(X.T @ r, r.sum())

        w -= lr * batch_sum(data, dim + 1, grad) / n_total

    return spark.createDataFrame(
        [(int(i), float(w[i])) for i in range(dim + 1)], WEIGHTS_SCHEMA
    )


def numpy_logreg(
    X: np.ndarray, y: np.ndarray, iterations: int = 5, lr: float = 0.1
) -> np.ndarray:
    """Reference single-machine trainer for the pytest gate."""
    n, dim = X.shape
    w = np.zeros(dim + 1, dtype=np.float64)
    for _ in range(iterations):
        z = X @ w[:dim] + w[dim]
        r = _sigmoid(z) - y
        grad = np.concatenate([X.T @ r, [r.sum()]])
        w -= lr * grad / n
    return w
