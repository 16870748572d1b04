"""Shared Arrow kernels of the vector operators: one partial-sum round
and one nearest-centroid assignment.

- ``batch_sum`` is the round every iterative vector operator runs:
  k-means and the IVF refine (``lloyd_round``), PCA's Gramian and
  logistic regression's gradient. ``fn`` turns one Arrow batch into a
  fixed-length float64 vector; each partition sums its batches in numpy
  and emits ONE block of ``(idx, s)`` rows (only the non-zero entries);
  one ``groupBy(idx)`` merges the blocks and ``size`` numbers reach the
  driver. Shuffle volume is bounded by ``size`` × partitions, never by
  the row count.
- ``nearest`` is the assignment UDF of k-means and IVF: one float64
  distance matrix per Arrow batch, the centroid matrix (k×dim, bounded
  by contract) shipped in the closure. No crossJoin row expansion and no
  shuffle.

Metrics:

- ``euclidean``: argmin of the exact per-pair ``(x-c)²`` sums (not the
  ``|x|²-2xc+|c|²`` expansion, which loses precision exactly where ties
  matter);
- ``cosine``: argmax of the dot products of unit-normalized rows (a zero
  row stays zero).

Ties go to the lowest centroid id (``argmin`` and the stable
``argsort`` keep the first minimum; centroid ids are positions).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def vectors(series: pd.Series) -> np.ndarray:
    """An Arrow batch's array column as an (n, dim) float64 matrix."""
    return np.asarray(list(series), dtype=np.float64)


def unit_rows(mat: np.ndarray) -> np.ndarray:
    """Unit-normalize matrix rows; zero rows pass through unchanged."""
    nrm = np.linalg.norm(mat, axis=1)
    return mat / np.where(nrm == 0, 1.0, nrm)[:, None]


def batch_sum(
    df: DataFrame, size: int, fn: Callable[[pd.DataFrame], np.ndarray]
) -> np.ndarray:
    """Sum ``fn(batch)`` — a float64 vector of length ``size`` — over
    every non-empty Arrow batch of ``df``; returns the total on the
    driver."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            if len(pdf):
                part = fn(pdf)
                acc = part if acc is None else acc + part
        if acc is not None:
            idx = np.flatnonzero(acc)
            yield pd.DataFrame({"idx": idx, "s": acc[idx]})

    rows = (
        df.mapInPandas(partials, "idx long, s double")
        .groupBy("idx")
        .agg(F.sum("s").alias("s"))
        .collect()  # bounded: at most `size` rows
    )
    total = np.zeros(size, dtype=np.float64)
    for r in rows:
        total[r["idx"]] = r["s"]
    return total


def _cost(centroids, metric: str) -> Callable[[np.ndarray], np.ndarray]:
    """(n, k) cost of each row against each centroid; lower is nearer."""
    c = np.asarray(centroids, dtype=np.float64)
    if metric == "euclidean":
        return lambda x: ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    if metric == "cosine":
        cu = unit_rows(c)
        return lambda x: -(unit_rows(x) @ cu.T)
    raise ValueError(f"unknown metric {metric!r}")


def nearest(
    df: DataFrame, vec_col: str, centroids, metric: str, n: int, out: str
) -> DataFrame:
    """Add ``out``, the id (a ``long``) of the nearest centroid; with
    ``n`` > 1, one row per each of the ``n`` nearest, nearest first."""
    cost = _cost(centroids, metric)

    # Downstream equi-joins on the assignment column make the optimizer
    # infer an IS NOT NULL filter on the UDF output and push it below
    # the projection BY DUPLICATING THE UDF — the IVF plans carried two
    # chained ArrowEvalPython nodes per side, so the full-corpus
    # assignment pass ran twice (plans/r18/ivf_ann_topk_*.txt).
    # asNondeterministic forbids the duplication; the inferred filter
    # runs once, above a single evaluation. Values unchanged (the
    # function is pure; the marker only constrains the optimizer).
    if n == 1:

        @pandas_udf("long")
        def _nearest(vecs: pd.Series) -> pd.Series:
            x = vectors(vecs)
            if x.size == 0:
                return pd.Series([], dtype="int64")
            return pd.Series(np.argmin(cost(x), axis=1).astype("int64"))

        return df.withColumn(out, _nearest.asNondeterministic()(F.col(vec_col)))

    @pandas_udf("array<long>")
    def _topn(vecs: pd.Series) -> pd.Series:
        x = vectors(vecs)
        if x.size == 0:
            return pd.Series([], dtype=object)
        order = np.argsort(cost(x), axis=1, kind="stable")[:, :n]
        return pd.Series([row.tolist() for row in order])

    return df.withColumn(
        "_probes", _topn.asNondeterministic()(F.col(vec_col))
    ).select(*df.columns, F.explode("_probes").alias(out))


def lloyd_round(
    points: DataFrame, vec_col: str, centroids, metric: str
) -> np.ndarray:
    """One fused Lloyd round: assign every row to its nearest centroid
    and average each centroid's rows, in one ``batch_sum``. A centroid
    that captures nothing keeps its old vector — otherwise the centroid
    set silently shrinks (and an IVF n_probe fraction lies)."""
    c = np.asarray(centroids, dtype=np.float64)
    k, dim = c.shape
    cost = _cost(c, metric)

    def sums_and_counts(pdf: pd.DataFrame) -> np.ndarray:
        x = vectors(pdf[vec_col])
        onehot = np.argmin(cost(x), axis=1)[:, None] == np.arange(k)
        xs1 = np.hstack([x, np.ones((len(x), 1))])
        return (onehot.T.astype(np.float64) @ xs1).ravel()

    s = batch_sum(points.select(vec_col), k * (dim + 1), sums_and_counts)
    s = s.reshape(k, dim + 1)
    n = s[:, dim:]
    return np.where(n > 0, s[:, :dim] / np.maximum(n, 1.0), c)
