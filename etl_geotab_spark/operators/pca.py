"""Distributed PCA over an embedding column via Gramian aggregation.

North-star extension (SURVEY.md §2.9 X2 family): dimensionality
reduction is the standard pre-step for ANN serving (project 64→8 dims
before LSH/IVF), embedding visualization, and redundancy analysis of a
training corpus.

Scale design (100 TB): the classic two-pass Gramian method —

    pass 1: ONE ``kernels.batch_sum`` scan: each partition sums n,
            Σx (dim entries) and ΣxxT (dim² entries) over its Arrow
            batches and emits one flat-indexed block; a tiny groupBy
            merges them. Shuffle volume is dim²×partitions and the
            driver collects at most dim²+dim+1 rows — bounded by
            DIMENSION, never by N. NULL vectors are filtered first.
    driver: eigendecomposition of the dim×dim covariance (64×64 here —
            microseconds; even 4096-dim is a <1 s driver op).
    pass 2: projection is a vectorized pandas UDF matmul per batch
            with the (dim×k) component matrix closed over (broadcast
            by Spark's task serialization — KBs).

Determinism: eigenvector SIGN is fixed by forcing the largest-|coeff|
entry of each component positive (np.linalg.eigh is deterministic for
a given matrix, but the matrix itself depends on float summation order
across partitions → results are stable to ~1e-12, not bit-exact; the
queries()/tests layer treats PCA as rows-only + quality-gated).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_geotab_spark.operators.kernels import batch_sum, vectors


def fit_pca(
    df: DataFrame, vec_col: str = "embedding", k: int = 8
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit PCA on the corpus; returns (mean[dim], components[k,dim],
    explained_variance_ratio[k]). One distributed pass + one driver
    eigh of a dim×dim matrix."""
    vecs = df.select(vec_col).where(F.col(vec_col).isNotNull())
    dim = len(vecs.first()[0])

    def moments(pdf: pd.DataFrame) -> np.ndarray:
        # flat layout: [count, Σx (dim), row-major ΣxxT (dim²)]
        x = vectors(pdf[vec_col])
        return np.concatenate(([float(len(x))], x.sum(axis=0), (x.T @ x).ravel()))

    flat = batch_sum(vecs, 1 + dim + dim * dim, moments)
    n = flat[0]
    mean = flat[1 : 1 + dim] / n
    gram = flat[1 + dim :].reshape(dim, dim)
    # covariance from the Gramian: E[xxT] - mean meanT
    cov = gram / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k × dim)
    # sign convention: largest-|coeff| entry positive
    for i in range(comps.shape[0]):
        j = np.argmax(np.abs(comps[i]))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.trace(cov))
    ratio = np.maximum(evals[order], 0.0) / total_var
    return mean, comps, ratio


def project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Append the k-dim projection column: one vectorized matmul per
    Arrow batch; the (k×dim) matrix ships in the task closure."""
    from pyspark.sql.functions import pandas_udf

    mu = np.asarray(mean, dtype=np.float64)
    w = np.asarray(components, dtype=np.float64)  # (k × dim)

    @pandas_udf("array<double>")
    def _proj(vecs: pd.Series) -> pd.Series:
        # NULL vectors project to NULL (np.asarray would die on None)
        mask = vecs.notna()
        out = pd.Series([None] * len(vecs), dtype=object, index=vecs.index)
        if mask.any():
            x = vectors(vecs[mask])
            proj = (x - mu) @ w.T
            out.loc[mask] = pd.Series(
                list(proj), index=vecs.index[mask], dtype=object
            )
        return out

    return df.withColumn(out_col, _proj(F.col(vec_col)))
