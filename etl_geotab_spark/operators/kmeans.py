"""Distributed Lloyd's k-means over an embedding column.

North-star extension (SURVEY.md §2.9 X2 family): clustering an
``array<float>`` column is the building block behind IVF index
construction (operators/similarity.py ``ivf_topk``), semantic dedup
bucketing, and training-data curation (cluster-balanced sampling).

Scale design (100 TB): the N×dim point set stays distributed end to
end; only the k×dim centroid table ever touches the driver (k ≤ a few
thousand → KBs-MBs). Each iteration is one ``kernels.lloyd_round``
under the euclidean metric: one Arrow-batched pass assigns every row
(exact squared distances, numpy argmin per batch) and sums each
partition's rows into per-centroid (sum, count) partials — the
map-side combine — and one tiny ``groupBy`` merges them, so shuffle
volume is k×(dim+1)×partitions regardless of N. The final assignment
is ``kernels.nearest``.

That is the canonical distributed k-means cost: O(iters) jobs, each one
scan + one tiny shuffle. Deterministic: seeds are the k lowest-id
vectors, ties in argmin break toward the lower centroid id.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_geotab_spark.operators.kernels import lloyd_round, nearest


def _sq_dist(vec_col: Column, centroid: list[float]) -> Column:
    """Squared euclidean distance to a literal centroid — pure JVM
    expression (zip_with + aggregate), codegen-friendly."""
    lit_c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec_col, lit_c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def lloyd_kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
) -> tuple[DataFrame, list[list[float]]]:
    """Run `iters` Lloyd iterations; returns (assigned_df, centroids),
    the frame with an ``int`` ``cluster`` column.

    Seeding: the k rows with the lowest `id_col` (deterministic across
    engines/partitionings; k-means++ would add per-seed passes — at
    scale you seed from a driver-side sample either way).
    """
    seeds = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    centroids = np.array([r[vec_col] for r in seeds], dtype=np.float64)

    for _ in range(iters):
        centroids = lloyd_round(df, vec_col, centroids, "euclidean")

    assigned = nearest(df, vec_col, centroids, "euclidean", 1, "cluster")
    return (
        assigned.withColumn("cluster", F.col("cluster").cast("int")),
        centroids.tolist(),
    )
