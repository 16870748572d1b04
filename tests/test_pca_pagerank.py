"""Quality gates for the rows-only iterative/linear-algebra operators:
distributed PCA (operators/pca.py) and PageRank (operators/pagerank.py).
Both are float-iterative, so instead of a DuckDB oracle they are held
to driver-side numpy ground truth on the smoke fixture."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_geotab_spark.io import load_table
from etl_geotab_spark.operators.pagerank import pagerank
from etl_geotab_spark.operators.pca import fit_pca, project


@pytest.fixture(scope="module")
def emb_np(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = df.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    # r16 §26b: pin the input volume — np.allclose(empty, empty) is
    # True, so every matmul-comparison test below would pass
    # vacuously on an empty read.
    assert x.shape[0] == 500, x.shape
    return ids, x


class TestPCA:
    def test_matches_numpy_ground_truth(self, spark, sf_dir, emb_np):
        ids, x = emb_np
        df = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        mean, comps, ratio = fit_pca(df, "embedding", k=8)

        # numpy reference on the full collected matrix
        mu = x.mean(axis=0)
        cov = (x - mu).T @ (x - mu) / x.shape[0]
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:8]
        ref_ratio = evals[order] / np.trace(cov)
        ref_comps = evecs[:, order].T

        assert np.allclose(mean, mu, atol=1e-9)
        assert np.allclose(ratio, ref_ratio, atol=1e-9)
        # eigenvectors match up to sign: |cos| per component ~ 1
        cos = np.abs((comps * ref_comps).sum(axis=1))
        assert np.all(cos > 1 - 1e-9), cos

    def test_projection_matches_matmul(self, spark, sf_dir, emb_np):
        ids, x = emb_np
        df = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        mean, comps, _ = fit_pca(df, "embedding", k=4)
        out = {
            r["vec_id"]: np.array(r["proj"])
            for r in project(df, mean, comps).select("vec_id", "proj").collect()
        }
        ref = (x - mean) @ comps.T
        got = np.array([out[i] for i in ids])
        assert np.allclose(got, ref, atol=1e-9)

    def test_null_vectors_skipped_and_project_to_null(self, spark):
        rows = [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0]), (4, [5.0, 6.0])]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        mean, comps, _ = fit_pca(df, "embedding", k=1)
        # fit ignores the NULL row: mean over the 3 real vectors
        assert np.allclose(mean, [3.0, 4.0])
        out = {
            r["vec_id"]: r["proj"]
            for r in project(df, mean, comps).collect()
        }
        assert out[2] is None
        assert all(out[i] is not None for i in (1, 3, 4))

    def test_query_preserves_null_vectors_as_rows(self, spark, tmp_path):
        """round-9 review: q_pca_project posexplodes the projection to
        scalar rows — it must use the OUTER variant so a NULL input
        vector (which project() maps to a NULL projection) survives as
        one (vec_id, NULL, NULL) row instead of vanishing."""
        import os

        from etl_geotab_spark.queries import queries

        rows = [
            (i, [float(i + j) for j in range(16)]) for i in range(12)
        ] + [(99, None)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        fixture = str(tmp_path / "pca_fixture")
        os.makedirs(fixture, exist_ok=True)
        df.coalesce(1).write.mode("overwrite").parquet(
            fixture + "/embeddings.parquet"
        )
        out = queries()["pca_project"](spark, fixture).collect()
        null_rows = [r for r in out if r.vec_id == 99]
        assert len(null_rows) == 1
        assert null_rows[0].component_idx is None
        assert null_rows[0].loading is None
        # real vectors: 8 scalar rows each
        assert sum(1 for r in out if r.vec_id == 0) == 8

    def test_variance_concentrates(self, spark, sf_dir):
        df = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        _, _, ratio = fit_pca(df, "embedding", k=8)
        assert 0.0 < ratio.sum() <= 1.0 + 1e-12
        # spectrum is sorted descending
        assert np.all(np.diff(ratio) <= 1e-12)


def _numpy_pagerank(edges, damping=0.85, iters=8):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for a, _ in edges:
        deg[idx[a]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.zeros(n)
        for a, b in edges:
            nxt[idx[b]] += r[idx[a]] / deg[idx[a]]
        dangling = r[deg == 0].sum()
        r = (1 - damping) / n + damping * (nxt + dangling / n)
    return {v: r[idx[v]] for v in nodes}


class TestPageRank:
    def test_matches_numpy_power_iteration(self, spark):
        edges = [
            (1, 2), (2, 1), (2, 3), (3, 1), (4, 3), (1, 4),
            (5, 1),  # 5 has an out-edge, nothing points to it
            (3, 6),  # 6 is dangling (no out-edges)
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df, iters=8).collect()
        }
        ref = _numpy_pagerank(edges, iters=8)
        assert set(got) == set(ref)
        for v in ref:
            assert abs(got[v] - ref[v]) < 1e-9, (v, got[v], ref[v])

    def test_mass_conserved(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (3, 4)]
        df = spark.createDataFrame(edges, "src long, dst long")
        ranks = pagerank(df, iters=5)
        total = ranks.agg(F.sum("rank")).collect()[0][0]
        assert abs(total - 1.0) < 1e-9

    def test_pagerank_parts_matches_numpy(self, spark, sf_dir):
        """The registered query's top 20 against a numpy power
        iteration over the same co-purchase graph, rebuilt here from
        lineitem: two parts in 1-in-5 categories bought in one order
        share one edge each way. Ranks agree to the query's 8-decimal
        rounding. (That graph has no dangling nodes; node 6 above
        covers them.)"""
        from collections import defaultdict

        from etl_geotab_spark.queries import queries
        from etl_geotab_spark.run import scope

        with scope(spark, "pagerank_parts"):
            got = queries()["pagerank_parts"](spark, sf_dir).collect()
        baskets = defaultdict(set)
        for r in load_table(spark, sf_dir, "lineitem").collect():
            if r.l_partkey % 5 == 0:
                baskets[r.l_orderkey].add(r.l_partkey)
        pairs = {
            (a, b) for parts in baskets.values() for a in parts for b in parts
            if a < b
        }
        edges = [e for a, b in pairs for e in ((a, b), (b, a))]
        ref = _numpy_pagerank(edges, iters=6)
        assert len(got) == 20 < len(ref)
        for r in got:
            assert abs(r["rank"] - ref[r["node"]]) <= 1e-8, (r, ref[r["node"]])
        # nothing left out ranks above the 20th
        cutoff = min(r["rank"] for r in got)
        top = {r["node"] for r in got}
        assert all(v <= cutoff + 1e-8 for k, v in ref.items() if k not in top)
