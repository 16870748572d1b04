"""Round-16 §26b vacuous-evidence audit: input-volume gates.

The r15 streaming-fixture bug (SCALE.md §26b) passed every
non-emptiness check for nine rounds while draining an EMPTY stream.
The generalized lesson: any harness that ASSUMES an input volume must
ASSERT it — row-count equality against a pinned expectation, never
"non-empty". This file is the central instance of that pattern:

- the fixture tables' exact cardinalities, pinned per SF, via BOTH
  read paths (duckdb on the raw parquet; ``load_table`` — the path
  every ground-truth pytest uses). Any fixture-reading test in the
  suite now runs alongside an exact input-volume assertion over the
  same inputs in the same pytest run, so a truncated/empty fixture
  can no longer let a "engine == ground-truth-from-same-read"
  comparison pass vacuously (both sides empty).
- the stress harness's replica-volume gate
  (``scale_stress.assert_replica_volume``) — unit-tested on fakes so
  the equality logic itself is covered without a scratch_sf1 build.
- direct value gates for the three rows-only queries the r16 sweep
  found WITHOUT a ground-truth pytest on the registered query
  (``approx_distinct``, ``ann_recall_eval``, ``minhash_recall_eval``
  — their underlying operators were gated, the query outputs were
  not), including the n_exact > 0 assertion that keeps
  minhash_recall_eval's recall a measured number rather than the
  NULL it now reports on an empty ground-truth set.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from etl_geotab_spark.io import load_table  # noqa: E402
from fixture_volumes import EXPECTED_ROWS, expected_for  # noqa: E402


def test_expected_rows_shape_and_lookup():
    """The shared pin module (single source for bench.py,
    scale_stress, and this file) covers every table at every SF,
    and expected_for resolves known dirs / declines unknown ones."""
    tables = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert set(EXPECTED_ROWS) == {"sf0.001", "sf0.01", "sf0.1"}
    for sf, rows in EXPECTED_ROWS.items():
        assert set(rows) == tables, sf
    assert expected_for("/root/testdata/sf0.01/") == EXPECTED_ROWS["sf0.01"]
    assert expected_for("/root/repo/scratch_sf1") is None


@pytest.mark.parametrize("sf", sorted(EXPECTED_ROWS))
def test_fixture_cardinalities_exact_duckdb(sf):
    """Every table at every SF holds EXACTLY the pinned row count —
    the file-level input-volume gate for the whole suite."""
    for table, want in EXPECTED_ROWS[sf].items():
        got = duckdb.sql(
            f"SELECT count(*) FROM '/root/testdata/{sf}/{table}.parquet'"
        ).fetchone()[0]
        assert got == want, f"{sf}/{table}: {got} rows, pinned {want}"


def test_fixture_cardinalities_exact_load_table(spark, sf_dir):
    """Same pin through load_table — the read path the ground-truth
    pytests use (duckdb reading the files proves the FILES hold the
    rows; this proves the suite's reader SURFACES them)."""
    for table, want in EXPECTED_ROWS["sf0.001"].items():
        got = load_table(spark, sf_dir, table).count()
        assert got == want, f"load_table sf0.001/{table}: {got} != {want}"


# ------------------------------------------------- replica-volume gate


class _FakeDF:
    def __init__(self, n):
        self._n = n

    def count(self):
        return self._n


def test_assert_replica_volume_passes_on_exact_counts(monkeypatch):
    import scale_stress

    counts = {
        scale_stress.SRC: {t: 100 for t in scale_stress.TABLES},
        scale_stress.OUT: {
            t: (100 if t in scale_stress.DIM_TABLES
                else 100 * scale_stress.REPLICAS)
            for t in scale_stress.TABLES
        },
    }
    monkeypatch.setattr(
        scale_stress, "load_table",
        lambda spark, d, t: _FakeDF(counts[d][t]),
    )
    scale_stress.assert_replica_volume(spark=None)  # must not raise


@pytest.mark.parametrize("bad_kind", ["empty", "partial", "dim_replicated"])
def test_assert_replica_volume_rejects_wrong_volume(monkeypatch, bad_kind):
    """Equality, not non-emptiness: an empty table, a partial replica
    set (9x instead of 10x), and an accidentally-replicated dim must
    ALL fail — the middle case is exactly what a non-empty check
    would wave through."""
    import scale_stress

    def out_count(t):
        if bad_kind == "empty":
            return 0 if t == "lineitem" else (
                100 if t in scale_stress.DIM_TABLES else 1000)
        if bad_kind == "partial":
            return 900 if t == "lineitem" else (
                100 if t in scale_stress.DIM_TABLES else 1000)
        return 100 * scale_stress.REPLICAS if t == "nation" else (
            100 if t in scale_stress.DIM_TABLES else 1000)

    counts = {
        scale_stress.SRC: {t: 100 for t in scale_stress.TABLES},
        scale_stress.OUT: {t: out_count(t) for t in scale_stress.TABLES},
    }
    monkeypatch.setattr(
        scale_stress, "load_table",
        lambda spark, d, t: _FakeDF(counts[d][t]),
    )
    with pytest.raises(AssertionError, match="scratch_sf1/"):
        scale_stress.assert_replica_volume(spark=None)


# ------------------------------------ tool-side volume pins (r17 §26b)
# The r16 verdict's "one tier out" sweep: the TOOLS' own inputs. A
# check_oracle run over a truncated fixture would compare both engines
# on the same wrong data and agree, so it pins its inputs; the
# equality logic is covered here on in-memory views (the
# assert_replica_volume precedent) plus one real pass-path read.


def test_check_oracle_volume_gate():
    import check_oracle

    con = duckdb.connect()
    con.execute("CREATE VIEW orders AS SELECT * FROM range(1500)")
    con.execute("CREATE VIEW lineitem AS SELECT * FROM range(42)")
    # exact counts pass; no pin held => gate skips (ad-hoc fixtures)
    assert check_oracle.volume_failures(
        con, {"orders": 1500, "lineitem": 42}) == []
    assert check_oracle.volume_failures(con, None) == []
    # truncation and emptiness both fail with named counts
    bad = check_oracle.volume_failures(
        con, {"orders": 1500, "lineitem": 6000})
    assert bad == ["lineitem: 42 rows, pinned 6000"]


def test_check_oracle_volume_gate_real_fixture(sf_dir):
    """Pass-path through the real wiring: DuckDB views over the
    sf0.001 fixture vs the live pins — exactly what main() runs."""
    import check_oracle

    con = check_oracle.connect(sf_dir)
    assert check_oracle.volume_failures(con, expected_for(sf_dir)) == []


# ---------------------- direct gates for the three uncovered rows-only


def test_approx_distinct_within_hll_error_bounds(spark, sf_dir):
    """q_approx_distinct vs exact countDistinct on the same table:
    approx_count_distinct's default rsd is 5%, gate at 2 sigma (10%).
    The exact side is itself pinned (150 customers / 1500 orders at
    sf0.001) so the comparison cannot go vacuous."""
    import etl_geotab_spark.queries as q
    from pyspark.sql import functions as F

    r = q.q_approx_distinct(spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    exact = o.select(
        F.countDistinct("o_custkey").alias("ck"),
        F.countDistinct("o_orderkey").alias("ok"),
    ).collect()[0]
    assert (exact.ck, exact.ok) == (150, 1500)  # input-volume pin
    assert abs(r.approx_custkeys - exact.ck) / exact.ck <= 0.10
    assert abs(r.approx_orderkeys - exact.ok) / exact.ok <= 0.10


def test_ann_recall_eval_measures_the_pinned_sample(spark, sf_dir):
    """The eval's n_queries must equal the fixed md5-order limit(64)
    sample size EXACTLY (the bounded-harness contract), both methods
    must report, and recall floors pin that the indexes actually find
    neighbors (sf0.001 measured: lsh 0.8453, ivf 0.7578 — floors sit
    well below the seeded-deterministic values, well above noise)."""
    import etl_geotab_spark.queries as q

    rows = {r.method: r for r in q.q_ann_recall_eval(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "ivf"}
    for r in rows.values():
        assert r.n_queries == 64  # input-volume pin: the eval sample
        assert 0.0 <= r.recall_at_10 <= 1.0
    assert rows["lsh"].recall_at_10 >= 0.6
    assert rows["ivf"].recall_at_10 >= 0.5


def test_minhash_recall_eval_ground_truth_is_nonempty(spark, sf_dir):
    """The probe-incident exact-Jaccard ground truth at sf0.001 is
    EXACTLY 19 pairs (deterministic md5-order probe over a frozen
    fixture) — pinned so the recall number is always a measured
    ratio. Precision must be exactly 1.0 (the LSH verify stage
    re-checks exact Jaccard on every candidate), and recall must be
    a real value, not the NULL the query now reports for an empty
    ground-truth set."""
    import etl_geotab_spark.queries as q

    r = q.q_minhash_recall_eval(spark, sf_dir).collect()[0]
    assert r.n_exact == 19  # input-volume pin for the ground truth
    assert r.recall is not None and 0.0 < r.recall <= 1.0
    assert r.precision == 1.0
    assert r.n_found >= round(r.recall * r.n_exact)
