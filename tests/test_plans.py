"""Physical-plan regression gate (SURVEY.md §4): every registered
query's explain() is audited for accidental cartesian/nested-loop
joins, lost parquet predicate pushdown, unpruned scans, missing
map-side partial aggregation, and expected join strategies.

Plans only — nothing executes — so the whole registry audits in one
test at sf0.001. A failure here means a plan regressed (e.g. a filter
stopped reaching the scan), which bench numbers would only show later
and at much higher cost.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.explain_audit import audit_plans  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_all_query_plans_clean(spark):
    failures = audit_plans(spark, SF_DIR, verbose=False)
    assert not failures, f"plan violations: {failures}"


def test_dead_exemption_sweep_is_sf_pinned():
    """The dead-exemption sweep's liveness verdict must come from ONE
    canonical sf_dir regardless of where the full audit ran (r16
    advice: the pytest gate at sf0.001 and the CLI at sf0.01
    disagreed whenever an exempted pattern was SF-dependent). Pin
    the constant and keep it aligned with the CLI default so the
    common roundcheck path reuses its own plans."""
    from tools import explain_audit

    assert explain_audit.SWEEP_SF_DIR == "/root/testdata/sf0.01"
    import inspect

    src = inspect.getsource(explain_audit.main)
    assert '"/root/testdata/sf0.01"' in src  # CLI default == canonical


def test_private_api_seams_pinned(spark):
    """r17 verdict item 9: _spread_adaptive/_fits_broadcast and the
    block-release helpers (blocks.py) reach into private PySpark seams
    (_jdf.queryExecution, _jsparkSession.sessionState, _jsc
    .getPersistentRDDs) and silently fall back on exception — correct
    degradation, but a PySpark upgrade that breaks a seam would then
    silently disable every gated hint / leak every block. This test
    makes the seams fail LOUDLY: each accessor must return a sane
    value on the pinned PySpark."""
    from pyspark.sql import functions as F

    from etl_geotab_spark.queries import _fits_broadcast, _spread_adaptive

    df = spark.range(1000).select(
        F.col("id"), F.col("id").cast("string").alias("s")
    )
    # stats seam: the optimizer's own size estimate, directly
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est > 0
    # conf seam: the session threshold accessor (64MB session default)
    thr = int(
        spark._jsparkSession.sessionState()
        .conf()
        .autoBroadcastJoinThreshold()
    )
    assert thr > 0
    # end-to-end: a 1000-row frame fits 64MB, so the gate must fire...
    assert _fits_broadcast(df) is True
    # ...and the adaptive spread must clamp a KB-scale frame to 1
    # partition (stats seam alive), never the full-parallelism fallback
    assert _spread_adaptive(df).rdd.getNumPartitions() == 1


def test_block_release_helpers(spark, monkeypatch):
    """blocks.py (r17 verdict item 3): release_checkpoint frees a
    localCheckpoint's blocks, no-ops on a plain projection, and
    release_all_cached leaves ZERO persisted RDDs in the session —
    the per-query-exit invariant the bench hook relies on — without a
    Java error converted on the way (py4j's map iterator ends in one,
    ~20 ms a call on every query exit)."""
    from pyspark.errors.exceptions import captured
    from pyspark.sql import functions as F

    from etl_geotab_spark.blocks import (
        persistent_rdd_count,
        release_all_cached,
        release_checkpoint,
    )

    release_all_cached(spark)  # start clean
    base = persistent_rdd_count(spark)
    assert base == 0

    ck = spark.range(100).select(F.col("id") * 2).localCheckpoint(eager=True)
    assert persistent_rdd_count(spark) == base + 1
    # a projection over the checkpoint is NOT releasable via the seam
    assert release_checkpoint(ck.select("*").withColumn("x", F.lit(1))) is False
    assert persistent_rdd_count(spark) == base + 1
    # the checkpoint itself is
    assert release_checkpoint(ck) is True
    assert persistent_rdd_count(spark) == base

    # a LogicalRDD root whose RDD was never persisted is not a checkpoint:
    # no-op, and the frame stays readable
    plain = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(10)]), "x long"
    )
    assert release_checkpoint(plain) is False
    assert plain.count() == 10
    assert persistent_rdd_count(spark) == base

    # release_all_cached: catalog cache + surviving checkpoint blocks
    spark.range(50).persist().count()
    spark.range(60).localCheckpoint(eager=True)
    assert persistent_rdd_count(spark) >= 2
    converted = []
    convert = captured.convert_exception

    def counting(e):
        converted.append(e)
        return convert(e)

    monkeypatch.setattr(captured, "convert_exception", counting)
    assert release_all_cached(spark) >= 1
    monkeypatch.undo()
    assert persistent_rdd_count(spark) == 0
    assert converted == []


@pytest.mark.parametrize(
    "name, nodes", [("ivf_ann_topk", 2), ("kmeans_embeddings", 1)]
)
def test_nearest_centroid_udf_evaluated_once_per_pass(spark, name, nodes):
    """The nearest-centroid UDF is nondeterministic on purpose: without
    the marker the optimizer duplicates it under an inferred IS NOT
    NULL filter (ivf_ann_topk reads 4 ArrowEvalPython nodes instead of
    one per assignment pass: the corpus and the probes)."""
    from etl_geotab_spark.blocks import release_all_cached
    from etl_geotab_spark.queries import queries

    df = queries()[name](spark, SF_DIR)
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("ArrowEvalPython") == nodes, plan
    finally:
        release_all_cached(spark)


def test_iterative_operators_bound_pinned_blocks(spark):
    """The iterative operators (pagerank, connected components, BPE,
    the recursive order chains) release each superseded checkpoint
    (guide §5): after the result materializes, the session must hold
    O(1) pinned RDDs —
    loop-invariants plus the final state — never O(rounds) copies."""
    from pyspark.sql import functions as F

    from etl_geotab_spark.blocks import persistent_rdd_count, release_all_cached
    from etl_geotab_spark.operators.clusters import connected_components
    from etl_geotab_spark.operators.pagerank import pagerank

    release_all_cached(spark)
    # chain graph 0-1-2-...-9 plus an isolated dangling edge: >=3 CC
    # rounds, 8 pagerank rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    comps = connected_components(pairs)
    comps.write.format("noop").mode("overwrite").save()
    # edges + final labels only (each round released its predecessor)
    assert persistent_rdd_count(spark) <= 3
    release_all_cached(spark)

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    ranks = pagerank(edges, iters=8)
    ranks.write.format("noop").mode("overwrite").save()
    # loop-invariants (nodes, e_deg) + final ranks; the raw edge
    # checkpoint and all 8 superseded rank rounds are released
    assert persistent_rdd_count(spark) <= 3
    n = release_all_cached(spark)
    assert n >= 1
    assert persistent_rdd_count(spark) == 0

    # recursive_order_chains unpins its edge-list checkpoint once the
    # eager chain checkpoint exists: the chain is all that stays
    from etl_geotab_spark.queries import q_recursive_order_chains

    q_recursive_order_chains(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    assert persistent_rdd_count(spark) == 1
    release_all_cached(spark)


def test_iterative_operators_run_no_probe_actions(spark, monkeypatch):
    """Connected components, PageRank and logistic regression read
    their convergence values (changed labels, node count, dangling
    mass, row count) from their rounds' own checkpoints: no ``count``
    or ``collect`` of their own. Logreg's one collect per iteration is
    the gradient pull (``kernels.batch_sum``), the round itself."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from etl_geotab_spark.blocks import release_all_cached
    from etl_geotab_spark.operators.clusters import connected_components
    from etl_geotab_spark.operators.logreg import train_logreg
    from etl_geotab_spark.operators.pagerank import pagerank

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "id_a long, id_b long"
    )
    # node 6 has no out-edges
    graph = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (3, 6)], "src long, dst long"
    )
    points = spark.range(40).select(
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("x"),
        (F.col("id") % 2).alias("y"),
    )
    calls: list[str] = []
    for action in ("count", "collect"):
        orig = getattr(ClassicDataFrame, action)

        def spy(self, *a, _orig=orig, _name=action, **kw):
            calls.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(ClassicDataFrame, action, spy)

    comps = connected_components(chain)
    ranks = pagerank(graph, iters=8)
    assert calls == []
    train_logreg(points, "x", "y", dim=2, iterations=2)
    assert calls == ["collect", "collect"]
    monkeypatch.undo()
    # the results are still right: one component, mass conserved
    assert [r[0] for r in comps.select("component").distinct().collect()] == [0]
    assert comps.count() == 32
    assert abs(ranks.agg(F.sum("rank")).collect()[0][0] - 1.0) < 1e-9
    release_all_cached(spark)
