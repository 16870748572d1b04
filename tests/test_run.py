"""The query runner (``etl_geotab_spark/run.py``): a library-style
``run`` leaves nothing pinned, records a failing query instead of
raising and still releases its blocks, and tags the query's jobs with
its name so Spark's status stores can be read per query."""

from __future__ import annotations

import pytest

from etl_geotab_spark import queries as Q
from etl_geotab_spark.blocks import persistent_rdd_count, release_all_cached
from etl_geotab_spark.run import main, run


def test_run_leaves_nothing_pinned(spark, sf_dir):
    release_all_cached(spark)
    rec = run(spark, "heavy_hitters", sf_dir)
    assert set(rec) == {
        "name", "wall_s", "build_s", "jobs", "error", "released"
    }
    assert rec["name"] == "heavy_hitters"
    assert rec["error"] is None and rec["wall_s"] >= 0
    assert 0 <= rec["build_s"] <= rec["wall_s"] and rec["jobs"] >= 0
    # forced bare, the query leaves its checkpoint pinned; the scope
    # released it
    assert rec["released"] >= 1
    assert persistent_rdd_count(spark) == 0


def test_failing_query_is_recorded_and_released(spark, sf_dir, monkeypatch):
    def pin_then_fail(spark, sf):
        spark.range(10).localCheckpoint(eager=True)
        raise ValueError("boom")

    monkeypatch.setitem(Q._REGISTRY, "pin_then_fail", (pin_then_fail, None))
    release_all_cached(spark)
    rec = run(spark, "pin_then_fail", sf_dir)
    assert rec["error"] == "ValueError: boom"
    assert rec["wall_s"] == -1.0 and rec["build_s"] == -1.0
    assert rec["released"] == 1
    assert persistent_rdd_count(spark) == 0


def test_run_counts_the_jobs_of_each_build(spark, sf_dir, monkeypatch):
    def two_pulls(spark, sf):
        spark.range(4).collect()
        spark.range(4).collect()
        return spark.range(4)

    monkeypatch.setitem(Q._REGISTRY, "two_pulls", (two_pulls, None))
    # the group's earlier runs and the force are not counted
    for _ in range(2):
        rec = run(spark, "two_pulls", sf_dir)
        assert rec["error"] is None and rec["jobs"] == 2


def test_run_tags_jobs_with_the_query_name(spark, sf_dir):
    sc = spark.sparkContext
    before = sc.getLocalProperty("spark.jobGroup.id")
    rec = run(spark, "pricing_summary", sf_dir)
    assert rec["error"] is None
    assert list(sc.statusTracker().getJobIdsForGroup("pricing_summary"))
    # the caller's job group is restored on exit
    assert sc.getLocalProperty("spark.jobGroup.id") == before


@pytest.mark.parametrize(
    "argv",
    [["--sf", "unused", "no_such_query"], ["--reps", "0", "pricing_summary"]],
)
def test_cli_rejects_bad_arguments_before_starting_spark(argv, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "unused")
    with pytest.raises(SystemExit) as e:
        main(argv)
    assert e.value.code == 2


def test_cli_needs_a_fixture_dir(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    with pytest.raises(SystemExit) as e:
        main(["pricing_summary"])
    assert e.value.code == 2
