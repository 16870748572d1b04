"""Unit tests for bench.py's run aggregation (round-9 advice: the
shared_builds/timings best-over-runs must iterate the union of keys
and mark any key missing from a run as an error, not silently drop
seconds from `value` while counting them in runs_totals)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import best_over_runs  # noqa: E402


def test_best_over_runs_takes_min_per_key():
    assert best_over_runs([{"a": 2.0, "b": 5.0}, {"a": 1.5, "b": 6.0}]) == {
        "a": 1.5,
        "b": 5.0,
    }


def test_best_over_runs_error_in_any_run_sticks():
    assert best_over_runs([{"a": 2.0}, {"a": -1.0}]) == {"a": -1.0}


def test_best_over_runs_missing_key_is_an_error_not_a_drop():
    # key only in run 1 (the advice's mixed-version-resume case):
    # run-0 keying would have dropped "b" entirely from the best dict
    # while later runs' totals still counted it.
    out = best_over_runs([{"a": 2.0}, {"a": 2.1, "b": 4.0}])
    assert out == {"a": 2.0, "b": -1.0}
    # and symmetrically when run 0 has the extra key
    out = best_over_runs([{"a": 2.0, "b": 4.0}, {"a": 2.1}])
    assert out == {"a": 2.0, "b": -1.0}


def test_best_over_runs_single_run_passthrough():
    assert best_over_runs([{"a": 2.0, "b": -1.0}]) == {"a": 2.0, "b": -1.0}


def test_aggregate_runs_totals_cover_one_suite():
    """round-10 advice: a key marked -1 in `best` (missing from a run
    in a mixed-version resume, or errored in one run) must be excluded
    from runs_totals/median too — otherwise `value` and `runs` measure
    different query sets."""
    from bench import aggregate_runs

    run_timings = [{"a": 2.0}, {"a": 2.5, "b": 40.0}]  # b only in run 1
    run_builds = [{}, {}]
    best, builds, runs_totals, total, median, dropped = aggregate_runs(
        run_timings, run_builds
    )
    assert best == {"a": 2.0, "b": -1.0}
    assert dropped == ["b"]
    # run 1's total must NOT carry b's 40 s
    assert runs_totals == [2.0, 2.5]
    assert total == 2.0
    assert median == 2.25


def test_aggregate_runs_errored_key_excluded_everywhere():
    from bench import aggregate_runs

    run_timings = [{"a": 2.0, "b": -1.0}, {"a": 2.5, "b": 4.0}]
    best, builds, runs_totals, total, median, dropped = aggregate_runs(
        run_timings, [{}, {}]
    )
    assert best == {"a": 2.0, "b": -1.0}
    assert dropped == ["b"]
    assert runs_totals == [2.0, 2.5]
    assert total == 2.0


def test_aggregate_runs_clean_suite_unchanged():
    """No dropped keys -> identical numbers to the pre-refactor math
    (shared-build seconds included in every total)."""
    from bench import aggregate_runs

    run_timings = [{"a": 2.0, "b": 5.0}, {"a": 1.5, "b": 6.0}]
    run_builds = [{"x": 10.0}, {"x": 9.0}]
    best, builds, runs_totals, total, median, dropped = aggregate_runs(
        run_timings, run_builds
    )
    assert dropped == []
    assert best == {"a": 1.5, "b": 5.0}
    assert builds == {"x": 9.0}
    assert runs_totals == [17.0, 16.5]
    assert total == 15.5
    assert median == 16.75


def test_tainted_consumers_flags_retained_sharers_only():
    """round-10 advice: a dropped shared-build key's consumers keep
    their timings in the totals — they must be surfaced as possibly
    reflecting a degraded-build path; consumers that were themselves
    dropped are already out of every total and stay unflagged."""
    from bench import tainted_consumers

    best = {
        "dedup_clusters": 3.0,
        "dedup_keep_best": -1.0,  # itself dropped
        "ann_recall_eval": 2.0,
    }
    assert tainted_consumers(["dedup_labeled_table"], best) == [
        "dedup_clusters"
    ]
    # both builds dropped: union of retained consumers, sorted
    assert tainted_consumers(
        ["ann_eval_table", "dedup_labeled_table"], best
    ) == ["ann_recall_eval", "dedup_clusters"]
    # a dropped plain query (not a build) flags nothing
    assert tainted_consumers(["pricing_summary"], best) == []
    assert tainted_consumers([], best) == []


def test_shared_build_consumers_in_sync_with_registry():
    """Every consumer of a shared build is a registered query (the
    build list itself is the one table run_one iterates)."""
    import bench
    from etl_geotab_spark import queries as q

    registered = set(q.queries())
    for _, consumers in bench.SHARED_BUILDS.values():
        for qn in consumers:
            assert qn in registered, qn


def test_aggregate_runs_empty_is_loud():
    import pytest

    from bench import aggregate_runs

    with pytest.raises(ValueError, match="no runs"):
        aggregate_runs([], [])


def test_run_one_stops_session_when_warmup_fails(monkeypatch):
    from types import SimpleNamespace

    import pytest

    import bench

    stopped = []
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
        stop=lambda: stopped.append(True),
    )
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)

    def broken_warm(spark, sf_dir):
        raise RuntimeError("warm-up failed")

    monkeypatch.setattr(bench, "warm", broken_warm)
    with pytest.raises(RuntimeError, match="warm-up failed"):
        bench.run_one("unused")
    assert stopped == [True]
