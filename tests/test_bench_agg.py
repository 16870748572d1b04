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
    """The map's build keys must EQUAL run_one's (bname, bfn) tuple
    set — both directions, so adding a build to run_one without a
    consumers entry fails here instead of silently never flagging its
    consumers (review follow-up) — and every consumer must be a
    registered query."""
    import inspect
    import re

    import bench
    from etl_geotab_spark import queries as q

    src = inspect.getsource(bench.run_one)
    run_one_builds = set(re.findall(r'\("([a-z_]+)", _[a-z_]+\)', src))
    assert run_one_builds == set(bench.SHARED_BUILD_CONSUMERS), (
        run_one_builds,
        set(bench.SHARED_BUILD_CONSUMERS),
    )
    registered = set(q.queries())
    for consumers in bench.SHARED_BUILD_CONSUMERS.values():
        for qn in consumers:
            assert qn in registered, qn


def test_aggregate_runs_empty_is_loud():
    import pytest

    from bench import aggregate_runs

    with pytest.raises(ValueError, match="no runs"):
        aggregate_runs([], [])


def test_boxcal_shape_and_determinism_of_keys():
    """round-13: the box-speed scalar embedded in every bench record.
    Timings themselves are box-dependent (no value assertions beyond
    positivity); the contract is the shape — two fixed probes, finite
    positive floats, JSON-serializable — and that the CLI wrapper
    (tools/boxcal.py) exposes the same function."""
    import json

    from bench import boxcal

    cal = boxcal()
    assert set(cal) == {"py_sec", "np_sec", "bw_sec", "mp_sec"}
    for k in ("py_sec", "np_sec", "bw_sec"):
        assert isinstance(cal[k], float) and 0.0 < cal[k] < 120.0
    # the all-cores probe may report -1.0 when the pool cannot start
    assert cal["mp_sec"] == -1.0 or 0.0 < cal["mp_sec"] < 300.0
    json.dumps(cal)  # must be a plain JSON scalar dict


def test_boxcal_cli_prints_one_json_line():
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, str(repo / "tools" / "boxcal.py")],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-500:]
    line = out.stdout.strip().splitlines()[-1]
    cal = json.loads(line)
    assert set(cal) == {"py_sec", "np_sec", "bw_sec", "mp_sec"}


def test_boxcal_module_imports_without_pyspark():
    """r13 ADVICE: the ad-hoc box-speed CLI must not pay (or depend
    on) the multi-second pyspark/__spark_entry__ import — the probe
    definitions live in tools/boxcal.py and that module must be
    importable with pyspark absent from sys.modules afterwards."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; sys.path.insert(0, '.'); import tools.boxcal; "
            "assert 'pyspark' not in sys.modules, 'pyspark leaked'; "
            "assert 'bench' not in sys.modules, 'bench leaked'; "
            "print('clean')",
        ],
        cwd=str(repo),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-500:]
    assert out.stdout.strip() == "clean"


def test_sustain_probe_shape():
    """r13 verdict item 3: the sustained all-cores probe rides in the
    bench record, so its shape is a contract — four keys, finite
    floats, ratio consistent with first5/last5 (or the -1.0 failure
    sentinel quartet). Short wave count to keep the test cheap; the
    semantics (warm wave discarded, per-wave timing) don't depend on
    the count."""
    import json

    from tools.boxcal import sustain_probe

    # waves < 2 -> the failure quartet, never a crash
    assert all(v == -1.0 for v in sustain_probe(waves=1).values())

    s = sustain_probe(waves=6)
    assert set(s) == {
        "sustain_first5_per_wave",
        "sustain_last5_per_wave",
        "sustain_ratio",
        "sustain_waves",
    }
    json.dumps(s)
    if s["sustain_waves"] == -1.0:  # pool failure path
        assert all(v == -1.0 for v in s.values())
    else:
        assert s["sustain_waves"] == 6.0
        assert 0.0 < s["sustain_first5_per_wave"] < 300.0
        assert 0.0 < s["sustain_last5_per_wave"] < 300.0
        expected = s["sustain_last5_per_wave"] / s["sustain_first5_per_wave"]
        assert abs(s["sustain_ratio"] - expected) < 0.02


def _fake_pool():
    class FakePool:
        terminated = joined = False

        def terminate(self):
            self.terminated = True

        def join(self):
            self.joined = True

    return FakePool()


def test_run_one_terminates_probe_pool_when_session_fails(monkeypatch):
    import pytest

    import bench

    pool = _fake_pool()
    monkeypatch.setattr(bench, "_probe_pool", lambda: pool)

    def no_session(*a, **k):
        raise RuntimeError("no session")

    monkeypatch.setattr(bench, "get_spark", no_session)
    with pytest.raises(RuntimeError, match="no session"):
        bench.run_one("unused")
    assert pool.terminated and pool.joined


def test_run_one_stops_session_when_warmup_fails(monkeypatch):
    from types import SimpleNamespace

    import pytest

    import bench

    pool = _fake_pool()
    stopped = []
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
        stop=lambda: stopped.append(True),
    )
    monkeypatch.setattr(bench, "_probe_pool", lambda: pool)
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)

    def broken_warm(spark, sf_dir):
        raise RuntimeError("warm-up failed")

    monkeypatch.setattr(bench, "warm", broken_warm)
    with pytest.raises(RuntimeError, match="warm-up failed"):
        bench.run_one("unused")
    assert stopped == [True]
    assert pool.terminated and pool.joined
