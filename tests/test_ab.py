"""tools/ab.py, the paired A/B tool: its statistics on hand-computed
samples, a failed side aborting the comparison instead of being
counted, and argument checks that run before any git or Spark call."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools import ab  # noqa: E402

# median 1.45; inclusive quartiles 1.225 and 1.675, so the IQR is 0.45
PARENT = [1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9]


def test_summarize_iqr_and_medians():
    s = ab.summarize(PARENT, [p + 0.5 for p in PARENT])
    assert s["parent_median"] == pytest.approx(1.45)
    assert s["change_median"] == pytest.approx(1.95)
    assert s["parent_iqr"] == pytest.approx(0.45)
    assert s["ratio"] == pytest.approx(1.95 / 1.45)


@pytest.mark.parametrize(
    "change, wins, verdict",
    [
        # every pair 0.5 s faster: 10/10 wins, gap 0.5 > IQR 0.45
        ([p - 0.5 for p in PARENT], (10, 0), "faster"),
        ([p + 0.5 for p in PARENT], (0, 10), "slower"),
        # gap 0.4 inside the IQR, although every pair wins
        ([p - 0.4 for p in PARENT], (10, 0), "flat"),
        # 8 of 10 wins: flat however large the gap
        ([p - 1.0 for p in PARENT[:8]] + [p + 0.1 for p in PARENT[8:]],
         (8, 2), "flat"),
        # one tie counts for neither side: 9 wins still suffice (median
        # 0.95, gap 0.5)
        ([PARENT[0]] + [p - 0.6 for p in PARENT[1:]], (9, 0), "faster"),
        # two ties: 8 wins, 0 losses, flat
        (PARENT[:2] + [p - 0.6 for p in PARENT[2:]], (8, 0), "flat"),
    ],
)
def test_summarize_wins_and_verdict(change, wins, verdict):
    s = ab.summarize(PARENT, change)
    assert (s["change_wins"], s["parent_wins"]) == wins
    assert s["verdict"] == verdict


def _proc(rc: int, stdout: str, stderr: str = "boom tail"):
    return subprocess.CompletedProcess([], rc, stdout, stderr)


def test_read_side_takes_the_one_sample():
    line = '{"q": {"best": 1.25, "samples": [1.25]}}'
    out = f"{line}\n{line}\n"
    assert ab.read_side("change", _proc(0, out), ["q"]) == {"q": 1.25}


@pytest.mark.parametrize(
    "proc",
    [
        # the runner's own failure shape: exit 1, best -1.0, an error
        _proc(1, '{"q": {"best": -1.0, "samples": [], "error": "ValueError: x"}}'),
        _proc(0, '{"q": {"best": 1.0, "samples": [1.0], "error": "ValueError: x"}}'),
        _proc(0, '{"q": {"best": -1.0, "samples": [-1.0]}}'),
        _proc(0, '{"other": {"best": 1.0, "samples": [1.0]}}'),
        _proc(0, ""),
    ],
)
def test_read_side_failure_aborts(proc):
    with pytest.raises(ab.SideFailed, match="boom tail"):
        ab.read_side("parent", proc, ["q"])


def test_failed_side_stops_the_run_and_removes_the_worktree(monkeypatch, capsys):
    git = []
    monkeypatch.setattr(
        ab.subprocess, "run", lambda argv, **k: git.append(argv) or _proc(0, "")
    )
    outputs = iter(
        [
            _proc(0, '{"heavy_hitters": {"best": 1.0, "samples": [1.0]}}'),
            _proc(0, '{"heavy_hitters": {"best": -1.0, "samples": [-1.0]}}'),
        ]
    )
    monkeypatch.setattr(ab, "run_side", lambda *a: next(outputs))
    assert ab.main(["--sf", "unused", "HEAD", "heavy_hitters"]) == 1
    out, err = capsys.readouterr()
    assert "change: heavy_hitters" in err and "boom tail" in err
    assert out == ""  # nothing summarized from a failed comparison
    assert git[-1][3:] == ["worktree", "prune"]
    assert not Path(git[0][6]).parent.exists()  # the temporary directory is gone


def _no_external_calls(monkeypatch):
    def forbidden(*a, **k):
        raise AssertionError("git or Spark called before argument checks")

    monkeypatch.setattr(ab.subprocess, "run", forbidden)
    monkeypatch.setattr(ab, "run_side", forbidden)


def test_unknown_query_rejected_before_git_or_spark(monkeypatch):
    _no_external_calls(monkeypatch)
    with pytest.raises(SystemExit) as e:
        ab.main(["--sf", "unused", "HEAD", "no_such_query"])
    assert e.value.code == 2


def test_missing_sf_rejected_before_git_or_spark(monkeypatch):
    _no_external_calls(monkeypatch)
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    with pytest.raises(SystemExit) as e:
        ab.main(["HEAD", "pricing_summary"])
    assert e.value.code == 2


def test_side_starts_from_the_distribution_not_an_inherited_worker_home(
    monkeypatch, tmp_path
):
    """A worker home in the tool's environment belongs to one checkout;
    each side gets the distribution behind it and builds its own."""
    dist = tmp_path / "spark"
    (dist / "bin").mkdir(parents=True)
    home = tmp_path / "checkout" / ".worker_home" / "spark-0"
    home.mkdir(parents=True)
    (home / "bin").symlink_to(dist / "bin")
    seen = []
    monkeypatch.setattr(ab.subprocess, "run", lambda argv, **k: seen.append(k["env"]))
    monkeypatch.setenv("SPARK_HOME", str(home))
    ab.run_side(str(tmp_path / "a"), str(tmp_path / "b"), "sf", ["q"])
    monkeypatch.setenv("SPARK_HOME", str(dist))
    ab.run_side(str(tmp_path / "a"), str(tmp_path / "b"), "sf", ["q"])
    assert [e["SPARK_HOME"] for e in seen] == [str(dist), str(dist)]
