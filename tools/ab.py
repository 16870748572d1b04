"""Paired A/B timing of registered queries: a git revision (the parent)
against the current checkout, uncommitted edits included (the change).

    python tools/ab.py [--sf DIR] REV q1 [q2 ...]

``REV`` is checked out into a temporary detached ``git worktree``, which
is removed again on every exit path. ``PAIRS`` pairs are run, alternating
which side goes first. Each side of a pair is one
``python -m etl_geotab_spark.run --sf DIR --reps 1 q...`` subprocess
started in that side's checkout, with no other checkout on its
``PYTHONPATH``: the driver imports the package from its working
directory, and so do the Python workers, which start in the JVM's.

For each query it prints both medians, the ratio change/parent, each
side's wins out of ``PAIRS`` (a tie counts for neither side), the
parent's IQR and a verdict. The verdict is ``faster`` or ``slower`` only
when one side wins at least ``WINS_NEEDED`` pairs and the medians differ
by more than the parent's IQR; otherwise it is ``flat``. A side that
exits non-zero or reports an error stops the tool with that side's
stderr tail; no failed run is counted as a time.

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, as the runner's does.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PAIRS = 10
WINS_NEEDED = 9


class SideFailed(RuntimeError):
    """One side's run exited non-zero or reported an error."""


def summarize(parent: list[float], change: list[float]) -> dict:
    """Paired statistics of one query; ``parent[i]`` and ``change[i]``
    were measured in pair ``i``. Quartiles are linear interpolation
    between order statistics (``method="inclusive"``)."""
    p_med, c_med = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4, method="inclusive")
    iqr = q3 - q1
    change_wins = sum(c < p for p, c in zip(parent, change))
    parent_wins = sum(p < c for p, c in zip(parent, change))
    verdict = "flat"
    if change_wins >= WINS_NEEDED and p_med - c_med > iqr:
        verdict = "faster"
    elif parent_wins >= WINS_NEEDED and c_med - p_med > iqr:
        verdict = "slower"
    return {
        "parent_median": p_med,
        "change_median": c_med,
        "ratio": c_med / p_med,
        "change_wins": change_wins,
        "parent_wins": parent_wins,
        "parent_iqr": iqr,
        "verdict": verdict,
    }


def read_side(
    side: str, proc: subprocess.CompletedProcess, names: list[str]
) -> dict[str, float]:
    """One wall time per query from a runner subprocess's output (its
    last stdout line is ``{name: {"best", "samples"[, "error"]}}``).
    Raises ``SideFailed`` with the stderr tail if the run failed."""

    def fail(why: str) -> SideFailed:
        tail = "\n".join((proc.stderr or "").splitlines()[-20:])
        return SideFailed(f"{side}: {why}\n{tail}")

    if proc.returncode != 0:
        raise fail(f"exited {proc.returncode}")
    lines = (proc.stdout or "").strip().splitlines()
    try:
        rec = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        raise fail("printed no result line") from None
    times = {}
    for n in names:
        r = rec.get(n) if isinstance(rec, dict) else None
        if not isinstance(r, dict):
            raise fail(f"{n}: no result")
        if "error" in r:
            raise fail(f"{n}: {r['error']}")
        samples = r.get("samples", [])
        if len(samples) != 1 or samples[0] < 0:
            raise fail(f"{n}: no valid sample in {samples}")
        times[n] = samples[0]
    return times


def run_side(checkout: str, other: str, sf: str, names: list[str]):
    """One ``--reps 1`` runner subprocess in ``checkout``, with nothing
    from ``other`` on its ``PYTHONPATH``."""
    other = os.path.realpath(other)
    keep = [
        p
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.commonpath([other, os.path.realpath(p)]) != other
    ]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([checkout, *keep])}
    if "SPARK_HOME" in env:
        from etl_geotab_spark.worker_boot import spark_distribution

        # a worker home inherited from another checkout: each side starts
        # from the distribution and builds its own, if its revision has one
        env["SPARK_HOME"] = spark_distribution(env["SPARK_HOME"])
    return subprocess.run(
        [sys.executable, "-m", "etl_geotab_spark.run",
         "--sf", sf, "--reps", "1", *names],
        cwd=checkout, env=env, capture_output=True, text=True,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python tools/ab.py",
        description="Paired A/B timing of registered queries: REV "
        "against the current checkout.",
    )
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                   help="fixture directory (default $SPARK_GRAFT_SF_DIR)")
    p.add_argument("rev", help="git revision of the parent side")
    p.add_argument("names", nargs="+", metavar="query")
    a = p.parse_args(argv)
    if not a.sf:
        p.error("--sf DIR is required when $SPARK_GRAFT_SF_DIR is unset")
    from etl_geotab_spark.queries import queries

    unknown = [n for n in a.names if n not in queries()]
    if unknown:
        p.error(f"unknown queries: {unknown}")
    sf = os.path.abspath(a.sf)

    tmp = tempfile.mkdtemp(prefix="ab_")
    parent_dir = os.path.join(tmp, "parent")
    sides = {"parent": parent_dir, "change": REPO}
    samples = {s: {n: [] for n in a.names} for s in sides}
    try:
        subprocess.run(
            ["git", "-C", REPO, "worktree", "add", "--detach", parent_dir, a.rev],
            check=True, capture_output=True, text=True,
        )
        for i in range(PAIRS):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                other = sides["change" if side == "parent" else "parent"]
                proc = run_side(sides[side], other, sf, a.names)
                for n, t in read_side(side, proc, a.names).items():
                    samples[side][n].append(t)
            print(
                f"pair {i + 1}/{PAIRS} ({order[0]} first), parent/change s: "
                + "  ".join(
                    f"{n} {samples['parent'][n][-1]:.3f}/{samples['change'][n][-1]:.3f}"
                    for n in a.names
                ),
                file=sys.stderr,
            )
    except subprocess.CalledProcessError as e:
        print(f"ab: {' '.join(e.cmd)} failed:\n{e.stderr}", file=sys.stderr)
        return 1
    except SideFailed as e:
        print(f"ab: {e}", file=sys.stderr)
        return 1
    finally:
        # pruning drops the registration of a worktree whose directory is gone
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", REPO, "worktree", "prune"], capture_output=True)

    for n in a.names:
        s = summarize(samples["parent"][n], samples["change"][n])
        print(
            f"{n}: parent {s['parent_median']:.3f} s  change "
            f"{s['change_median']:.3f} s  ratio {s['ratio']:.3f}  wins "
            f"change {s['change_wins']}/{PAIRS} parent {s['parent_wins']}/{PAIRS}  "
            f"parent IQR {s['parent_iqr']:.3f} s  {s['verdict']}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
