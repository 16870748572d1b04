"""Round-over-round bench adjudication report — the comparison the
verdict assembles by hand each round (SCALE.md §24-25), as a tool.

Compares the worktree's BENCH_FULL.json against a baseline record (a
git rev holding one, or a JSON file path) and prints the evidence the
slow-box protocol needs, in protocol order:

1. suite totals + ratio (best-of-pair vs best-of-pair, the only
   comparable pair of numbers — run medians ride along as context);
2. box evidence: the boxcal blocks side by side, including the
   sustain fields when present (in-record since r14), with the np/mp
   comparability warning when one side predates the r14 probe fixes
   (SCALE.md §25: pre-r14 np/mp values embed one-time BLAS/fork
   setup cost by construction);
3. per-query outliers: queries whose current BEST time exceeds
   threshold× their baseline best, split into CONSISTENT (elevated in
   every current run — the r13 `zonemap_pruning_eval` shape, worth
   adjudicating) and ONE-RUN (a single-run blip best-of-pair already
   absorbed — noise by construction); symmetric list for queries that
   got faster, because a box-speed story must explain both tails;
4. registry drift: keys present on one side only, and keys dropped
   (-1) in either record.

Exit code: 0 when no CONSISTENT regression crosses the threshold,
1 otherwise — so a round script can gate on it. The report never
claims code-vs-box by itself; it collates the measurements the
window guard (code side) and boxcal (box side) let you adjudicate
with.

Usage:
    python tools/bench_diff.py                      # vs last round-close
    python tools/bench_diff.py 98c41d7              # vs rev's record
    python tools/bench_diff.py /path/BENCH_FULL.json
    python tools/bench_diff.py 98c41d7 --threshold 1.5

With no baseline argument, the driver's last round-close commit
(subject ``round N: …`` — the commit that carries the round's
BENCH_FULL.json) is used, which makes the bare invocation exactly the
round-over-round adjudication roundcheck's bench-diff gate runs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# boxcal keys that only exist since the r14 probe fixes. A record is
# r14+ if it has sustain values OR the explicit sustain_skipped stamp
# (bench.py writes one or the other since r14); only a record with
# NEITHER predates the probe fixes and has non-comparable np/mp.
_SUSTAIN_KEYS = ("sustain_first5", "sustain_last5", "sustain_ratio")


def _is_r14_plus(b: dict) -> bool:
    return (
        b.get("sustain_skipped") is True
        or b.get("sustain_failed") is True
        or any(k in b for k in _SUSTAIN_KEYS)
    )
_PROBE_ORDER = ("py", "np", "bw", "mp")


def default_baseline() -> str:
    """The last round-close commit: the newest commit whose
    subject starts with ``round N:``."""
    r = subprocess.run(
        [
            "git", "-C", REPO, "log", "-1", "--format=%H",
            "--extended-regexp", "--grep", r"^round [0-9]+:",
        ],
        capture_output=True,
        text=True,
    )
    out = r.stdout.strip()
    if r.returncode != 0 or not out:
        raise SystemExit(
            "bench_diff: no baseline given and no driver round-close "
            "commit (subject 'round N: …') found"
        )
    return out


def load_baseline(ref: str) -> tuple[dict, str]:
    """A file path wins if it exists; otherwise treat ``ref`` as a git
    rev and read BENCH_FULL.json out of it."""
    if os.path.exists(ref):
        with open(ref) as f:
            return json.load(f), f"file {ref}"
    r = subprocess.run(
        ["git", "-C", REPO, "show", f"{ref}:BENCH_FULL.json"],
        capture_output=True,
        text=True,
    )
    if r.returncode != 0:
        raise SystemExit(
            f"bench_diff: {ref!r} is neither a readable file nor a git "
            f"rev with BENCH_FULL.json ({r.stderr.strip()})"
        )
    return json.loads(r.stdout), f"rev {ref}"


def classify_outliers(
    cur: dict, base: dict, threshold: float
) -> tuple[list, list, list]:
    """(consistent_regressions, one_run_regressions, improvements);
    each entry is (name, base_best, cur_best, ratio, per_run). Ratios
    compare BESTS; consistency asks whether EVERY current run — and
    at least two of them — sits above threshold× the baseline best;
    the one-run shape is already absorbed by best-of-pair and is
    noise by construction, and a single valid measurement (budget-
    gated invocation, or dropped in the other run) can never support
    a consistency claim."""
    cur_q, base_q = cur["queries"], base["queries"]
    per_run = cur.get("per_run_queries", [])
    consistent, one_run, improved = [], [], []
    for name in sorted(set(cur_q) & set(base_q)):
        cb, bb = cur_q[name], base_q[name]
        if cb is None or bb is None or cb < 0 or bb <= 0:
            continue
        ratio = cb / bb
        runs = [
            r[name]
            for r in per_run
            if isinstance(r.get(name), (int, float)) and r[name] >= 0
        ]
        if ratio > threshold:
            rec = (name, bb, cb, ratio, runs)
            # a CONSISTENT claim needs at least two independent runs
            # over threshold (the r13-verdict evidence shape); a
            # budget-gated single-run invocation, or a query dropped
            # in the other run, can only ever support a blip claim
            if len(runs) >= 2 and all(v > threshold * bb for v in runs):
                consistent.append(rec)
            else:
                one_run.append(rec)
        elif ratio < 1.0 / threshold:
            improved.append((name, bb, cb, ratio, runs))
    key = lambda e: -e[3]  # noqa: E731
    return (
        sorted(consistent, key=key),
        sorted(one_run, key=key),
        sorted(improved, key=lambda e: e[3]),
    )


def fmt_boxcal(cur_b: dict, base_b: dict) -> list[str]:
    lines = []
    for probe in _PROBE_ORDER:
        row = f"  {probe:>3}:"
        for side, b in (("base", base_b), ("cur", cur_b)):
            pre, post = b.get(f"{probe}_pre"), b.get(f"{probe}_post")
            row += (
                f"  {side} {pre}/{post}"
                if pre is not None
                else f"  {side} -"
            )
        lines.append(row)
    for side, b in (("base", base_b), ("cur", cur_b)):
        if b.get("sustain_failed") or (
            any(k in b for k in _SUSTAIN_KEYS)
            and any(b.get(k, 0) == -1.0 for k in _SUSTAIN_KEYS)
        ):
            # explicit failure stamp (r15+), or a legacy record that
            # captured boxcal's -1.0 sentinel quartet as numbers
            lines.append(
                f"  sustain ({side}): probe FAILED — values not "
                "measured (np/mp still comparable)"
            )
        elif any(k in b for k in _SUSTAIN_KEYS):
            lines.append(
                f"  sustain ({side}): first5 {b.get('sustain_first5')}"
                f" last5 {b.get('sustain_last5')}"
                f" ratio {b.get('sustain_ratio')}"
            )
        elif b.get("sustain_skipped"):
            lines.append(
                f"  sustain ({side}): skipped via env "
                "(np/mp still comparable)"
            )
        else:
            lines.append(f"  sustain ({side}): not recorded (pre-r14)")
    pre_r14 = [
        s
        for s, b in (("base", base_b), ("cur", cur_b))
        if not _is_r14_plus(b)
    ]
    if pre_r14:
        lines.append(
            f"  NOTE: {'/'.join(pre_r14)} record predates the r14 "
            "probe fixes — its np/mp values embed one-time BLAS/fork "
            "setup cost (SCALE.md §25); compare py/bw only."
        )
    return lines


def main(
    argv: list[str] | None = None, rc_out: list[int] | None = None
) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "baseline",
        nargs="?",
        default=None,
        help="git rev or BENCH_FULL.json path (default: the driver's "
        "last round-close commit)",
    )
    ap.add_argument(
        "--current",
        default=os.path.join(REPO, "BENCH_FULL.json"),
        help="current record (default: worktree BENCH_FULL.json)",
    )
    ap.add_argument("--threshold", type=float, default=2.0)
    args = ap.parse_args(argv)

    with open(args.current) as f:
        cur = json.load(f)
    base, base_desc = load_baseline(args.baseline or default_baseline())

    # Gate verdict FIRST, before any print can raise BrokenPipeError
    # under `report | head` — only the printing is forgiven on a
    # closed pipe, never the verdict (r14 advice).
    consistent, one_run, improved = classify_outliers(
        cur, base, args.threshold
    )
    gate_rc = 1 if consistent else 0
    if rc_out is not None:
        rc_out.append(gate_rc)

    print(f"baseline: {base_desc}")
    print(f"current:  {args.current}")
    ratio = cur["value"] / base["value"] if base.get("value") else -1.0
    print(
        f"\nsuite: base {base.get('value')} s {base.get('runs')} | "
        f"cur {cur.get('value')} s {cur.get('runs')} | "
        f"best-of-pair ratio {ratio:.3f}"
    )

    print("\nbox (boxcal pre/post):")
    for line in fmt_boxcal(cur.get("boxcal", {}), base.get("boxcal", {})):
        print(line)

    t = args.threshold
    print(f"\nconsistent regressions (> {t}x in EVERY current run):")
    for name, bb, cb, r, runs in consistent or []:
        print(f"  {name}: {bb} -> {cb} s (x{r:.2f}; runs {runs})")
    if not consistent:
        print("  none")
    print(f"one-run blips (> {t}x best, not in every run):")
    for name, bb, cb, r, runs in one_run or []:
        print(f"  {name}: {bb} -> {cb} s (x{r:.2f}; runs {runs})")
    if not one_run:
        print("  none")
    print(f"improvements (< 1/{t}x):")
    for name, bb, cb, r, runs in improved or []:
        print(f"  {name}: {bb} -> {cb} s (x{r:.2f})")
    if not improved:
        print("  none")

    only_base = sorted(set(base["queries"]) - set(cur["queries"]))
    only_cur = sorted(set(cur["queries"]) - set(base["queries"]))
    dropped = sorted(
        set(base.get("dropped", [])) | set(cur.get("dropped", []))
    )
    if only_base or only_cur or dropped:
        print("\nregistry drift:")
        if only_base:
            print(f"  only in baseline: {only_base}")
        if only_cur:
            print(f"  only in current:  {only_cur}")
        if dropped:
            print(f"  dropped keys (either side): {dropped}")

    if cur == base:
        # last line on purpose: roundcheck surfaces a gate's final
        # stdout line as its verdict, so a vacuous pass is visible in
        # the close record instead of reading as a real adjudication
        print(
            "\nNOTE: baseline and current records are IDENTICAL — "
            "adjudication is vacuous (the round-close commit already "
            "carries this BENCH_FULL.json); run this round's bench "
            "before this gate."
        )

    return gate_rc


if __name__ == "__main__":
    _verdict: list[int] = []
    try:
        rc = main(rc_out=_verdict)
    except BrokenPipeError:  # piped into head — printing forgiven,
        # but the gate verdict (computed before any print) survives;
        # fail closed if the pipe broke before the verdict existed.
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        rc = _verdict[0] if _verdict else 1
    raise SystemExit(rc)
