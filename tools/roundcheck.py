"""The round-close checklist as one runner — every renewal gate the
per-round process demands (VERDICT "Next round" sections, SCALE.md
§21-25), executed in dependency order with a one-line verdict per
gate, so a round cannot close with a renewal silently forgotten.

Gates, in order (each is an existing tool — this runner adds no new
checking logic, only the choreography):

  lint           tools/scale_lint.py — harness-contract lint.
  audit          tools/explain_audit.py — plan invariants (pushdown,
                 pruned ReadSchema, broadcast, no nested loops).
  pytest         python -m pytest tests/ — the full unit/semantics
                 suite, including every paired query against its
                 DuckDB oracle at sf0.001 (tests/test_oracle.py).
  full-oracle    [--full only] check_oracle over ALL paired queries
                 at sf0.01 — the §22 "renew anyway" whole-registry
                 record.

Every gate carries a generous per-gate timeout (~3x documented wall
cost); a wedged gate is killed and reported as TIMEOUT with its
captured output tail rather than hanging the checklist.

Usage:
    python tools/roundcheck.py                 # fast gates
    python tools/roundcheck.py --full          # + whole-registry oracle
    python tools/roundcheck.py --only lint,audit
    python tools/roundcheck.py --list          # print gate registry

Exit 0 iff every selected gate passed. Wall cost on 4 cores: fast set
≈ 12-22 min (pytest 7-18 min with host load, audit ≈ 4 min); --full
adds ≈ 12 min. Runs gates SEQUENTIALLY on purpose — two Spark suites
sharing the box corrupt each other's timings and the pytest suite
assumes a quiet box for its own probes.
"""

from __future__ import annotations

import argparse
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> (argv, description, timeout_s). Order is execution order:
# cheap gates first so a broken round fails in seconds, the sf0.01
# whole-registry oracle last.
# Timeouts are ~3x each gate's documented wall cost (module
# docstring) — generous enough that a slow box never trips them, but
# a wedged JVM surfaces as a TIMEOUT verdict with its captured tail
# instead of hanging the checklist forever (r14 advice).
GATES: dict[str, tuple[list[str], str, int]] = {
    "lint": (
        [sys.executable, "tools/scale_lint.py"],
        "harness-contract lint",
        600,
    ),
    "audit": (
        [sys.executable, "tools/explain_audit.py"],
        "plan invariants",
        2400,
    ),
    "pytest": (
        [sys.executable, "-m", "pytest", "tests/", "-q"],
        "full unit/semantics suite",
        3600,
    ),
    "full-oracle": (
        [sys.executable, "tools/check_oracle.py", "/root/testdata/sf0.01"],
        "whole-registry oracle (§22 renewal)",
        3600,
    ),
}
FAST = [g for g in GATES if g != "full-oracle"]


def run_gate(name: str) -> tuple[bool, float, str, str]:
    """(ok, seconds, verdict_line, failure_diag). The verdict line is
    the last STDOUT line (where every gate prints its "all green"/
    "clean" summary); stderr only as a fallback — Spark's WARN
    chatter lands there and would mask the verdict. On failure the
    tail of the COMBINED output rides along so a multi-minute gate's
    traceback is never thrown away (the crash usually lands on
    stderr after progress lines on stdout). A gate that exceeds its
    registered timeout is killed — the whole PROCESS GROUP, because
    the wedged process this feature targets is a Spark JVM
    grandchild, and killing only the python wrapper would leave it
    holding the box while the next gate's Spark suite starts (the
    exact two-suites interference sequential execution exists to
    prevent) — and reported as a TIMEOUT verdict with whatever
    output it produced. Output is captured as bytes and decoded with
    errors='replace': a timeout truncates at an arbitrary byte, and
    a strict decode dying mid-multibyte-char would crash the very
    path meant to report the timeout."""
    argv, _, timeout_s = GATES[name]
    t0 = time.time()
    p = subprocess.Popen(
        argv, cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        start_new_session=True,
    )
    timed_out = False
    try:
        out_b, err_b = p.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        timed_out = True
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            p.kill()
        out_b, err_b = p.communicate()
    dt = time.time() - t0
    out = (out_b or b"").decode(errors="replace")
    err = (err_b or b"").decode(errors="replace")
    if timed_out:
        combined = (out + "\n--- stderr ---\n" + err).strip()
        diag = "\n".join(combined.splitlines()[-20:])
        return False, dt, f"TIMEOUT after {timeout_s}s", diag
    rc = p.returncode
    tail = out.strip().splitlines() or err.strip().splitlines()
    verdict = tail[-1] if tail else ""
    diag = ""
    if rc != 0:
        combined = (out + "\n--- stderr ---\n" + err).strip()
        diag = "\n".join(combined.splitlines()[-20:])
    return rc == 0, dt, verdict, diag


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--full", action="store_true", help="include full-oracle")
    ap.add_argument("--only", help="comma-separated gate subset")
    ap.add_argument("--list", action="store_true", help="print gates and exit")
    args = ap.parse_args(argv)

    if args.list:
        for name, (_, desc, timeout_s) in GATES.items():
            print(f"{name:14} {desc}  [timeout {timeout_s}s]")
        return 0

    if args.only:
        selected = [g.strip() for g in args.only.split(",") if g.strip()]
        unknown = [g for g in selected if g not in GATES]
        if unknown:
            print(f"roundcheck: unknown gate(s) {unknown}; "
                  f"known: {list(GATES)}", file=sys.stderr)
            return 2
    else:
        selected = list(GATES) if args.full else FAST

    failed = []
    for name in selected:
        ok, dt, last, diag = run_gate(name)
        mark = "PASS" if ok else "FAIL"
        print(f"{mark}  {name:14} {dt:7.1f}s  {last}")
        if diag:
            print(f"---- {name} failure tail " + "-" * 30)
            print(diag)
            print("-" * 54)
        sys.stdout.flush()
        if not ok:
            failed.append(name)
    if failed:
        print(f"\nroundcheck: {len(failed)} gate(s) FAILED: {failed}")
        return 1
    print(f"\nroundcheck: all {len(selected)} gate(s) green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
