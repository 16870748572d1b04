"""tools/roundcheck.py — the round-close checklist runner. The heavy
gates are the existing tools (each already tested end-to-end
elsewhere); what's under test here is the choreography contract:
gate registry shape, subset selection, unknown-gate rejection, and
that a real cheap gate runs through the subprocess path."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from tools.roundcheck import FAST, GATES, main  # noqa: E402


def test_gate_registry_shape():
    # full-oracle is the only non-fast gate, and execution order puts
    # the cheap lint before the Spark suites
    assert set(FAST) == set(GATES) - {"full-oracle"}
    names = list(GATES)
    assert names.index("lint") < names.index("audit")
    assert names.index("lint") < names.index("pytest")
    for argv, desc, timeout_s in GATES.values():
        assert argv[0] == sys.executable and desc
        assert timeout_s >= 300  # generous: ~3x documented wall cost


def test_unknown_gate_rejected(capsys):
    assert main(["--only", "lint,nope"]) == 2
    assert "unknown gate" in capsys.readouterr().err


def test_list_mode(capsys):
    assert main(["--list"]) == 0
    out = capsys.readouterr().out
    for name in GATES:
        assert name in out


def test_cheap_gate_runs_end_to_end():
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "roundcheck.py"),
         "--only", "lint"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "all 1 gate(s) green" in out.stdout


def test_gate_timeout_reported_not_hung(monkeypatch):
    """A wedged gate must surface as a TIMEOUT verdict line, not
    block the checklist forever (r14 advice)."""
    import tools.roundcheck as rc

    monkeypatch.setitem(
        rc.GATES,
        "lint",
        ([sys.executable, "-c", "import time; print('x'); time.sleep(30)"],
         "wedged stand-in", 2),
    )
    ok, dt, verdict, diag = rc.run_gate("lint")
    assert not ok
    assert dt < 10
    assert "TIMEOUT after 2s" in verdict


def test_gate_timeout_kills_the_whole_process_tree(monkeypatch, tmp_path):
    """The wedged process the timeout targets is a Spark JVM
    GRANDCHILD; killing only the python wrapper would leave it
    holding the box while the next gate's suite starts. The stand-in
    gate spawns a detached child that records its pid; after the
    TIMEOUT verdict that child must be dead too (killpg via
    start_new_session)."""
    import signal as _signal
    import time as _time

    import tools.roundcheck as rc

    pid_file = tmp_path / "grandchild.pid"
    child_src = (
        "import os, subprocess, sys, time\n"
        "p = subprocess.Popen([sys.executable, '-c', "
        "'import time; time.sleep(300)'])\n"
        f"open({str(pid_file)!r}, 'w').write(str(p.pid))\n"
        "print('spawned', flush=True)\n"
        "time.sleep(300)\n"
    )
    monkeypatch.setitem(
        rc.GATES,
        "lint",
        ([sys.executable, "-c", child_src], "grandchild stand-in", 3),
    )
    ok, dt, verdict, diag = rc.run_gate("lint")
    assert not ok and "TIMEOUT" in verdict
    gpid = int(pid_file.read_text())

    def _dead(pid: int) -> bool:
        # gone entirely, or a zombie awaiting reaping by init — either
        # way it no longer holds CPU (a killed-but-unreaped child is
        # dead for the purpose the killpg serves)
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().split(") ", 1)[1].split()[0] == "Z"
        except (FileNotFoundError, ProcessLookupError):
            return True

    # allow a beat for the kernel to deliver the group SIGKILL
    for _ in range(20):
        if _dead(gpid):
            break
        _time.sleep(0.1)
    else:
        os.kill(gpid, _signal.SIGKILL)  # cleanup before failing
        raise AssertionError(f"grandchild {gpid} survived the gate timeout")
