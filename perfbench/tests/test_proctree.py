"""The /proc sampler on a toy parent -> child -> grandchild tree."""

import os
import resource
import subprocess
import sys
import time

import proctree

# The child starts a grandchild that burns CPU and then sleeps, and
# prints the grandchild's pid. Nobody waits for the grandchild while the
# test samples, so RUSAGE_CHILDREN cannot see its CPU.
_CHILD = r"""
import subprocess, sys, time
g = subprocess.Popen([sys.executable, "-c",
    "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\n"
    "print('burnt', flush=True)\ntime.sleep(30)"], stdout=subprocess.PIPE, text=True)
print(g.pid, flush=True)
g.stdout.readline()
print("ready", flush=True)
time.sleep(30)
"""


def test_tree_sees_grandchild_cpu_that_rusage_misses():
    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    child = subprocess.Popen([sys.executable, "-c", _CHILD], stdout=subprocess.PIPE, text=True)
    grandchild = None
    try:
        grandchild = int(child.stdout.readline())
        assert child.stdout.readline().strip() == "ready"
        snap = proctree.snapshot()
        assert {os.getpid(), child.pid, grandchild} <= set(snap)
        assert snap[grandchild].ppid == child.pid
        sub = {p: s for p, s in snap.items() if p in (child.pid, grandchild)}
        assert proctree.cpu_s(sub) >= 0.5
        after = resource.getrusage(resource.RUSAGE_CHILDREN)
        assert (after.ru_utime + after.ru_stime) - (before.ru_utime + before.ru_stime) < 0.1
        assert proctree.pss_mb(sub) > 1.0
    finally:
        child.kill()
        child.wait(timeout=10)
        if grandchild is not None:
            os.kill(grandchild, 9)


def test_cpu_of_reaped_child_stays_in_parent():
    c0 = proctree.cpu_s(proctree.snapshot())
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass"],
        check=True,
    )
    assert proctree.cpu_s(proctree.snapshot()) - c0 >= 0.35


def test_peak_rss_samples_until_closed(monkeypatch):
    monkeypatch.setattr(proctree, "SAMPLE_INTERVAL_S", 0.01)
    with proctree.PeakRss() as peak:
        time.sleep(0.05)
    assert peak.peak_mb > 1.0
