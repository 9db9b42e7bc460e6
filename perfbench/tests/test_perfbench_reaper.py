"""The benchmark waits for every process it starts, orphans included.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# a shell that exits at once leaves a 'sleep' orphan behind; as a subreaper
# this process inherits it, and reap() returns only after it has exited
SCRIPT = r"""
import subprocess, time
from perfbench import reaper
assert reaper.become_subreaper()
subprocess.run(["sh", "-c", "sleep 0.5 &"], check=True)
orphans = reaper.children()
t0 = time.monotonic()
reaper.reap(grace_s={grace})
print(len(orphans), time.monotonic() - t0, len(reaper.children()))
"""


def _run(grace: float) -> tuple[int, float, int]:
    out = subprocess.run([sys.executable, "-c", SCRIPT.format(grace=grace)],
                         cwd=ROOT, check=True, capture_output=True, text=True)
    n, waited, left = out.stdout.split()
    return int(n), float(waited), int(left)


def test_reap_waits_for_reparented_orphan():
    n, waited, left = _run(grace=30.0)
    assert n == 1
    assert 0.2 < waited < 5.0
    assert left == 0


def test_reap_kills_a_child_that_outlives_the_grace():
    n, waited, left = _run(grace=0.0)
    assert n == 1
    assert waited < 0.4   # SIGTERM ended the sleep well before its 0.5 s
    assert left == 0
