"""Make every process the benchmark starts end before the benchmark does.

Some helpers outlive their parent for a moment: the multiprocessing
resource tracker that the token-table generator's spawn pool starts exits
only when the benchmark's end of its pipe closes, and the Spark JVM's
Python daemon and workers exit after the JVM. ``become_subreaper`` makes
this process a child subreaper (Linux ``prctl``), so such orphans are
re-parented to it rather than to init, and ``reap`` waits for every one of
them: a run's process tree is empty when it exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def children() -> list[int]:
    """Pids whose parent is this process, exited-but-unreaped ones too."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and ')': the fields after the
        # last ')' are state, ppid, ...
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            out.append(int(name))
    return out


def _stop_resource_tracker() -> None:
    """Close this process's end of the resource tracker's pipe, so that it
    exits now, and wait for it."""
    rt = sys.modules.get("multiprocessing.resource_tracker")
    stop = getattr(getattr(rt, "_resource_tracker", None), "_stop", None)
    if stop is not None:
        stop()


def _reap_exited() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def reap(grace_s: float = 30.0) -> None:
    """Wait for every child (and re-parented orphan) to exit. One still
    running after ``grace_s`` gets SIGTERM, then SIGKILL 5 s later."""
    _stop_resource_tracker()
    deadline = time.monotonic() + grace_s
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        _reap_exited()
        left = children()
        if not left:
            return
        if time.monotonic() < deadline:
            time.sleep(0.02)
            continue
        if not signals:
            print(f"perfbench: processes {left} survived SIGKILL",
                  file=sys.stderr)
            return
        sig = signals.pop(0)
        print(f"perfbench: sending {sig.name} to {left}", file=sys.stderr)
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5.0
