"""What every workload shares: the timed iteration loop, failure counting,
and the host context recorded beside each run."""

from __future__ import annotations

import os
import sys
import time
import traceback
from typing import Callable

import numpy as np

from .stats import median

PASSES = ("encode", "decode", "pq_write", "pq_read")


class Checks:
    """Operations attempted and failed; a failure is a mismatch or an
    exception. Every failure is logged to stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: mismatch: {what}", file=sys.stderr)

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: {what} raised:\n{traceback.format_exc()}",
              file=sys.stderr)


def host_context() -> dict:
    """nproc, load average, a warm memory-bandwidth probe (best of three
    64 MiB fills of an already-touched buffer) and a single-thread CPU probe
    (median of five runs of a fixed pure-Python loop), taken for this run,
    so that runs on a slower or busier host can be told apart."""
    buf = np.ones(1 << 23)        # 64 MiB of float64, touched once here
    best = min(_timed(lambda v=float(k): buf.fill(v)) for k in range(3))
    del buf
    cpu = median([_timed(lambda: sum(i * i for i in range(300_000)))
                  for _ in range(5)])
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "warm_membw_gbps": round((1 << 26) / best / 1e9, 2),
            "cpu_probe_ms": round(cpu * 1e3, 2)}


def _timed(fn: Callable) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Reference:
    """The pyarrow side of one pass. A pass hands each of its reference
    steps to ``step`` between its own steps, so that both sides see the
    host at the same speed; the steps are timed apart from the pass."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.wall = 0.0

    def step(self, fn: Callable) -> None:
        if self.enabled:
            t0 = time.perf_counter()
            fn()
            self.wall += time.perf_counter() - t0


def run_iterations(passes: dict[str, Callable], seconds: float, tracer,
                   traced_run: bool, checks: Checks,
                   pass_attrs: dict | None = None) -> dict:
    """Run one untimed warm-up iteration, then timed iterations until
    ``seconds`` of passes have been measured and at least three ran.

    Each iteration runs every pass in ``PASSES`` order. A pass function
    takes a ``Reference`` and returns a callable that checks its output,
    run outside the timing. In the timed iterations of an untraced run a
    pass interleaves pyarrow doing the same kind of work through the
    reference; its time is recorded as ``ref.<pass>`` and left out of the
    pass's wall. A traced run has no references (its metrics do not use
    them), and its
    iterations go untraced, traced, traced, untraced and repeat, so a
    steady drift in speed (the JVM still warming up) weighs on both sides
    alike; each side gets at least four, because the tracing overhead is
    read from the difference of their medians.
    Returns {"untraced": {name: [walls]}, "traced": {name: [walls]}}, where
    a name is a pass or ``ref.<pass>``; the i-th walls of every name come
    from the same iteration."""
    names = PASSES + tuple(f"ref.{p}" for p in PASSES)
    walls = {"untraced": {n: [] for n in names},
             "traced": {n: [] for n in names}}

    def iteration(i: int, traced: bool) -> dict[str, float] | None:
        out = {}
        try:
            for p in PASSES:
                ref = Reference(enabled=i >= 0 and not traced_run)
                tracer.active = traced
                try:
                    with tracer.span(f"pass.{p}", iter=i,
                                     **(pass_attrs or {}).get(p, {})):
                        t0 = time.perf_counter()
                        verify = passes[p](ref)
                        out[p] = time.perf_counter() - t0 - ref.wall
                finally:
                    tracer.active = False
                if ref.enabled:
                    out[f"ref.{p}"] = ref.wall
                verify()
        except Exception:
            checks.error(f"iteration {i} pass {p}")
            return None
        return out

    iteration(-1, False)
    measured, i = 0.0, 0
    need = 8 if traced_run else 3
    while measured < seconds or i < need:
        traced = traced_run and i % 4 in (1, 2)
        got = iteration(i, traced)
        if got is not None:
            for p, w in got.items():
                walls["traced" if traced else "untraced"][p].append(w)
            measured += sum(got[p] for p in PASSES)
        elif checks.failed > need:
            break
        i += 1
    return walls


def throughput(amount: float, pass_walls: list[float]) -> float:
    return amount / median(pass_walls)


def vs_reference(amount: float, pass_walls: list[float], ref_amount: float,
                 ref_walls: list[float]) -> float:
    """The pass's throughput over its reference's, per iteration, then the
    median: how many times pyarrow's speed the engine runs at. The two sides
    of an iteration run interleaved, so a host that slows for a while slows
    both and the ratio holds."""
    return median([(amount / w) / (ref_amount / r)
                   for w, r in zip(pass_walls, ref_walls)])
