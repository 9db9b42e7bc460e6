"""Span tracing from outside the engine.

Nothing under ``parquet_go_spark/`` knows about this module. A traced run
replaces public functions of the engine's modules with wrappers that
record a span (name, start, end, CPU time, parent, attributes) around each
call and then call the original. Spans stay in memory: the driver's until
the run ends and its ledger is written, a Spark Python worker's until each
traced kernel call returns, when they are appended to that worker's file
(a worker has no end-of-run hook).

Wrapped on the driver: ``plans.partitioner.plan_partitions``, the
``ManifestStore`` commit methods, ``encode_job.make_encode_fn`` /
``decode_job.make_decode_fn`` (their kernels are wrapped so that tracing
switches on inside the worker that runs them), and for single-process
workloads the chunk/cost/codec/frame/parquet functions below. Wrapped in
the workers: the chunk/cost/codec/frame functions.

Times are ``time.perf_counter_ns`` (CLOCK_MONOTONIC on Linux, shared by
every process on the host), so worker spans line up with driver spans.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager
from typing import Callable

# A span: [pid, id, parent_id, name, t0_ns, t1_ns, cpu_ns, attrs]
PID, ID, PARENT, NAME, T0, T1, CPU, ATTRS = range(8)


def _first(args, kwargs, pos: int, key: str):
    return args[pos] if len(args) > pos else kwargs.get(key)


def _note_encode_chunk(attrs, args, kwargs, out):
    attrs["col"] = kwargs.get("path", "")
    attrs["bytes_out"] = len(out[0])


def _note_rans_enc(attrs, args, kwargs, out):
    attrs["values"] = len(_first(args, kwargs, 0, "vals"))
    attrs["bytes_out"] = len(out)


def _note_write_frame(attrs, args, kwargs, out):
    attrs["payload"] = sum(len(s) for s in _first(args, kwargs, 2, "sections"))
    attrs["bytes_out"] = len(out)


def _note_plan(attrs, args, kwargs, out):
    attrs["parts"] = out[1].num_partitions


def _note_pq_write(attrs, args, kwargs, out):
    attrs["bytes_out"] = os.path.getsize(_first(args, kwargs, 1, "path"))


# (module, attribute path, span name, note) — note(attrs, args, kwargs,
# result) fills span attributes after the call, outside the timed part.
WORKER_TARGETS: list[tuple[str, str, str, Callable | None]] = [
    ("parquet_go_spark.chunk", "encode_chunk_paged",
     "chunk.encode_chunk_paged", _note_encode_chunk),
    ("parquet_go_spark.chunk", "encode_chunk", "chunk.encode_chunk",
     _note_encode_chunk),
    ("parquet_go_spark.chunk", "decode_chunk", "chunk.decode_chunk", None),
    *[("parquet_go_spark.cost", f, f"cost.{f}", None) for f in (
        "contiguous_sample", "int_stats", "estimate_int_sizes",
        "rank_int_codecs", "rank_float_codecs", "rank_string_codecs",
        "choose_string_codec", "trial_pick", "trial_pick_scaled")],
    ("parquet_go_spark.codecs.rans", "encode_ints", "codecs.rans.encode_ints",
     _note_rans_enc),
    ("parquet_go_spark.codecs.rans", "decode_ints", "codecs.rans.decode_ints",
     None),
    *[(f"parquet_go_spark.codecs.{m}", f, f"codecs.{m}.{f}", None)
      for m, fs in (
          ("fsst", ("train", "encode", "decode")),
          ("delta", ("encode", "decode", "decode_consumed")),
          ("dictionary", ("build_numeric", "build_bytes", "encode_indices",
                          "decode_indices", "encode_codes_bss",
                          "decode_codes_bss")),
          ("bitpack", ("pack", "unpack")),
          ("bss", ("encode", "decode")),
          ("alp", ("split", "merge", "choose_params")))
      for f in fs],
    ("parquet_go_spark.frame", "write_frame", "frame.write_frame",
     _note_write_frame),
    ("parquet_go_spark.frame", "read_frame", "frame.read_frame", None),
]

PARQUET_TARGETS: list[tuple[str, str, str, Callable | None]] = [
    ("parquet_go_spark.pqwriter", "write_table", "pqwriter.write_table",
     _note_pq_write),
    ("parquet_go_spark.pqinterop", "decode_table", "pqinterop.decode_table",
     None),
    ("parquet_go_spark.pqinterop", "read_footer_ex", "pqinterop.read_footer",
     None),
]

SPARK_DRIVER_TARGETS: list[tuple[str, str, str, Callable | None]] = [
    ("parquet_go_spark.plans.partitioner", "plan_partitions",
     "partitioner.plan_partitions", _note_plan),
    ("parquet_go_spark.operators.store", "ManifestStore.append_blobs",
     "store.append_blobs", None),
    ("parquet_go_spark.operators.store", "ManifestStore.write_meta",
     "store.write_meta", None),
    ("parquet_go_spark.operators.store", "ManifestStore.write_manifest_snapshot",
     "store.write_manifest_snapshot", None),
    ("parquet_go_spark.operators.decode_job", "decode_table",
     "decode_job.decode_table", None),
]

# Generators whose yields are counted into the innermost open span.
COUNTED_TARGETS = [("parquet_go_spark.pqinterop", "iter_pages", "pages")]


class Tracer:
    """Per-process span recorder. Wrappers record only while ``active``."""

    def __init__(self, path: str | None = None):
        self.path = path  # where flush() appends; workers only
        self.pid = os.getpid()
        self.active = False
        self.spans: list[list] = []
        self._stack: list[list] = []
        self._next = 0

    def open(self, name: str, attrs: dict | None = None) -> list:
        parent = self._stack[-1][ID] if self._stack else -1
        rec = [self.pid, self._next, parent, name, time.perf_counter_ns(), 0,
               time.process_time_ns(), attrs if attrs is not None else {}]
        self._next += 1
        self._stack.append(rec)
        self.spans.append(rec)
        return rec

    def close(self, rec: list) -> None:
        rec[T1] = time.perf_counter_ns()
        rec[CPU] = time.process_time_ns() - rec[CPU]
        popped = self._stack.pop()
        if popped is not rec:
            raise RuntimeError(f"span {rec[NAME]} closed out of order")

    @contextmanager
    def span(self, name: str, **attrs):
        """A benchmark-side span; records nothing while inactive."""
        if not self.active:
            yield attrs
            return
        rec = self.open(name, attrs)
        try:
            yield rec[ATTRS]
        finally:
            self.close(rec)

    def wrap(self, fn: Callable, name: str, note: Callable | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            rec = self.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.close(rec)
            if note is not None:
                note(rec[ATTRS], args, kwargs, out)
            return out

        return traced

    def count_yields(self, fn: Callable, counter: str):
        def counting(it):
            for item in it:
                if self._stack:
                    attrs = self._stack[-1][ATTRS]
                    attrs[counter] = attrs.get(counter, 0) + 1
                yield item

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            it = fn(*args, **kwargs)
            return counting(it) if self.active else it

        return counted

    def install(self, targets, counted=()) -> None:
        """Replace each target with its traced wrapper, also where another
        engine module holds the same function under its own name
        (``from .x import f``)."""
        for modname, attr_path, name, note in targets:
            owner = importlib.import_module(modname)
            *outer, attr = attr_path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = getattr(owner, attr)
            self._replace(owner, attr, orig, self.wrap(orig, name, note))
        for modname, attr, counter in counted:
            owner = importlib.import_module(modname)
            orig = getattr(owner, attr)
            self._replace(owner, attr, orig, self.count_yields(orig, counter))

    def _replace(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("parquet_go_spark") \
                    and mod is not owner:
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, new)

    def flush(self) -> None:
        """Append the buffered spans to this process's file and drop them."""
        if not self.spans:
            return
        with open(self.path, "a") as fh:
            fh.write("".join(json.dumps(s, separators=(",", ":")) + "\n"
                             for s in self.spans))
        self.spans.clear()


# The tracer of this Spark Python worker process, made on the first traced
# kernel call in it. Module patches are per process, so this is too.
_WORKER: Tracer | None = None


def _worker_tracer(trace_dir: str) -> Tracer:
    global _WORKER
    if _WORKER is None or _WORKER.pid != os.getpid():
        _WORKER = Tracer(os.path.join(trace_dir, f"worker-{os.getpid()}.jsonl"))
        _WORKER.install(WORKER_TARGETS)
    return _WORKER


def traced_kernel(fn: Callable, name: str, trace_dir: str,
                  columns: list[str] | None = None) -> Callable:
    """Wrap an applyInArrow kernel so that it traces inside its worker.
    The kernel span carries rows, tokens (when the group has ``n_tok``)
    and, for decode, the requested column order."""

    def kernel(table):
        tr = _worker_tracer(trace_dir)
        attrs = {"rows": table.num_rows}
        if "n_tok" in table.column_names:
            import pyarrow.compute as pc

            attrs["tokens"] = int(pc.sum(table.column("n_tok")).as_py() or 0)
        if columns is not None:
            attrs["cols"] = list(columns)
        tr.active = True
        rec = tr.open(name, attrs)
        try:
            return fn(table)
        finally:
            tr.close(rec)
            tr.active = False
            tr.flush()

    return kernel


def install_spark_driver(tracer: Tracer, trace_dir: str) -> None:
    """Driver-side patches for a Spark workload: the plan/commit calls,
    plus kernel factories whose kernels trace in the workers."""
    from parquet_go_spark.operators import decode_job, encode_job

    tracer.install(SPARK_DRIVER_TARGETS)

    def wrap_factory(owner, attr, name, with_columns):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def factory(*args, **kwargs):
            fn = orig(*args, **kwargs)
            if not tracer.active:
                return fn
            cols = _first(args, kwargs, 0, "columns") if with_columns else None
            return traced_kernel(fn, name, trace_dir, cols)

        tracer._replace(owner, attr, orig, factory)

    wrap_factory(encode_job, "make_encode_fn", "encode_job.kernel", False)
    wrap_factory(decode_job, "make_decode_fn", "decode_job.kernel", True)


def load_spans(trace_dir: str) -> list[list]:
    """Every span the workers wrote under ``trace_dir``."""
    out: list[list] = []
    for fname in sorted(os.listdir(trace_dir)):
        if fname.startswith("worker-") and fname.endswith(".jsonl"):
            with open(os.path.join(trace_dir, fname)) as fh:
                out.extend(json.loads(line) for line in fh if line.strip())
    return out
