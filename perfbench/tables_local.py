"""Workload ``tables_local``: the codec kernels and the real-Parquet writer
and reader in one Python process, no Spark.

The seeded sf0.1-shaped tables ``lineitem``, ``orders``, ``events`` and
``documents`` are cut into 131,072-row row groups. Every column chunk goes
through ``chunk.encode_chunk_paged`` with a cold pick (no pick cache) and
back through ``chunk.decode_chunk`` (four times per decode pass). Each
whole table is then written with ``pqwriter.write_table`` and read back
with ``pqinterop.decode_table`` (twice per pass).

In an untraced run pyarrow does the same work as the reference of each
pass, table by table between the pass's own tables: writes each table with
zstd (encode), reads a pyarrow zstd file of it (decode), writes it with its
defaults (pq_write), and reads the ``pqwriter`` file (pq_read),
single-threaded and as many times as the pass does.

Correctness: every decoded chunk must ``.equals`` its source, pyarrow's
read of each ``pqwriter`` file must equal the source table, and each
``pqinterop`` read must equal pyarrow's read of the same file.
"""

from __future__ import annotations

import os
import shutil
import time
import tracemalloc

import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs
from .harness import Checks, run_iterations, throughput, vs_reference
from .stats import median

ROW_GROUP = 131_072
SETUP_REPEATS = 3
# decoding is ~12x faster than encoding, and writing or reading the four
# tables takes under a second; these passes repeat their work so that each
# lasts over a second and a run's few passes average out short stalls
DECODE_REPEATS = 4
PQ_REPEATS = 2


def _setup(seed: int):
    """Generate the tables, cut the chunks and size the references."""
    t0 = time.perf_counter()
    tables = inputs.flat_tables(seed)
    gen_s = time.perf_counter() - t0
    chunks = [(name, col, t.column(col).slice(lo, ROW_GROUP).combine_chunks())
              for name, t in tables.items()
              for lo in range(0, t.num_rows, ROW_GROUP)
              for col in t.column_names]
    refs = {"snappy": 0, "zstd": 0}
    pq_ref = 0
    for t in tables.values():
        for codec, size in inputs.reference_sizes(
                t, row_group_size=ROW_GROUP).items():
            refs[codec] += size
        pq_ref += inputs.reference_sizes(t)["snappy"]
    return tables, chunks, refs, pq_ref, gen_s


def run(seed: int, seconds: float, tracer, traced_run: bool, work: str) -> dict:
    t0 = time.perf_counter()
    from parquet_go_spark import chunk, pqinterop, pqwriter
    import_s = time.perf_counter() - t0

    checks = Checks()
    reps, gens = [], []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        tables, chunks, refs, pq_ref, gen_s = _setup(seed)
        reps.append(time.perf_counter() - t0)
        gens.append(gen_s)
    setup_s = import_s + median(reps)

    out_dir = os.path.join(work, "tables")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    paths = {name: os.path.join(out_dir, f"{name}.parquet") for name in tables}
    ref_path = os.path.join(out_dir, "reference.parquet")
    zstd_files = {}
    for name, t in tables.items():
        sink = pa.BufferOutputStream()
        pq.write_table(t, sink, compression="zstd", row_group_size=ROW_GROUP)
        zstd_files[name] = sink.getvalue()
    state = {"blobs": [], "bytes": None}

    def encode(ref):
        blobs = []
        for name, t in tables.items():
            ref.step(lambda: pq.write_table(
                t, pa.MockOutputStream(), compression="zstd",
                row_group_size=ROW_GROUP))
            with tracer.span("bench.table", table=name):
                for tname, col, arr in chunks:
                    if tname == name:
                        blobs.append(chunk.encode_chunk_paged(
                            arr, codec="auto", compression="zstd", path=col)[0])

        def check():
            got = sum(len(b) for b in blobs)
            if state["bytes"] is None:
                state["bytes"] = got
            checks.check(got == state["bytes"],
                         f"encoded_bytes {got} != {state['bytes']}")
            state["blobs"] = blobs
        return check

    def decode(ref):
        for _ in range(DECODE_REPEATS):
            decoded = []
            for name in tables:
                ref.step(lambda: pq.read_table(
                    pa.BufferReader(zstd_files[name]), use_threads=False))
                with tracer.span("bench.table", table=name):
                    for (tname, _col, _arr), blob in zip(chunks,
                                                        state["blobs"]):
                        if tname == name:
                            decoded.append(chunk.decode_chunk(blob))

        def check():
            for (tname, col, arr), got in zip(chunks, decoded):
                checks.check(got.equals(arr), f"{tname}.{col} decode mismatch")
        return check

    def pq_write(ref):
        for _ in range(PQ_REPEATS):
            for name, t in tables.items():
                ref.step(lambda: pq.write_table(t, ref_path))
                pqwriter.write_table(t, paths[name])

        def check():
            # pqwriter marks columns without nulls required; values must match
            for name, t in tables.items():
                back = pq.read_table(paths[name]).cast(t.schema)
                checks.check(back.equals(t),
                             f"{name}: pyarrow read of pqwriter file != source")
        return check

    def pq_read(ref):
        got = {}
        for _ in range(PQ_REPEATS):
            for name, path in paths.items():
                ref.step(lambda: pq.read_table(path, use_threads=False))
                got[name] = pqinterop.decode_table(path)

        def check():
            for name, path in paths.items():
                checks.check(got[name].equals(pq.read_table(path)),
                             f"{name}: pqinterop read != pyarrow read")
        return check

    walls = run_iterations(
        {"encode": encode, "decode": decode, "pq_write": pq_write,
         "pq_read": pq_read},
        seconds, tracer, traced_run, checks)

    peak = 0
    for name, t in tables.items():
        tracemalloc.start()
        pqwriter.write_table(t, paths[name])
        peak = max(peak, tracemalloc.get_traced_memory()[1])
        tracemalloc.stop()
    pq_bytes = sum(os.path.getsize(p) for p in paths.values())
    shutil.rmtree(out_dir, ignore_errors=True)

    w = walls["untraced"]
    arrow_bytes = sum(t.nbytes for t in tables.values())
    cells = sum(t.num_rows * t.num_columns for t in tables.values())
    encoded = state["bytes"] or 0
    # every pass and its reference do the same amount of work
    e2e = {} if traced_run else {
        "setup_s": setup_s,
        **{f"{p}_vs_pyarrow": vs_reference(1, w[p], 1, w[f"ref.{p}"])
           for p in ("encode", "decode", "pq_write", "pq_read")},
        "encoded_bytes": encoded,
        "bytes_vs_ref_zstd": encoded / refs["zstd"],
        "bytes_vs_ref_snappy": encoded / refs["snappy"],
        "pq_bytes_vs_pyarrow": pq_bytes / pq_ref,
        "pq_write_peak_mb": peak / 1e6,
    }
    return {
        "checks": checks, "e2e": e2e, "walls": walls,
        "setup": {"import_s": import_s, "generate_and_reference_s": reps,
                  "synth.gen_s": median(gens)},
        "record": {"cells": cells, "arrow_bytes": arrow_bytes,
                   "chunks": len(chunks), "reference_bytes": refs,
                   "throughput": {
                       "encode_tok_s": throughput(cells, w["encode"]),
                       "decode_tok_s": throughput(DECODE_REPEATS * cells,
                                                  w["decode"]),
                       "encode_mb_s": throughput(arrow_bytes / 1e6,
                                                 w["encode"]),
                       "decode_mb_s": throughput(
                           DECODE_REPEATS * arrow_bytes / 1e6, w["decode"]),
                       "pq_write_mb_s": throughput(
                           PQ_REPEATS * arrow_bytes / 1e6, w["pq_write"]),
                       "pq_read_mb_s": throughput(
                           PQ_REPEATS * arrow_bytes / 1e6, w["pq_read"])},
                   "pyarrow_snappy_bytes": pq_ref,
                   "pin": {"encoded_bytes": encoded, "row_group": ROW_GROUP}},
    }
