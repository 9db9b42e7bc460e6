"""Workload ``tokens_spark``: the store's production shape.

A Spark local[4] session encodes the seeded 200,000-row token table with
``encode_table(target_tokens=1_000_000)`` into a fresh store, then decodes
all four columns with ``decode_table`` into a noop sink: a closed loop
with one job at a time. Beside the Spark job, the leading rows of the table
that hold its first 5M tokens go through the real-Parquet writer and
reader in the driver process (twice per pass).

In an untraced run pyarrow does the same kind of work on that slice as the
reference of each pass, single-threaded: writes it with zstd (encode) or
its defaults (pq_write), reads a pyarrow zstd file of it (decode) or the
``pqwriter`` file (pq_read). The reference steps of a Spark pass run half
before and half after its job; those of a pq pass alternate with the
pass's own writes or reads.

Correctness: every encode pass must give the same ``encoded_bytes``; the
last store, decoded, must have the input's ``verify.table_checksum``;
pyarrow's read of each ``pqwriter`` file must equal the source slice, and
each ``pqinterop`` read must equal pyarrow's read of the same file.
"""

from __future__ import annotations

import os
import shutil
import time
import tracemalloc
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs
from .harness import Checks, run_iterations, throughput, vs_reference
from .stats import median

ROWS = 200_000
TARGET_TOKENS = 1_000_000
PQ_SLICE_TOKENS = 5_000_000
COLUMNS = ["doc_id", "tokens", "n_tok", "source"]
SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
LOAD_REPEATS = 3
# a pq pass writes or reads the slice this many times, so that it lasts
# over a second and a run's few passes average out short stalls
PQ_REPEATS = 2
# how many times the reference of a Spark pass writes or reads the slice
# (~0.2 s per write and ~0.08 s per read on the 4-vCPU VM in the README),
# half of them before the job and half after
REF_WRITE_REPEATS = 4
REF_READ_REPEATS = 8


def spark_settings() -> dict:
    """Session settings. ``encoded_bytes`` depends on how part_ids group
    into tasks (the per-task pick cache), so the master, shuffle partitions
    and AQE settings are part of its pin."""
    cores = min(4, len(os.sched_getaffinity(0)))
    return {
        "cores": cores,
        "shuffle_partitions": 2 * cores,
        "driver_memory": "4g",
        "extra_conf": {
            "spark.sql.adaptive.coalescePartitions.minPartitionNum": str(cores),
            "spark.ui.showConsoleProgress": "false",
        },
    }


def _stop(spark) -> None:
    """Stop the session, if it started, and wait for its JVM (and the Python
    workers it started) to exit; the JVM exits when its stdin closes. The
    JVM may be up without a session, when the session start failed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _describe_input(src: str) -> dict:
    """Sizes, token count, reference-writer bytes and the pq slice of the
    cached input."""
    t0 = time.perf_counter()
    table = pq.read_table(src)
    n_tok = table.column("n_tok").to_numpy()
    pq_rows = int(np.searchsorted(n_tok.cumsum(), PQ_SLICE_TOKENS)) + 1
    pq_slice = table.take(np.arange(pq_rows))  # a copy: frees the rest
    return {
        "arrow_bytes": table.nbytes,
        "tokens": int(n_tok.sum(dtype=np.int64)),
        # the reference keeps the input files' row groups
        "refs": inputs.reference_sizes(
            table, row_group_size=inputs.token_rows_per_file(ROWS)),
        "pq_slice": pq_slice,
        "pq_ref": inputs.reference_sizes(pq_slice)["snappy"],
        "seconds": time.perf_counter() - t0,
    }


def run(seed: int, seconds: float, tracer, traced_run: bool, work: str) -> dict:
    from parquet_go_spark.operators import decode_job, encode_job, verify
    from parquet_go_spark import pqinterop, pqwriter, session

    checks = Checks()
    src, gen_s = inputs.token_table(os.path.join(work, "cache"), seed, ROWS)
    conf = spark_settings()
    pq_path = os.path.join(work, "tokens_slice.parquet")
    ref_path = os.path.join(work, "tokens_slice_ref.parquet")
    t_setup = time.perf_counter()
    spark = None
    try:
        with ThreadPoolExecutor(1) as pool:
            # the reference writes run while the JVM starts
            described = pool.submit(_describe_input, src)
            spark = session.get_spark(
                cores=conf["cores"], app_name="perfbench",
                shuffle_partitions=conf["shuffle_partitions"],
                driver_memory=conf["driver_memory"],
                extra_conf=conf["extra_conf"])
            start_s = time.perf_counter() - t_setup
        start_wall = time.perf_counter() - t_setup
        ref = described.result()
        tokens, pq_slice = ref["tokens"], ref["pq_slice"]
        load = []
        for _ in range(LOAD_REPEATS):
            t0 = time.perf_counter()
            df = spark.read.parquet(src)
            n = df.selectExpr("sum(n_tok) t").collect()[0]["t"]
            load.append(time.perf_counter() - t0)
        checks.check(n == tokens, f"spark token count {n} != {tokens}")
        setup_s = start_wall + median(load)

        want = verify.table_checksum(df, COLUMNS)
        stores = os.path.join(work, "stores")
        shutil.rmtree(stores, ignore_errors=True)
        os.makedirs(stores)
        state = {"n": 0, "store": None, "bytes": None}

        sink = pa.BufferOutputStream()
        pq.write_table(pq_slice, sink, compression="zstd")
        zstd_slice = sink.getvalue()

        def ref_write():
            pq.write_table(pq_slice, pa.MockOutputStream(), compression="zstd")

        def ref_read():
            pq.read_table(pa.BufferReader(zstd_slice), use_threads=False)

        def encode(ref):
            state["n"] += 1
            out = os.path.join(stores, f"s{state['n']}")
            for _ in range(REF_WRITE_REPEATS // 2):
                ref.step(ref_write)
            store, _plan = encode_job.encode_table(
                spark, df, out, target_tokens=TARGET_TOKENS, resume=False)
            for _ in range(REF_WRITE_REPEATS // 2):
                ref.step(ref_write)

            def check():
                got = store.manifest(spark).selectExpr(
                    "sum(encoded_size) e").collect()[0]["e"]
                if state["bytes"] is None:
                    state["bytes"] = got
                checks.check(got == state["bytes"],
                             f"encoded_bytes {got} != {state['bytes']}")
                if state["store"] is not None:
                    shutil.rmtree(state["store"], ignore_errors=True)
                state["store"] = out
            return check

        def decode(ref):
            for _ in range(REF_READ_REPEATS // 2):
                ref.step(ref_read)
            dec = decode_job.decode_table(spark, state["store"], COLUMNS, SCHEMA)
            with tracer.span("bench.sink"):
                dec.write.format("noop").mode("overwrite").save()
            for _ in range(REF_READ_REPEATS // 2):
                ref.step(ref_read)
            return lambda: None

        def pq_write(ref):
            for _ in range(PQ_REPEATS):
                ref.step(lambda: pq.write_table(pq_slice, ref_path))
                pqwriter.write_table(pq_slice, pq_path)
            # pqwriter marks columns without nulls required; values must match
            return lambda: checks.check(
                pq.read_table(pq_path).cast(pq_slice.schema).equals(pq_slice),
                "pyarrow read of pqwriter file != source slice")

        def pq_read(ref):
            for _ in range(PQ_REPEATS):
                ref.step(lambda: pq.read_table(pq_path, use_threads=False))
                got = pqinterop.decode_table(pq_path)
            return lambda: checks.check(got.equals(pq.read_table(pq_path)),
                                        "pqinterop read != pyarrow read")

        walls = run_iterations(
            {"encode": encode, "decode": decode, "pq_write": pq_write,
             "pq_read": pq_read},
            seconds, tracer, traced_run, checks,
            pass_attrs={"encode": {"cores": conf["cores"]}})

        dec = decode_job.decode_table(spark, state["store"], COLUMNS, SCHEMA)
        got = verify.table_checksum(dec, COLUMNS)
        checks.check(got == want, f"decoded checksum {got} != input {want}")

        tracemalloc.start()
        pqwriter.write_table(pq_slice, pq_path)
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        pq_bytes = os.path.getsize(pq_path)
    finally:
        _stop(spark)
        shutil.rmtree(os.path.join(work, "stores"), ignore_errors=True)
        for path in (pq_path, ref_path):
            if os.path.exists(path):
                os.remove(path)

    w = walls["untraced"]
    arrow_bytes, slice_bytes = ref["arrow_bytes"], pq_slice.nbytes
    encoded = state["bytes"] or 0
    e2e = {} if traced_run else {
        "setup_s": setup_s,
        "encode_vs_pyarrow": vs_reference(
            arrow_bytes, w["encode"], REF_WRITE_REPEATS * slice_bytes,
            w["ref.encode"]),
        "decode_vs_pyarrow": vs_reference(
            arrow_bytes, w["decode"], REF_READ_REPEATS * slice_bytes,
            w["ref.decode"]),
        "pq_write_vs_pyarrow": vs_reference(1, w["pq_write"], 1,
                                            w["ref.pq_write"]),
        "pq_read_vs_pyarrow": vs_reference(1, w["pq_read"], 1,
                                           w["ref.pq_read"]),
        "encoded_bytes": encoded,
        "bytes_vs_ref_zstd": encoded / ref["refs"]["zstd"],
        "bytes_vs_ref_snappy": encoded / ref["refs"]["snappy"],
        "pq_bytes_vs_pyarrow": pq_bytes / ref["pq_ref"],
        "pq_write_peak_mb": peak / 1e6,
    }
    return {
        "checks": checks, "e2e": e2e, "walls": walls,
        "setup": {"synth.gen_s": gen_s, "session.start_s": start_s,
                  "input.load_s": load, "reference_s": ref["seconds"]},
        "record": {"rows": ROWS, "tokens": tokens, "arrow_bytes": arrow_bytes,
                   "reference_bytes": ref["refs"],
                   "pq_slice_rows": pq_slice.num_rows,
                   "throughput": {
                       "encode_tok_s": throughput(tokens, w["encode"]),
                       "decode_tok_s": throughput(tokens, w["decode"]),
                       "encode_mb_s": throughput(arrow_bytes / 1e6,
                                                 w["encode"]),
                       "decode_mb_s": throughput(arrow_bytes / 1e6,
                                                 w["decode"]),
                       "pq_write_mb_s": throughput(
                           PQ_REPEATS * slice_bytes / 1e6, w["pq_write"]),
                       "pq_read_mb_s": throughput(
                           PQ_REPEATS * slice_bytes / 1e6, w["pq_read"])},
                   "pin": {"encoded_bytes": encoded,
                           "master": f"local[{conf['cores']}]",
                           "spark.sql.shuffle.partitions":
                               conf["shuffle_partitions"],
                           "spark.sql.adaptive.enabled": True,
                           "coalescePartitions.minPartitionNum": conf["cores"],
                           "target_tokens": TARGET_TOKENS}},
    }
