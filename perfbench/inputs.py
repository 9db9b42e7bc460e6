"""Seeded benchmark inputs and the reference-writer sizes they are judged by.

* The token table: ``sources.synth`` rows for ids ``0..rows-1`` under the
  run's seed, written as four parquet files of ``rows/4`` rows (one row
  group each), the layout a local[4] Spark write of the same range gives.
  It is cached under ``perfbench/.work/cache`` keyed by (seed, rows); the
  newest ``KEEP_TOKEN_CACHES`` entries are kept.
* The flat tables ``lineitem``, ``orders``, ``events`` and ``documents``:
  numpy-generated from the seed with the schemas, row counts
  (600k/150k/100k/5k) and value distributions of the TPC-H-like sf0.1
  test tables, built in memory on every run. perfbench/README.md compares
  each column's codec pick and encoded size with the sf0.1 tables'.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKEN_FILES = 4
GEN_BATCH = 5_000          # ids per synth_batch call: bounds generator memory
KEEP_TOKEN_CACHES = 3


def _token_file(args) -> str:
    """Spawned worker: write one file of the token table."""
    seed, lo, hi, path = args
    from parquet_go_spark.sources.synth import synth_batch

    batches = [synth_batch(np.arange(s, min(s + GEN_BATCH, hi), dtype=np.int64),
                           seed=seed)
               for s in range(lo, hi, GEN_BATCH)]
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_batches(batches), tmp,
                   row_group_size=hi - lo)
    os.replace(tmp, path)
    return path


def token_rows_per_file(rows: int) -> int:
    return rows // TOKEN_FILES


def token_table(cache_root: str, seed: int, rows: int) -> tuple[str, float]:
    """Directory of the cached token table and the seconds spent generating
    it (0.0 on a cache hit)."""
    import multiprocessing as mp

    d = os.path.join(cache_root, f"tokens-s{seed}-r{rows}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        os.utime(d)
        return d, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    per = token_rows_per_file(rows)
    jobs = [(seed, k * per, rows if k == TOKEN_FILES - 1 else (k + 1) * per,
             os.path.join(d, f"part-{k:05d}.parquet"))
            for k in range(TOKEN_FILES)]
    pool = mp.get_context("spawn").Pool(TOKEN_FILES)
    try:
        pool.map(_token_file, jobs)
    finally:
        pool.close()
        pool.join()
    open(done, "w").close()
    gen_s = time.perf_counter() - t0
    _evict(cache_root, keep=KEEP_TOKEN_CACHES)
    return d, gen_s


def _evict(cache_root: str, keep: int) -> None:
    entries = sorted(
        (e for e in os.listdir(cache_root) if e.startswith("tokens-")),
        key=lambda e: os.path.getmtime(os.path.join(cache_root, e)),
        reverse=True,
    )
    for e in entries[keep:]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)


def reference_sizes(table: pa.Table, **write_kw) -> dict[str, int]:
    """Bytes the pyarrow dictionary writer produces for ``table`` under
    snappy and zstd (the reference writer family), counted without
    touching the disk. The two writes run on two threads."""

    def write(codec: str) -> int:
        sink = pa.MockOutputStream()
        pq.write_table(table, sink, compression=codec, use_dictionary=True,
                       **write_kw)
        return sink.size()

    with ThreadPoolExecutor(2) as pool:
        futures = {c: pool.submit(write, c) for c in ("snappy", "zstd")}
        return {c: f.result() for c, f in futures.items()}


# ---------------------------------------------------------------- flat tables

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000
_WORDS = ("a the data row column table key value query scan filter sort "
          "hash join agg group order window merge batch stream vector spark "
          "part line customer fast slow small big").split()


def _days(start: dt.date, n_days: int, rng, n: int) -> pa.Array:
    base = int((dt.datetime.combine(start, dt.time()) - _EPOCH).total_seconds()
               * 1_000_000)
    us = base + rng.integers(0, n_days, n).astype(np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _choice(rng, labels: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(labels), n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(labels)).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def flat_tables(seed: int) -> dict[str, pa.Table]:
    """The four sf0.1-shaped tables for ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n = 600_000
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        # whole percents, the two end values half as often as the others
        "l_discount": np.rint(rng.uniform(0, 10, n)) / 100.0,
        "l_tax": np.rint(rng.uniform(0, 8, n)) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _days(dt.date(1995, 1, 2), 2_499, rng, n),
    })

    rng = np.random.default_rng([seed, 2])
    n = 150_000
    orders = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n),
        "o_orderdate": _days(dt.date(1995, 1, 1), 2_405, rng, n),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n),
    })

    rng = np.random.default_rng([seed, 3])
    n = 100_000
    start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    gaps = np.rint(rng.exponential(30 * _DAY_US / n, n)).astype(np.int64)
    props = [f'{{"k": {k}}}' for k in range(100)]
    events = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, 1_500, n),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup",
                                    "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": _choice(rng, props, n),
    })

    rng = np.random.default_rng([seed, 4])
    n = 5_000
    counts = rng.integers(10, 100, n)
    words = rng.integers(0, len(_WORDS), int(counts.sum()))
    ends = np.cumsum(counts)
    dup = rng.random(n) < 0.05          # one text in twenty ends in " dup"
    text = [" ".join(_WORDS[w] for w in words[e - c:e]) + " dup" * d
            for c, e, d in zip(counts, ends, dup)]
    documents = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(text, pa.string()),
        "lang": _choice(rng, ["de", "en", "es", "fr", "zh"], n,
                        p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{k % 20}" for k in range(n)]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    return {"lineitem": lineitem, "orders": orders, "events": events,
            "documents": documents}
