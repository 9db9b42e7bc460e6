"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload tokens_spark --seed 1 --seconds 15 --trace 0

``--trace 0`` prints every end-to-end metric named in BENCHMARK.json;
``--trace 1`` interleaves untraced and traced iterations and prints
every per-layer metric. Either way the full record of the run (pass walls,
pass counts, slowest passes, host context, pins, and for a traced run the
per-span ledger) is written under ``perfbench/.work/results/``. Run it from
the repository root; everything it writes stays under ``perfbench/.work``,
and every process it starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

from perfbench import reaper  # noqa: E402


def _confine_scratch() -> None:
    """Point every temp and spill directory of this process, the JVM and
    the Python workers into ``perfbench/.work``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _layer_metrics(result: dict, spans: list) -> tuple[dict, dict]:
    from perfbench.ledger import layer_metrics
    from perfbench.stats import median

    layers, ledger = layer_metrics(spans)
    walls = result["walls"]
    for p in ("encode", "decode"):
        untraced = median(walls["untraced"][p])
        traced = median(walls["traced"][p])
        layers[f"ledger.{p}_coverage"] = layers.pop(f"ledger.{p}_stages_s") \
            / untraced
        layers[f"trace.{p}_overhead_s"] = traced - untraced
        layers[f"trace.{p}_overhead_share"] = (traced - untraced) / untraced
    setup = result["setup"]
    layers["session.start_s"] = setup.get("session.start_s", 0.0)
    layers["synth.gen_s"] = setup.get("synth.gen_s", 0.0)
    return layers, ledger


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tokens_spark", "tables_local"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    _confine_scratch()
    try:
        import parquet_go_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from perfbench import harness, tables_local, tokens_spark, trace
    from perfbench.stats import iqr_share, median

    host = harness.host_context()
    tracer = trace.Tracer()
    trace_dir = os.path.join(WORK, "trace", f"{args.workload}-{os.getpid()}")
    if args.trace:
        os.makedirs(trace_dir)
        if args.workload == "tokens_spark":
            trace.install_spark_driver(tracer, trace_dir)
        else:
            tracer.install(trace.WORKER_TARGETS)
        tracer.install(trace.PARQUET_TARGETS, trace.COUNTED_TARGETS)

    module = {"tokens_spark": tokens_spark, "tables_local": tables_local}
    t0 = time.perf_counter()
    result = module[args.workload].run(args.seed, args.seconds, tracer,
                                       bool(args.trace), WORK)
    wall = time.perf_counter() - t0

    passes = {p: {"count": len(w), "median_s": median(w), "slowest_s": max(w),
                  "iqr_share": iqr_share(w)}
              for p, w in result["walls"]["untraced"].items() if w}
    for p, row in passes.items():
        print(f"perfbench: {args.workload} {p}: {row['count']} passes, "
              f"median {row['median_s']:.3f} s, slowest {row['slowest_s']:.3f} s, "
              f"spread {row['iqr_share']:.3f}",
              file=sys.stderr)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "run_wall_s": wall, "setup": result["setup"], "passes": passes,
              "walls": result["walls"], **result["record"]}
    if args.trace:
        spans = tracer.spans + trace.load_spans(trace_dir)
        shutil.rmtree(trace_dir)
        values, record["ledger"] = _layer_metrics(result, spans)
    else:
        values = result["e2e"]

    missing = [m["name"] for m in wanted if m["name"] not in values]
    extra = sorted(set(values) - {m["name"] for m in wanted})
    if missing or extra:
        raise RuntimeError(f"metrics missing {missing}, not declared {extra}")
    checks = result["checks"]
    out = {"correct": checks.failed == 0, "attempted": checks.attempted,
           "failed": checks.failed,
           "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in wanted}}
    record["result"] = out
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    with open(os.path.join(WORK, "results", name + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    # a SIGTERM unwinds like an error, so the Spark session stops and every
    # child is waited for on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    reaper.become_subreaper()
    try:
        code = main()
    finally:
        reaper.reap()
    sys.exit(code)
