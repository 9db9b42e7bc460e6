"""Per-layer ledger: turns the spans of a traced run into layer metrics.

Every traced iteration runs four passes, each a driver span: ``pass.encode``,
``pass.decode``, ``pass.pq_write`` and ``pass.pq_read``. Spans a Spark
worker recorded hang under the innermost driver span that was open when
they started, so a job span's children are the kernels that ran inside
it; those overlap each other, which is why self time is the span's length
minus the union of its children. Layer metrics are computed per iteration
and reported as the median over iterations.

A pass's top-level stages are its topmost engine spans: spans named
``bench.*`` are the benchmark's own (a table loop, the decode job's sink
action) and are looked through, never counted as stages. Stage time is
the wall time during which at least one stage ran, so overlapping worker
kernels count once and time spent outside every engine call shows as a
shortfall against the pass wall.
"""

from __future__ import annotations

from collections import defaultdict

from . import harness
from .stats import covered, median, self_time
from .trace import ATTRS, CPU, ID, NAME, PARENT, PID, T0, T1

NS = 1e-9

COST = {"cost.contiguous_sample", "cost.int_stats", "cost.estimate_int_sizes",
        "cost.rank_int_codecs", "cost.rank_float_codecs",
        "cost.rank_string_codecs", "cost.choose_string_codec",
        "cost.trial_pick", "cost.trial_pick_scaled"}
CHUNK_ENC = {"chunk.encode_chunk_paged", "chunk.encode_chunk"}
CODEC_FAMILIES = {
    "codecs.rans_enc_s": {"codecs.rans.encode_ints"},
    "codecs.rans_dec_s": {"codecs.rans.decode_ints"},
    "codecs.fsst_train_s": {"codecs.fsst.train"},
    "codecs.fsst_enc_s": {"codecs.fsst.encode"},
    "codecs.fsst_dec_s": {"codecs.fsst.decode"},
    "codecs.delta_s": {"codecs.delta.encode", "codecs.delta.decode",
                       "codecs.delta.decode_consumed"},
    "codecs.dict_s": {f"codecs.dictionary.{f}" for f in (
        "build_numeric", "build_bytes", "encode_indices", "decode_indices",
        "encode_codes_bss", "decode_codes_bss")},
    "codecs.bitpack_s": {"codecs.bitpack.pack", "codecs.bitpack.unpack"},
    "codecs.bss_s": {"codecs.bss.encode", "codecs.bss.decode"},
    "codecs.alp_s": {"codecs.alp.split", "codecs.alp.merge",
                     "codecs.alp.choose_params"},
}
# Per-column (token table) and per-table (flat tables) chunk times.
CHUNK_KEYS = ("tokens", "doc_id", "n_tok", "source",
              "lineitem", "orders", "events", "documents")
PASSES = tuple(f"pass.{p}" for p in harness.PASSES)
BENCH = "bench."


class SpanTree:
    """Spans of one run, linked across processes."""

    def __init__(self, spans: list[list]):
        self.spans = {(s[PID], s[ID]): s for s in spans}
        self.parent: dict[tuple, tuple | None] = {}
        self.children: dict[tuple, list[tuple]] = defaultdict(list)
        # the driver is the process that recorded the pass spans
        driver = {s[PID] for s in spans if s[NAME].startswith("pass.")}
        hosts = [k for k in self.spans if k[0] in driver]
        for key, s in self.spans.items():
            if s[PARENT] >= 0:
                p = (s[PID], s[PARENT])
            elif s[PID] in driver:
                p = None
            else:
                p = self._innermost(hosts, s[T0])
            self.parent[key] = p
            if p is not None:
                self.children[p].append(key)
        for kids in self.children.values():
            kids.sort(key=lambda k: self.spans[k][T0])

    def _innermost(self, hosts, t):
        best, best_len = None, None
        for k in hosts:
            s = self.spans[k]
            if s[T0] <= t <= s[T1] and (best is None or s[T1] - s[T0] < best_len):
                best, best_len = k, s[T1] - s[T0]
        return best

    def ancestors(self, key):
        p = self.parent.get(key)
        while p is not None:
            yield p
            p = self.parent.get(p)

    def subtree(self, key):
        stack = [key]
        while stack:
            k = stack.pop()
            yield k
            stack.extend(self.children.get(k, ()))

    def self_ns(self, key) -> int:
        s = self.spans[key]
        kids = [(self.spans[c][T0], self.spans[c][T1])
                for c in self.children.get(key, ())]
        return self_time(s[T0], s[T1], kids)

    def engine_stages(self, key) -> list:
        """Topmost engine spans under ``key``, looking through the
        benchmark's own ``bench.*`` spans."""
        out, stack = [], list(self.children.get(key, ()))
        while stack:
            k = stack.pop()
            if self.spans[k][NAME].startswith(BENCH):
                stack.extend(self.children.get(k, ()))
            else:
                out.append(k)
        return out

    def topmost(self, keys, names: set) -> list:
        """Spans named in ``names`` with no ancestor named in ``names``."""
        return [k for k in keys if self.spans[k][NAME] in names and not any(
            self.spans[a][NAME] in names for a in self.ancestors(k))]


def _dur(s) -> float:
    return (s[T1] - s[T0]) * NS


def _label_decode_columns(tree: SpanTree) -> None:
    """A decode kernel decodes its columns in request order, one top-level
    ``chunk.decode_chunk`` each; label those spans with their column."""
    for key, s in tree.spans.items():
        if s[NAME] == "decode_job.kernel":
            kids = [c for c in tree.children.get(key, ())
                    if tree.spans[c][NAME] == "chunk.decode_chunk"]
            for c, col in zip(kids, s[ATTRS].get("cols", ())):
                tree.spans[c][ATTRS]["col"] = col


def _chunk_key(tree: SpanTree, key) -> str:
    for k in (key, *tree.ancestors(key)):
        attrs = tree.spans[k][ATTRS]
        if "table" in attrs:
            return attrs["table"]
    return tree.spans[key][ATTRS].get("col", "")


def iteration_metrics(tree: SpanTree, passes: dict[str, tuple]) -> dict:
    """Layer metrics of one iteration; ``passes`` maps pass name to its span."""
    keys = {p: list(tree.subtree(k)) for p, k in passes.items()}
    every = [k for ks in keys.values() for k in ks]
    sp = tree.spans

    def named(ks, names):
        return [k for k in ks if sp[k][NAME] in names]

    def total(ks):
        return sum(_dur(sp[k]) for k in ks)

    m: dict[str, float] = {}
    enc, dec = keys.get("pass.encode", []), keys.get("pass.decode", [])
    cores = sp[passes["pass.encode"]][ATTRS].get("cores", 0)

    plans = named(enc, {"partitioner.plan_partitions"})
    m["partitioner.plan_s"] = total(plans)
    m["partitioner.parts"] = sum(sp[k][ATTRS].get("parts", 0) for k in plans)
    kern = named(enc, {"encode_job.kernel"})
    toks = [sp[k][ATTRS].get("tokens", 0) for k in kern]
    m["partitioner.skew"] = (max(toks) / (sum(toks) / len(toks))
                             if toks and sum(toks) else 0.0)
    append = total(named(enc, {"store.append_blobs"}))
    m["encode_job.kernel_s"] = total(kern)
    m["encode_job.kernel_cpu_s"] = sum(sp[k][CPU] for k in kern) * NS
    m["encode_job.groups"] = len(kern)
    m["encode_job.kernel_share"] = (m["encode_job.kernel_s"] / (append * cores)
                                    if append and cores else 0.0)
    m["encode_job.outside_s"] = (append * cores - m["encode_job.kernel_s"]
                                 if kern else 0.0)
    dkern = named(dec, {"decode_job.kernel"})
    sink = total(named(dec, {"bench.sink"}))
    m["decode_job.kernel_s"] = total(dkern)
    m["decode_job.kernel_share"] = (m["decode_job.kernel_s"] / (sink * cores)
                                    if sink and cores else 0.0)
    m["decode_job.outside_s"] = (sink * cores - m["decode_job.kernel_s"]
                                 if dkern else 0.0)
    m["store.append_s"] = append
    m["store.meta_s"] = total(named(enc, {"store.write_meta"}))
    m["store.snapshot_s"] = total(named(enc, {"store.write_manifest_snapshot"}))

    encs = tree.topmost(enc, CHUNK_ENC)
    decs = tree.topmost(dec, {"chunk.decode_chunk"})
    m["chunk.encode_s"] = total(encs)
    m["chunk.decode_s"] = total(decs)
    m["chunk.encode_calls"] = len(encs)
    for prefix, ks in (("chunk.encode_s", encs), ("chunk.decode_s", decs)):
        per = defaultdict(float)
        for k in ks:
            per[_chunk_key(tree, k)] += _dur(sp[k])
        for name in CHUNK_KEYS:
            m[f"{prefix}.{name}"] = per.get(name, 0.0)

    m["cost.pick_s"] = total(tree.topmost(enc, COST))
    picked = [k for k in encs if any(sp[d][NAME] in COST
                                     for d in tree.subtree(k))]
    m["cost.pick_calls"] = len(picked)
    m["cost.pick_skip_ratio"] = 1 - len(picked) / len(encs) if encs else 0.0

    for metric, names in CODEC_FAMILIES.items():
        m[metric] = total(tree.topmost(every, names))
    renc = tree.topmost(every, {"codecs.rans.encode_ints"})
    m["codecs.rans_values_in"] = sum(sp[k][ATTRS].get("values", 0) for k in renc)
    m["codecs.rans_bytes_out"] = sum(sp[k][ATTRS].get("bytes_out", 0)
                                     for k in renc)

    # trial frames (under cost) are pick work. List sub-frames become the
    # payload of their chunk's frame, so the ratio is taken over the
    # frames directly under one chunk.encode_chunk.
    wf = [k for k in named(enc, {"frame.write_frame"})
          if not any(sp[a][NAME] in COST for a in tree.ancestors(k))]
    outer = [k for k in wf if sum(sp[a][NAME] == "chunk.encode_chunk"
                                  for a in tree.ancestors(k)) == 1]
    m["frame.write_s"] = total(wf)
    m["frame.read_s"] = total(tree.topmost(dec, {"frame.read_frame"}))
    m["frame.bytes_out"] = sum(sp[k][ATTRS].get("bytes_out", 0) for k in encs)
    payload = sum(sp[k][ATTRS].get("payload", 0) for k in outer)
    body = sum(sp[k][ATTRS].get("bytes_out", 0) for k in outer)
    m["frame.compress_ratio"] = payload / body if body else 0.0

    pw, pr = keys.get("pass.pq_write", []), keys.get("pass.pq_read", [])
    writes = named(pw, {"pqwriter.write_table"})
    m["pqwriter.write_s"] = total(writes)
    m["pqwriter.bytes_out"] = sum(sp[k][ATTRS].get("bytes_out", 0)
                                  for k in writes)
    m["pqinterop.read_s"] = total(named(pr, {"pqinterop.decode_table"}))
    m["pqinterop.footer_s"] = total(tree.topmost(pr, {"pqinterop.read_footer"}))
    m["pqinterop.pages"] = sum(sp[k][ATTRS].get("pages", 0) for k in pr)

    for p in ("encode", "decode"):
        key = passes[f"pass.{p}"]
        stages = [(sp[k][T0], sp[k][T1]) for k in tree.engine_stages(key)]
        m[f"ledger.{p}_stages_s"] = covered(sp[key][T0], sp[key][T1],
                                            stages) * NS
        m[f"ledger.{p}_accounted"] = m[f"ledger.{p}_stages_s"] / _dur(sp[key])
    return m


def layer_metrics(spans: list[list]) -> tuple[dict, dict]:
    """(median per-iteration metrics, per-span-name ledger per iteration)."""
    tree = SpanTree(spans)
    _label_decode_columns(tree)
    iters: dict[int, dict[str, tuple]] = defaultdict(dict)
    for key, s in tree.spans.items():
        if s[NAME] in PASSES:
            iters[s[ATTRS]["iter"]][s[NAME]] = key
    # an iteration that raised part-way has no metrics
    per_iter = [iteration_metrics(tree, passes) for _, passes in
                sorted(iters.items()) if len(passes) == len(PASSES)]
    metrics = {k: median([it[k] for it in per_iter]) for k in per_iter[0]}

    n = len(per_iter)
    names: dict[str, dict] = defaultdict(
        lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0, "cpu_s": 0.0})
    for key, s in tree.spans.items():
        row = names[s[NAME]]
        row["calls"] += 1 / n
        row["total_s"] += _dur(s) / n
        row["self_s"] += tree.self_ns(key) * NS / n
        row["cpu_s"] += s[CPU] * NS / n
    ledger = {k: {f: round(v, 6) for f, v in row.items()}
              for k, row in sorted(names.items(),
                                   key=lambda kv: -kv[1]["self_s"])}
    return metrics, ledger
