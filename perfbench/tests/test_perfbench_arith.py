"""Self-tests of the benchmark's own arithmetic: span self time, quartiles,
the speed relative to pyarrow, and the ledger's cross-process span linking
and layer shares.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import statistics

import pytest

from perfbench.harness import vs_reference
from perfbench.ledger import SpanTree, layer_metrics
from perfbench.stats import covered, iqr_share, median, quartiles, self_time
from perfbench.trace import Tracer

S = 1_000_000_000  # one second in ns


def test_self_time_nested_children():
    # parent [0, 100) with children [10, 30) and [50, 60): 70 left over
    assert self_time(0, 100, [(10, 30), (50, 60)]) == 70


def test_self_time_overlapping_children_counted_once():
    # [10, 40) and [30, 50) overlap on [30, 40): union is [10, 50)
    assert self_time(0, 100, [(10, 40), (30, 50)]) == 60
    # a child inside another child adds nothing
    assert self_time(0, 100, [(10, 50), (20, 30)]) == 60


def test_self_time_clips_children_to_parent():
    # worker kernels may start before or end after the driver span
    assert covered(10, 20, [(0, 15), (18, 40)]) == 7
    assert self_time(10, 20, [(0, 15), (18, 40)]) == 3
    assert self_time(10, 20, [(0, 5), (30, 40)]) == 10
    assert self_time(10, 20, []) == 10


def test_self_time_fully_covered_parent():
    assert self_time(0, 10, [(0, 4), (4, 10)]) == 0
    assert self_time(0, 10, [(-5, 20)]) == 0


def test_quartiles_match_statistics_quantiles():
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    q1, q2, q3 = quartiles(vals)
    assert [q1, q2, q3] == statistics.quantiles(vals, n=4)
    assert q2 == median(vals) == 3.5
    assert iqr_share(vals) == pytest.approx((q3 - q1) / q2)


def test_quartiles_small_samples():
    assert quartiles([2.0]) == (2.0, 2.0, 2.0)
    assert iqr_share([2.0]) == 0.0
    assert median([1.0, 2.0, 10.0]) == 2.0
    assert iqr_share([5.0] * 4) == 0.0



def test_vs_reference_pairs_each_pass_with_its_own_reference():
    # 100 units in 2 s against the reference's 50 units in 0.5 s: 0.5x
    assert vs_reference(100, [2.0], 50, [0.5]) == pytest.approx(0.5)
    # a host twice as slow in the second iteration slows both walls alike,
    # so every iteration gives the same ratio
    assert vs_reference(100, [2.0, 4.0, 2.0], 50, [0.5, 1.0, 0.5]) \
        == pytest.approx(0.5)
    # the median of the per-iteration ratios, not a ratio of medians
    assert vs_reference(1, [1.0, 2.0, 4.0], 1, [1.0, 1.0, 1.0]) \
        == pytest.approx(0.5)
    assert vs_reference(1, [1.0, 1.0, 4.0], 1, [1.0, 3.0, 1.0]) \
        == pytest.approx(1.0)

def _span(pid, sid, parent, name, t0, t1, cpu=0, **attrs):
    return [pid, sid, parent, name, t0 * S, t1 * S, cpu * S, attrs]


def _iteration(encode_children, decode_children=()):
    """Driver pid 1: four pass spans of iteration 0 on a 2-core run."""
    driver = [
        _span(1, 0, -1, "pass.encode", 0, 10, iter=0, cores=2),
        _span(1, 1, 0, "partitioner.plan_partitions", 0, 1, parts=3),
        _span(1, 2, 0, "store.append_blobs", 1, 9),
        _span(1, 3, 0, "store.write_manifest_snapshot", 9, 10),
        _span(1, 4, -1, "pass.decode", 10, 14, iter=0),
        _span(1, 5, 4, "bench.sink", 10, 14),
        _span(1, 6, -1, "pass.pq_write", 14, 15, iter=0),
        _span(1, 7, -1, "pass.pq_read", 15, 16, iter=0),
    ]
    return driver + list(encode_children) + list(decode_children)


def test_worker_spans_link_under_the_driver_job_and_overlap():
    # two workers run kernels side by side inside store.append_blobs
    workers = [
        _span(10, 0, -1, "encode_job.kernel", 2, 6, cpu=3, tokens=100),
        _span(10, 1, 0, "chunk.encode_chunk_paged", 2, 5, col="tokens"),
        _span(10, 2, 1, "cost.trial_pick_scaled", 2, 3),
        _span(10, 3, -1, "encode_job.kernel", 6, 8, cpu=2, tokens=100),
        _span(10, 4, 3, "chunk.encode_chunk_paged", 6, 8, col="tokens"),
        _span(11, 0, -1, "encode_job.kernel", 3, 7, cpu=4, tokens=400),
        _span(11, 1, 0, "chunk.encode_chunk_paged", 3, 7, col="doc_id"),
    ]
    tree = SpanTree(_iteration(workers))
    append = (1, 2)
    assert tree.parent[(10, 0)] == append
    assert tree.parent[(11, 0)] == append
    assert tree.parent[(10, 1)] == (10, 0)
    # kernels cover [2, 8) of the append span [1, 9): 2 s of self time
    assert tree.self_ns(append) == 2 * S

    m, ledger = layer_metrics(_iteration(workers))
    assert m["encode_job.groups"] == 3
    assert m["encode_job.kernel_s"] == pytest.approx(10.0)
    assert m["encode_job.kernel_cpu_s"] == pytest.approx(9.0)
    # 10 kernel-seconds over an 8 s job on 2 cores
    assert m["encode_job.kernel_share"] == pytest.approx(10 / 16)
    assert m["encode_job.outside_s"] == pytest.approx(6.0)
    assert m["partitioner.parts"] == 3
    assert m["partitioner.skew"] == pytest.approx(400 / 200)
    assert m["chunk.encode_calls"] == 3
    assert m["chunk.encode_s.tokens"] == pytest.approx(5.0)
    assert m["chunk.encode_s.doc_id"] == pytest.approx(4.0)
    assert m["cost.pick_s"] == pytest.approx(1.0)
    assert m["cost.pick_calls"] == 1
    assert m["cost.pick_skip_ratio"] == pytest.approx(2 / 3)
    # the pass's topmost engine spans: plan + append + snapshot
    assert m["ledger.encode_stages_s"] == pytest.approx(10.0)
    assert m["ledger.encode_accounted"] == pytest.approx(1.0)
    assert ledger["store.append_blobs"]["self_s"] == pytest.approx(2.0)


def test_decode_columns_follow_the_kernel_request_order():
    workers = [
        _span(10, 0, -1, "decode_job.kernel", 11, 13, cols=["doc_id", "tokens"]),
        _span(10, 1, 0, "chunk.decode_chunk", 11, 11.5),
        _span(10, 2, 0, "chunk.decode_chunk", 11.5, 13),
    ]
    m, _ = layer_metrics(_iteration([], workers))
    assert m["chunk.decode_s.doc_id"] == pytest.approx(0.5)
    assert m["chunk.decode_s.tokens"] == pytest.approx(1.5)
    assert m["decode_job.kernel_share"] == pytest.approx(2 / (4 * 2))


def test_stages_look_through_benchmark_spans_and_count_overlap_once():
    # the sink [10, 14) is the benchmark's own span; the engine ran in two
    # overlapping kernels [11, 13) and [12, 13.5): 2.5 s of the 4 s pass
    workers = [
        _span(10, 0, -1, "decode_job.kernel", 11, 13, cols=["tokens"]),
        _span(11, 0, -1, "decode_job.kernel", 12, 13.5, cols=["tokens"]),
    ]
    m, _ = layer_metrics(_iteration([], workers))
    assert m["ledger.decode_stages_s"] == pytest.approx(2.5)
    assert m["ledger.decode_accounted"] == pytest.approx(2.5 / 4)
    # with no engine span under the sink, nothing is accounted
    m, _ = layer_metrics(_iteration([]))
    assert m["ledger.decode_accounted"] == 0.0


def test_tracer_records_nested_spans_only_while_active():
    tr = Tracer("unused")
    inner = tr.wrap(lambda x: x + 1, "inner")
    outer = tr.wrap(lambda x: inner(x) * 2, "outer")
    assert outer(1) == 4
    assert tr.spans == []
    tr.active = True
    assert outer(1) == 4
    names = {s[3]: s for s in tr.spans}
    assert names["inner"][2] == names["outer"][1]
    assert names["outer"][2] == -1
    assert names["outer"][4] <= names["inner"][4] <= names["inner"][5] \
        <= names["outer"][5]


def test_tracer_closes_spans_when_the_call_raises():
    tr = Tracer("unused")
    tr.active = True

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        tr.wrap(boom, "boom")()
    assert tr.spans[0][5] >= tr.spans[0][4] and tr._stack == []
