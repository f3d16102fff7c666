"""Span arithmetic, per-layer aggregation, tail rule and spec parity."""

import json
import os

import pytest

from perfbench import metrics, run
from perfbench.trace import Span, layer_metrics, self_times


def _tree():
    # root 0-10 with children A 1-4 (grandchild 2-3), B 3.5-6 (overlaps
    # A), C 9-12 (runs past the root's end and is clipped to it)
    return [
        Span("op", "q1", None, 0.0, 10.0),
        Span("ann", "q1", 0, 1.0, 4.0),
        Span("probe", "q1", 1, 2.0, 3.0),
        Span("ivf_index", "q1", 0, 3.5, 6.0),
        Span("topk", "q1", 0, 9.0, 12.0),
    ]


def test_self_time_subtracts_the_union_of_children():
    assert self_times(_tree()) == pytest.approx([4.0, 2.0, 1.0, 2.5, 3.0])


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([Span("io", "r", None, 2.0, 2.75)]) == [0.75]


def test_layer_metrics_average_per_operation_and_per_setup():
    spans = _tree() + [
        Span("op", "setup-0", None, 0.0, 5.0),
        Span("session", "setup-0", 5, 0.0, 4.0),
        Span("op", "q2", None, 20.0, 21.0),
        Span("ann", "q2", 7, 20.0, 21.0),
    ]
    spans[1].spark = {"task_s": 2.0, "jobs": 3, "tasks": 4,
                      "stage_skew": [(3.0, 2.0), (1.0, 6.0)]}
    spans[8].spark = {"task_s": 1.0, "jobs": 1, "tasks": 2}
    m = layer_metrics(spans, n_ops=2, n_setups=1)
    assert m["ann.wall_s"] == pytest.approx((2.0 + 1.0) / 2)
    assert m["ann.task_s"] == pytest.approx(1.5)
    assert m["ann.jobs"] == pytest.approx(2.0)
    assert m["ann.task_skew"] == pytest.approx((3.0 * 2.0 + 1.0 * 6.0) / 4.0)
    assert m["session.wall_s"] == pytest.approx(4.0)
    assert m["embed.wall_s"] == 0.0 and m["embed.task_skew"] == 0.0


def test_tail_is_the_eleventh_largest_sample():
    values = [float(v) for v in range(1, 41)]
    assert run.tail(values) == (30.0, 0.75)
    assert run.tail(values[:20]) == (10.5, 0.5)


def test_benchmark_json_matches_the_metric_definitions():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]]
    per_layer = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    assert e2e == list(metrics.END_TO_END)
    assert per_layer == list(metrics.PER_LAYER)


class _Counting:
    """A workload whose operations take 0.5 s each and record their index."""

    def __init__(self):
        self.seen = []

    def op(self, spark, i):
        from perfbench.workloads import OpResult

        self.seen.append(i)
        return OpResult(0.5, 1)


def test_timed_inputs_do_not_depend_on_the_burn_in():
    from perfbench.trace import Tracer
    from perfbench.workloads import BURN_IN_OFFSET

    wl = _Counting()
    burn_in, _ = run._loop(wl, None, Tracer(), BURN_IN_OFFSET, 2.0, False)
    timed, traced = run._loop(wl, None, Tracer(), 0, 1.0, False, min_ops=4)
    assert len(burn_in) == 4 and wl.seen[:4] == list(range(BURN_IN_OFFSET, BURN_IN_OFFSET + 4))
    # the summed latency reaches 1 s after 2 operations; min_ops asks for 4
    assert wl.seen[4:] == [0, 1, 2, 3] and len(timed) == 4 and traced == []
