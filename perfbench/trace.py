"""Spans around the benchmark's calls into each engine layer.

A span records (layer, start, end, parent, request id).  A layer's self
time is its span's duration minus the part of that interval its child
spans cover.  Each span also runs under its own Spark job group, so the
jobs, tasks, task time, shuffle and spill bytes of the jobs launched
while it was the innermost open span are read back from Spark's status
store and charged to it.

Spark evaluates lazily: building a layer's DataFrame runs nothing, and
all the work would land in whichever span runs the final action.  The
traced run therefore materializes each layer's output inside the
layer's span (``materialize``: persist + count), so the layer's jobs run
there.  That extra work, and the spans themselves, are the tracing
overhead the traced run reports against interleaved untraced
operations.  The untraced run uses the same code with tracing disabled:
``span`` and ``patch`` do nothing and ``materialize`` returns its input.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass, field

LAYERS = (
    "session", "io", "suppression", "chunking", "embed", "sink",
    "ann", "ivf_index", "topk",
)


@dataclass
class Span:
    layer: str
    request: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    spark: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus the union of its
    children's intervals, each clipped to the span."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_end = 0.0, s.start
        for a, b in sorted(children.get(i, ())):
            a, b = max(a, cur_end), min(b, s.end)
            if b > a:
                covered += b - a
                cur_end = b
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """Records spans while ``enabled``; otherwise every method is a
    pass-through, so traced and untraced operations share one code path."""

    def __init__(self):
        self.sc = None  # the live SparkContext, set by the caller
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._persisted: list = []
        self._request = ""

    @contextlib.contextmanager
    def request(self, request_id: str):
        """Root span of one operation; layer spans opened inside are its
        descendants and share its request id."""
        self._request = request_id
        try:
            with self.span("op"):
                yield
        finally:
            for df in self._persisted:
                df.unpersist(blocking=True)
            self._persisted.clear()

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{idx}"
        self.spans.append(Span(layer, self._request, parent, 0.0, group=group))
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(group, layer)
        self.spans[idx].start = time.perf_counter()
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None and self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]].group, "")
            elif self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def materialize(self, df):
        """Run ``df`` inside the current span and return (df, row count);
        untraced, return (df, None) and run nothing."""
        if not self.enabled:
            return df, None
        df = df.persist()
        self._persisted.append(df)
        return df, df.count()

    @contextlib.contextmanager
    def patch(self, module, name: str, layer: str, on_rows=None):
        """While open, calls to ``module.name`` run in a ``layer`` span
        with their result materialized; ``on_rows(n)`` receives its row
        count.  Does nothing when tracing is off."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, name)

        def traced(*args, **kwargs):
            with self.span(layer):
                out, n = self.materialize(orig(*args, **kwargs))
                if on_rows is not None:
                    on_rows(n)
            return out

        setattr(module, name, traced)
        try:
            yield
        finally:
            setattr(module, name, orig)

    def read_spark_metrics(self, first: int = 0) -> None:
        """Attach Spark job metrics to spans[first:] (call after the
        operation, outside its timing)."""
        if self.sc is None or first >= len(self.spans):
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans[first:]:
            s.spark = _group_metrics(store, tracker, s.group)


def _group_metrics(store, tracker, group: str) -> dict:
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        it = store.job(j).stageIds().iterator()
        while it.hasNext():
            stage_ids.add(it.next())
    m = {"jobs": len(jobs), "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
         "spill_bytes": 0, "input_records": 0, "stage_skew": []}
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        m["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        m["input_records"] += sd.inputRecords()
        times = []
        it = store.taskList(sid, sd.attemptId(), 100000).iterator()
        while it.hasNext():
            tm = it.next().taskMetrics()
            if tm.isDefined():
                times.append(tm.get().executorRunTime() / 1000.0)
        m["tasks"] += len(times)
        m["task_s"] += sum(times)
        if len(times) >= 2 and statistics.median(times) > 0:
            m["stage_skew"].append((sum(times), max(times) / statistics.median(times)))
    return m


def layer_metrics(spans: list[Span], n_ops: int, n_setups: int) -> dict[str, float]:
    """Per-layer metrics from the traced run's spans: totals per
    operation (per set-up for ``session``, whose only spans are the
    session starts in set-up).  ``task_skew`` is max over median task
    time per stage, averaged over the layer's stages weighted by their
    task time."""
    selfs = self_times(spans)
    acc = {
        layer: {"wall_s": 0.0, "task_s": 0.0, "jobs": 0, "tasks": 0,
                "shuffle_bytes": 0, "spill_bytes": 0, "skew": []}
        for layer in LAYERS
    }
    for s, own in zip(spans, selfs):
        setup = s.request.startswith("setup")
        if s.layer not in acc or setup != (s.layer == "session"):
            continue
        a = acc[s.layer]
        a["wall_s"] += own
        for key in ("task_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes"):
            a[key] += s.spark.get(key, 0)
        a["skew"] += s.spark.get("stage_skew", [])
    out = {}
    for layer, a in acc.items():
        per = max(1, n_setups if layer == "session" else n_ops)
        for key in ("wall_s", "task_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes"):
            out[f"{layer}.{key}"] = a[key] / per
        weight = sum(w for w, _ in a["skew"])
        out[f"{layer}.task_skew"] = (
            sum(w * k for w, k in a["skew"]) / weight if weight > 0 else 0.0
        )
    return out


def input_records(spans: list[Span], layer: str) -> int:
    return sum(s.spark.get("input_records", 0) for s in spans if s.layer == layer)
