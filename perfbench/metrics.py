"""Metric names, units and directions; BENCHMARK.json lists the same.

End-to-end metrics carry the same names on every workload, so each
workload's result holds all of them; what they time and count depends
on the workload:

=========  ================================  ==========================
workload   latency_p50_s / latency_tail_s    items_per_s
=========  ================================  ==========================
ingest     one micro-batch, read to append   messages per second
serve      one routed query                  queries per second
=========  ================================  ==========================

Per-layer metrics come from the traced run (see ``trace.py``).
"""

from __future__ import annotations

from .trace import LAYERS

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("latency_p50_s", "s", "lower"),
    ("latency_tail_s", "s", "lower"),
    ("items_per_s", "1/s", "higher"),
)

_SPAN_METRICS = (
    ("wall_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("task_skew", "ratio", "lower"),
)

_COUNTS = (
    ("suppression.kept_ratio", "ratio", "higher"),
    ("chunking.chunks_per_msg", "count", "lower"),
    ("embed.rows", "count", "lower"),
    ("sink.bytes_per_msg", "B", "lower"),
    ("ann.cells_probed", "count", "lower"),
    ("ivf_index.candidates_per_query", "count", "lower"),
    ("ivf_index.memo_hit_ratio", "ratio", "higher"),
    ("topk.useful_ratio", "ratio", "higher"),
    ("io.rows_scanned_per_query", "count", "lower"),
    ("ivf_index.memo_heal_count", "count", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
)

PER_LAYER = tuple(
    (f"{layer}.{name}", unit, better)
    for layer in LAYERS
    for name, unit, better in _SPAN_METRICS
) + _COUNTS

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
