"""Aggregated query catalog: every implemented operator from SURVEY §2.

``__spark_entry__.py`` (the driver contract) is a thin adapter over this.

Ordering contract: the driver verifies only the FIRST 50 entries of
``queries()`` against their DuckDB oracles each round, so insertion order
is a verification budget.  ``_WINDOW`` below pins this round's priority
list (see its comment block); everything else follows in catalog order,
with oracle-less entries (which can never turn green) sorted to the tail.
"""

from __future__ import annotations

import importlib

from .registry import QuerySpec

# Every plan module contributes SPECS.  A missing module or a duplicate
# query name is a hard error: silently skipping one would silently shrink
# the catalog and its oracles (ADVICE r1).
_MODULES = (
    "pipeline",
    "relational",
    "similarity",
    "textanalysis",
    "streaming_queries",
    "multimodal",
    "advanced",
    "analytics",
    "mllib_lsh",
    "tpch",
    "traindata",
    "olap",
    "vectorops",
    "scale_queries",
    "formats",
    "retrieval",
    "retrieval_eval",
    "pq_trained",
    "ivfpq_clustered",
    "stats",
    "graph",
)

# Round-17 verification window — GENERATED by tools/window_rotate.py:
#
#   python tools/window_rotate.py \
#       --changed=dsir_weights,dup_substring_spans,boilerplate_strip,\
#                 pq_operating_point,ivf_pq_operating_curve,\
#                 ivf_pq_clustered_curve,ivf_recall_clustered,\
#                 topk_ivf_pq_trained,curation_pipeline,curation_attrition,\
#                 topk_ivf_pq
#
# Input state (CORRECTNESS_r01-r16 latest-round histogram over paired
# entries): r10:9 r11:50 r12:50 r13:50 r14:47 r16:50.  Slots: the ten
# queries r16 rewrote (none has a post-change driver row yet), then
# topk_ivf_pq — the bench-retired query whose latest driver row is
# r13, due under the every-third-round retiree rule — then the
# freshness backlog stalest-first: the six r10 entries r15's window
# had no room for (three more are among the rewritten ten), and 33 of
# the 50 r11 entries.  The remaining 17 r11 entries lead the next
# round's stale queue
# (test_window_rotate_matches_pinned_window is the regeneration
# check).  All 50 names swept green at sf0.01 with final code before
# pinning.
_WINDOW = [
    "dsir_weights",
    "dup_substring_spans",
    "boilerplate_strip",
    "pq_operating_point",
    "ivf_pq_operating_curve",
    "ivf_pq_clustered_curve",
    "ivf_recall_clustered",
    "topk_ivf_pq_trained",
    "curation_pipeline",
    "curation_attrition",
    "topk_ivf_pq",
    "length_buckets",
    "embedding_centroids",
    "kmeans_assign",
    "semdedup",
    "semdedup_uncapped",
    "semdedup_capped",
    "shingle_containment",
    "bitext_margin_pairs",
    "char_entropy",
    "stream_dedup_watermark",
    "stream_stream_join",
    "lateral_topk",
    "first_touch_attribution",
    "assoc_rules",
    "feature_hashing",
    "incremental_new_docs",
    "chunk_overlap",
    "price_histogram",
    "scd2_intervals",
    "ewma_per_user",
    "kmeans_fit_assign",
    "embedding_quantize_int8",
    "topk_cosine_int8",
    "embedding_covariance",
    "random_projection",
    "kmeans_lloyd3",
    "skew_salted_join",
    "upsert_latest",
    "interval_join_binned",
    "range_partition_bounds",
    "zorder_key",
    "csv_roundtrip",
    "jsonl_roundtrip",
    "orc_roundtrip",
    "schema_evolution",
    "pyds_scan",
    "bm25_topk",
    "hybrid_rrf",
    "inverted_index",
]


def all_specs() -> dict[str, QuerySpec]:
    merged: dict[str, QuerySpec] = {}
    for module_name in _MODULES:
        m = importlib.import_module(f".{module_name}", __package__)
        overlap = merged.keys() & m.SPECS.keys()
        if overlap:
            raise ValueError(
                f"duplicate query names in {module_name}: {sorted(overlap)}"
            )
        merged.update(m.SPECS)

    missing = [n for n in _WINDOW if n not in merged]
    if missing:
        raise ValueError(f"_WINDOW names not in catalog: {missing}")
    if len(_WINDOW) != len(set(_WINDOW)):
        raise ValueError("_WINDOW contains duplicates")

    window = {n: merged[n] for n in _WINDOW}
    rest_oracle = {
        n: s for n, s in merged.items() if n not in window and s.oracle is not None
    }
    rest_bare = {
        n: s for n, s in merged.items() if n not in window and s.oracle is None
    }
    return {**window, **rest_oracle, **rest_bare}
