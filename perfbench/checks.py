"""Correctness checks, one call per operation.

Each check returns a list of failure descriptions; an empty list means
the operation's output is correct.  A failed check counts the operation
as failed in ``failed_ops_ratio``.  The checks see only collected
outputs and the generator's ground truth, so they run in plain Python.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Callable, Sequence

import numpy as np

from .gen import is_control

LONG_TAG = re.compile(r"(b\d+m\d+)x\d+")
SCORE_DIGITS = 4  # the engine rounds similarities to 4 digits
_SCORE_TOL = 10.0**-SCORE_DIGITS + 1e-9  # one rounding step


def check_ingest(
    truth: dict,
    bodies: Sequence[str],
    dims: Sequence[int],
    dim: int,
    sample: Sequence[tuple[str, np.ndarray]],
    embed: Callable[[list[str]], np.ndarray],
) -> list[str]:
    """One micro-batch of the write path.

    ``bodies`` and ``dims`` cover every row the batch appended;
    ``sample`` holds (body, stored embedding) pairs whose embedding is
    recomputed with ``embed``."""
    bad = []
    if len(bodies) != truth["expected_rows"]:
        bad.append(f"rows {len(bodies)} != expected {truth['expected_rows']}")
    survivors = [b for b in bodies if is_control(b)]
    if survivors:
        bad.append(f"{len(survivors)} control messages survived: {survivors[0]!r}")
    chunks = Counter()
    for b in bodies:
        m = LONG_TAG.match(b)
        if m:
            chunks[m.group(1)] += 1
    if dict(chunks) != truth["long_chunks"]:
        wrong = sorted(
            t for t in set(chunks) | set(truth["long_chunks"])
            if chunks.get(t) != truth["long_chunks"].get(t)
        )
        bad.append(f"chunk counts wrong for {len(wrong)} long messages, e.g. {wrong[0]}")
    if any(d != dim for d in dims):
        bad.append(f"embedding dims {sorted(set(dims))} != {dim}")
    if sample:
        want = embed([b for b, _ in sample])
        for (b, got), w in zip(sample, want):
            if len(got) != len(w) or not np.allclose(got, w, rtol=0, atol=1e-6):
                bad.append(f"embedding of {b[:40]!r} differs from the recomputed one")
    return bad


def cosine_scores(query: np.ndarray, vecs: np.ndarray) -> np.ndarray:
    """Exact cosine similarity of ``query`` to each row of ``vecs`` in
    float64, the engine's arithmetic."""
    v = vecs.astype(np.float64)
    q = query.astype(np.float64)
    return (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))


def check_topk(
    result: Sequence[tuple[int, float]],
    query: np.ndarray,
    lookup: Callable[[int], np.ndarray | None],
    k: int,
) -> list[str]:
    """One routed top-k query: ``result`` is [(id, rounded cosine)] as
    returned; ``lookup(id)`` is the vector of a corpus id, None for an
    unknown id.  It must hold ``k`` distinct corpus ids, each scored as
    numpy scores it, ordered by score descending then id ascending."""
    bad = []
    if len(result) != k:
        bad.append(f"{len(result)} results, expected {k}")
    ids = [int(i) for i, _ in result]
    if len(set(ids)) != len(ids):
        bad.append("duplicate ids in result")
    for i, s in result:
        v = lookup(int(i))
        if v is None:
            bad.append(f"id {i} is not in the corpus")
            continue
        want = round(float(cosine_scores(query, v[None, :])[0]), SCORE_DIGITS)
        if abs(float(s) - want) > _SCORE_TOL:
            bad.append(f"id {i} scored {s}, numpy says {want}")
    keys = [(-float(s), int(i)) for i, s in result]
    if keys != sorted(keys):
        bad.append("results are not ordered by (score desc, id asc)")
    return bad


def exact_topk(query: np.ndarray, ids: np.ndarray, vecs: np.ndarray, k: int) -> set[int]:
    """Ids of the exact top-k by cosine (numpy, float64)."""
    scores = cosine_scores(query, vecs)
    top = np.argpartition(-scores, k - 1)[:k] if len(scores) > k else np.arange(len(scores))
    return {int(ids[j]) for j in top}


def recall(result_ids: Sequence[int], exact: set[int]) -> float:
    return len({int(i) for i in result_ids} & exact) / max(1, len(exact))
