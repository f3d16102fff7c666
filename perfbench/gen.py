"""Seeded input generator: everything the engine reads comes from here.

Every generator takes the run's ``--seed`` plus a stream index, so the
same seed always yields the same bytes and two seeds never share a
stream.  Each function writes parquet files the engine reads and returns
the ground truth the benchmark checks the engine's outputs against; the
engine itself never sees the truth.

Inputs:

* ``message_batch`` -- one micro-batch of a Signal-shaped message log
  (``schemas.MESSAGE_LOG_SCHEMA``): direct and group messages, 8 %
  control messages from the reference's suppression list, 5 % long
  messages of 600-1500 words (well past the 512-token chunk threshold).
  Every word of a long message carries that message's tag, so each
  output chunk can be traced back to the message it came from.
* ``clustered_vectors`` -- vectors drawn around Gaussian cluster centres.
* ``query_vector`` -- a corpus vector plus small noise.

Where the numbers come from: the control-message share, the long-message
share and word range, the suppression list and the chunk size follow the
reference implementation and the benchmark's definition.  The rest of
the message mix -- short-message length, the group, direction, question
and attachment shares -- is an assumption: the repository holds no real
message log to measure them from and no public source is cited for
them.  Short-message length matters most: short messages are ~87 % of
rows, so ``msgs_per_s`` and batch latency scale with it.  The serve
queries (a corpus vector plus noise) are an assumption too.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference's suppression list (src/signal/process_incoming_message.rs
# lines 107-120), kept here as the benchmark's own copy so that the
# "no control message survives" check does not trust the engine's list.
CONTROL_EXACT = (
    "failed to derive thread from content",
    "Null message (for example deleted)",
    "is calling!",
    "is typing...",
    "got PNI signature message",
    "Empty data message",
    "presage",
    "failed to display desktop notification",
    "Something went wrong!",
)
CONTROL_PREFIXES = (
    "got Delivery receipt",
    "got Read receipt",
    "new story:",
    "receipt for messages sent at",
    "Reacted with ",
)

CONTROL_SHARE = 0.08
LONG_SHARE = 0.05
LONG_WORDS = (600, 1500)
CHUNK_WORDS = 384  # 512 * 3 / 4, the reference's chunk size in words
# assumed, not measured (see the module docstring)
SHORT_WORDS = (1, 40)  # uniform
QUESTION_SHARE = 0.2  # short messages ending in "?"
GROUP_SHARE = 0.4
FROM_SHARE = 0.6  # direction "from" (received) rather than "to"
ATTACHMENT_SHARE = 0.03

# stream ids keep the random streams of different inputs disjoint
_MESSAGES, _CORPUS, _QUERY = 1, 2, 3
_CONTROL, _LONG, _SHORT = 0, 1, 2  # message kinds

_VOCAB = tuple(
    "hey ok thanks see you soon tomorrow lunch meeting call me later sure "
    "sounds good on my way running late did you get the file photo link "
    "where are we meeting what time works for you happy birthday congrats "
    "lol great idea let's do it can't make it sorry busy today weekend plan "
    "dinner movie tickets train bus flight home office".split()
)
_GROUPS = ("family", "book club", "project x", "climbing", "neighbours")

MESSAGE_ARROW_SCHEMA = pa.schema(
    [
        ("direction", pa.string()),
        ("contact", pa.string()),
        ("sender", pa.string()),
        ("group_name", pa.string()),
        ("body", pa.string()),
        ("attachments", pa.list_(pa.string())),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def is_control(body: str) -> bool:
    return body in CONTROL_EXACT or body.startswith(CONTROL_PREFIXES)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _control_body(rng: np.random.Generator) -> str:
    if rng.random() < 0.5:
        return CONTROL_EXACT[rng.integers(len(CONTROL_EXACT))]
    prefix = CONTROL_PREFIXES[rng.integers(len(CONTROL_PREFIXES))]
    return f"{prefix} {int(rng.integers(1_000_000_000))}"


def message_batch(seed: int, batch: int, n_msgs: int, path: str) -> dict:
    """Write one micro-batch to ``path``; return its ground truth:

    * ``n_msgs`` -- messages in the batch;
    * ``kept`` -- messages the suppression filter must keep;
    * ``expected_rows`` -- rows the embeddings table must gain;
    * ``long_chunks`` -- {tag: expected chunk count} per long message.

    Every batch holds the same number of control and of long messages, at
    random positions, so batches differ in content but not in mix.
    """
    rng = _rng(seed, _MESSAGES, batch)
    n_control, n_long = round(n_msgs * CONTROL_SHARE), round(n_msgs * LONG_SHARE)
    kinds = rng.permutation(
        np.repeat([_CONTROL, _LONG, _SHORT], [n_control, n_long, n_msgs - n_control - n_long])
    )
    bodies, long_chunks, kept, expected_rows = [], {}, 0, 0
    for i, kind in enumerate(kinds):
        if kind == _CONTROL:
            bodies.append(_control_body(rng))
            continue
        kept += 1
        if kind == _LONG:
            tag = f"b{batch}m{i}"
            n = int(rng.integers(LONG_WORDS[0], LONG_WORDS[1] + 1))
            ids = rng.integers(0, 10_000, n)
            bodies.append(" ".join(f"{tag}x{w}" for w in ids))
            long_chunks[tag] = -(-n // CHUNK_WORDS)
            expected_rows += long_chunks[tag]
        else:
            n = int(rng.integers(SHORT_WORDS[0], SHORT_WORDS[1] + 1))
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)]
            bodies.append(" ".join(words) + ("?" if rng.random() < QUESTION_SHARE else ""))
            expected_rows += 1
    group = rng.random(n_msgs) < GROUP_SHARE
    uuids = rng.integers(0, 2**48, 64)
    contacts = [f"Contact {j},{uuids[j]:012x}" for j in rng.integers(0, 64, n_msgs)]
    table = pa.table(
        {
            "direction": ["from" if x else "to" for x in rng.random(n_msgs) < FROM_SHARE],
            "contact": contacts,
            "sender": [c.split(",")[1] for c in contacts],
            "group_name": [
                _GROUPS[j] if g else None
                for g, j in zip(group, rng.integers(0, len(_GROUPS), n_msgs))
            ],
            "body": bodies,
            "attachments": [
                [f"IMG_{batch}_{i}.jpg"] if a else []
                for i, a in enumerate(rng.random(n_msgs) < ATTACHMENT_SHARE)
            ],
            "ts": 1_700_000_000_000_000 + batch * 10_000_000_000
            + np.arange(n_msgs, dtype=np.int64) * 1_000_000,
        },
        schema=MESSAGE_ARROW_SCHEMA,
    )
    pq.write_table(table, path)
    return {
        "n_msgs": n_msgs,
        "kept": kept,
        "expected_rows": expected_rows,
        "long_chunks": long_chunks,
    }


def write_vectors(ids: np.ndarray, vecs: np.ndarray, directory: str) -> None:
    """Write ``<directory>/embeddings.parquet`` in the engine's corpus
    layout (vec_id bigint, embedding array<float>)."""
    os.makedirs(directory, exist_ok=True)
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.astype(np.float32).ravel()), vecs.shape[1]
            ).cast(pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, os.path.join(directory, "embeddings.parquet"))


def cluster_centres(seed: int, n_clusters: int, dim: int) -> np.ndarray:
    return _rng(seed, _CORPUS, 0).normal(size=(n_clusters, dim))


def clustered_vectors(
    seed: int, stream: int, centres: np.ndarray, n: int, spread: float
) -> np.ndarray:
    """``n`` float32 vectors around randomly chosen ``centres``."""
    rng = _rng(seed, _CORPUS, 1 + stream)
    labels = rng.integers(0, len(centres), n)
    noise = rng.normal(size=(n, centres.shape[1])) * spread
    return (centres[labels] + noise).astype(np.float32)


def query_vector(seed: int, j: int, near: np.ndarray, noise: float) -> np.ndarray:
    """A query close to ``near`` (a corpus vector), as float64."""
    rng = _rng(seed, _QUERY, j)
    return near.astype(np.float64) + rng.normal(size=near.shape) * noise


def pick(seed: int, stream: int, j: int, n: int) -> int:
    """A reproducible index in ``range(n)`` for draw ``j`` of ``stream``."""
    return int(_rng(seed, _QUERY, stream, j).integers(n))
