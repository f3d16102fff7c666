"""Each check passes the right answer and counts a planted wrong one."""

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen

DIM = 16


def _embed(texts):
    from signal_messenger_vector_database_spark.operators.embed import HashEmbedder

    return HashEmbedder(DIM).embed_batch(texts)


def _reference_output(tmp_path):
    """What a correct ingest of one generated batch appends, built in
    Python: control messages dropped, long messages cut into 384-word
    chunks, everything else one row."""
    path = tmp_path / "batch.parquet"
    truth = gen.message_batch(11, 4, 300, str(path))
    bodies = []
    for b in pq.read_table(path).column("body").to_pylist():
        if gen.is_control(b):
            continue
        words = b.split()
        if len(words) > 384:
            bodies += [" ".join(words[j : j + 384]) for j in range(0, len(words), 384)]
        else:
            bodies.append(b)
    return truth, bodies


def _ingest(truth, bodies, dims=None, sample=None):
    if sample is None:
        sample = list(zip(bodies[:3], _embed(bodies[:3])))
    dims = [DIM] * len(bodies) if dims is None else dims
    return checks.check_ingest(truth, bodies, dims, DIM, sample, _embed)


def test_ingest_check_passes_a_correct_batch(tmp_path):
    truth, bodies = _reference_output(tmp_path)
    assert truth["long_chunks"], "the batch must hold long messages"
    assert _ingest(truth, bodies) == []


def _long_chunk(bodies):
    return next(j for j, b in enumerate(bodies) if checks.LONG_TAG.match(b))


@pytest.mark.parametrize(
    "plant",
    [
        "control_survives",
        "chunk_missing",
        "chunk_duplicated",
        "wrong_embedding",
        "wrong_dims",
    ],
)
def test_ingest_check_counts_planted_errors(tmp_path, plant):
    truth, bodies = _reference_output(tmp_path)
    sample = None
    dims = None
    if plant == "control_survives":
        bodies = bodies[:-1] + ["is typing..."]
    elif plant == "chunk_missing":
        del bodies[_long_chunk(bodies)]
    elif plant == "chunk_duplicated":
        bodies = bodies[:-1] + [bodies[_long_chunk(bodies)]]
    elif plant == "wrong_embedding":
        vecs = _embed(bodies[:3])
        vecs[1] = vecs[2]
        sample = list(zip(bodies[:3], vecs))
    elif plant == "wrong_dims":
        dims = [DIM] * (len(bodies) - 1) + [DIM - 1]
    assert _ingest(truth, bodies, dims, sample)


@pytest.fixture
def corpus():
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(200, 8)).astype(np.float32)
    q = rng.normal(size=8)
    scores = checks.cosine_scores(q, vecs)
    order = sorted(range(200), key=lambda j: (-round(scores[j], 4), j))
    right = [(j, round(float(scores[j]), 4)) for j in order[:10]]
    return vecs, q, right


def _topk(result, corpus):
    vecs, q, _ = corpus
    return checks.check_topk(result, q, dict(enumerate(vecs)).get, 10)


def test_topk_check_passes_a_correct_answer(corpus):
    assert _topk(corpus[2], corpus) == []
    vecs, q, right = corpus
    exact = checks.exact_topk(q, np.arange(len(vecs)), vecs, 10)
    assert checks.recall([i for i, _ in right], exact) == 1.0


@pytest.mark.parametrize(
    "plant",
    ["wrong_score", "unordered", "too_few", "unknown_id", "duplicate"],
)
def test_topk_check_counts_planted_errors(corpus, plant):
    result = list(corpus[2])
    if plant == "wrong_score":
        result[3] = (result[3][0], result[3][1] + 0.01)
    elif plant == "unordered":
        result[0], result[1] = result[1], result[0]
    elif plant == "too_few":
        result = result[:9]
    elif plant == "unknown_id":
        result[9] = (999, result[9][1])
    elif plant == "duplicate":
        result[9] = result[8]
    assert _topk(result, corpus)


def test_ties_are_ordered_by_id():
    assert checks.check_topk(
        [(3, 0.5), (1, 0.5)], np.ones(2), {1: np.ones(2), 3: np.ones(2)}.get, 2
    )
