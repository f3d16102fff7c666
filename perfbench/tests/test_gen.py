"""The generator is a pure function of the seed."""

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def _batch(tmp_path, seed, batch=3, n=400, tag=""):
    path = tmp_path / f"s{seed}-b{batch}{tag}.parquet"
    truth = gen.message_batch(seed, batch, n, str(path))
    return pq.read_table(path), truth


def test_same_seed_same_inputs_other_seed_different(tmp_path):
    t1, truth1 = _batch(tmp_path, 7)
    t2, truth2 = _batch(tmp_path, 7, tag="-again")
    t3, truth3 = _batch(tmp_path, 8)
    assert t1.equals(t2) and truth1 == truth2
    assert not t1.equals(t3) and truth1 != truth3

    c1 = gen.clustered_vectors(7, 0, gen.cluster_centres(7, 8, 16), 100, 0.35)
    c2 = gen.clustered_vectors(7, 0, gen.cluster_centres(7, 8, 16), 100, 0.35)
    c3 = gen.clustered_vectors(8, 0, gen.cluster_centres(8, 8, 16), 100, 0.35)
    assert np.array_equal(c1, c2) and not np.array_equal(c1, c3)

    q = [gen.query_vector(s, 4, c1[0], 0.1) for s in (7, 7, 8)]
    assert np.array_equal(q[0], q[1]) and not np.array_equal(q[0], q[2])


def test_streams_of_one_seed_differ(tmp_path):
    t1, _ = _batch(tmp_path, 7, batch=1)
    t2, _ = _batch(tmp_path, 7, batch=2)
    assert t1.column("body") != t2.column("body")


def test_message_mix(tmp_path):
    table, truth = _batch(tmp_path, 5, n=4000)
    bodies = table.column("body").to_pylist()
    # every batch holds exactly its share of control and long messages
    assert sum(gen.is_control(b) for b in bodies) == 4000 * gen.CONTROL_SHARE
    assert len(truth["long_chunks"]) == 4000 * gen.LONG_SHARE
    longs = [b for b in bodies if b.startswith("b3m")]
    assert min(len(b.split()) for b in longs) >= gen.LONG_WORDS[0] > 512
    assert truth["kept"] == len(bodies) - sum(gen.is_control(b) for b in bodies)
    groups = table.column("group_name").to_pylist()
    assert 0 < sum(g is None for g in groups) < len(groups)


def test_control_list_matches_the_engine():
    from signal_messenger_vector_database_spark.operators import suppression

    assert gen.CONTROL_EXACT == suppression.SUPPRESSED_EXACT
    assert gen.CONTROL_PREFIXES == suppression.SUPPRESSED_PREFIXES
