"""Tests for the build-once shared IVF assignment
(operators/ivf_index.py): cache-path results must be bit-identical to
the inline path, the cache must be corpus- and geometry-keyed, and the
second consumer must READ instead of rebuilding."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _load(spark):
    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        scaled_cluster_count,
    )

    n = parquet_row_count(SF, "embeddings")
    k = scaled_cluster_count(n)
    return load_table(spark, SF, "embeddings"), n, k, hier_super_count(k)


def test_cached_assignment_bit_identical_to_inline(spark, tmp_path, monkeypatch):
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|{n}"

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    inline = shared_hier_assignment(spark, emb, token, k, ns)
    inline_rows = {r.vec_id: r.cid for r in inline.collect()}

    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))
    cached = shared_hier_assignment(spark, emb, token, k, ns)
    cached_rows = {r.vec_id: r.cid for r in cached.collect()}

    assert inline_rows == cached_rows
    assert len(inline_rows) == n
    # schema parity: same column names and integral types
    assert cached.columns == ["vec_id", "cid"]


def test_cache_is_corpus_and_geometry_keyed(spark, tmp_path, monkeypatch):
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    emb, n, k, ns = _load(spark)
    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))

    shared_hier_assignment(spark, emb, f"{SF}/embeddings|{n}", k, ns).count()
    dirs = set(os.listdir(tmp_path))
    assert len(dirs) == 1

    # a different corpus token or geometry must MISS to a fresh build,
    # never read the stale index
    shared_hier_assignment(spark, emb, f"{SF}/embeddings|{n + 1}", k, ns).count()
    shared_hier_assignment(spark, emb, f"{SF}/embeddings|{n}", k, ns + 1).count()
    assert len(set(os.listdir(tmp_path))) == 3


def test_second_consumer_reads_not_rebuilds(spark, tmp_path, monkeypatch):
    """After the first build, a second call must come back as a plain
    parquet scan (no groupBy/aggregate stages from the two-level
    assignment in the plan)."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    emb, n, k, ns = _load(spark)
    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))
    token = f"{SF}/embeddings|{n}"

    shared_hier_assignment(spark, emb, token, k, ns).count()
    second = shared_hier_assignment(spark, emb, token, k, ns)
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "Join" not in plan
    assert "Scan parquet" in plan or "FileScan" in plan


def test_cached_pq_parts_bit_identical_to_inline(spark, tmp_path, monkeypatch):
    """The trained-PQ cache must return the identical final assignment
    and codebooks as the inline Lloyd build (ints and 1e-4-grid doubles
    round-trip parquet exactly)."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_pq_parts,
    )
    from signal_messenger_vector_database_spark.plans.pq_trained import (
        _OPD,
        _OPM,
        pq_sub_rows,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    subs = pq_sub_rows(emb, _OPM, _OPD).localCheckpoint(eager=False)

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    af_i, cb_i = shared_pq_parts(spark, subs, "t", _OPD, 16, 1)
    af_inline = {(r.vec_id, r.sub_j): r.code for r in af_i.collect()}
    cb_inline = {(r.sub_j, r.code): list(r.cw) for r in cb_i.collect()}

    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))
    af_c, cb_c = shared_pq_parts(spark, subs, "t", _OPD, 16, 1)
    assert {(r.vec_id, r.sub_j): r.code for r in af_c.collect()} == af_inline
    assert {(r.sub_j, r.code): list(r.cw) for r in cb_c.collect()} == cb_inline
    # second call reads, never retrains
    af_c2, _ = shared_pq_parts(spark, subs, "t", _OPD, 16, 1)
    plan = af_c2._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan
    assert "Scan parquet" in plan or "FileScan" in plan


def test_content_change_misses_cache(spark, tmp_path, monkeypatch):
    """ADVICE r11 (medium): an in-place corpus content change that
    preserves row count must MISS the cache (file mtime/size stamp),
    never serve a stale assignment."""
    import shutil

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    src = corpus / "embeddings.parquet"
    shutil.copyfile(f"{SF}/embeddings.parquet", src)
    cache = tmp_path / "cache"
    cache.mkdir()
    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(cache))

    emb, n, k, ns = _load(spark)
    token = f"{corpus}/embeddings|{n}"
    shared_hier_assignment(spark, emb, token, k, ns).count()
    assert len(os.listdir(cache)) == 1

    # same path, same row count, same byte size — later mtime (an
    # in-place update): the key must change
    os.utime(src, ns=(os.stat(src).st_mtime_ns + 10**9,) * 2)
    shared_hier_assignment(spark, emb, token, k, ns).count()
    assert len(os.listdir(cache)) == 2


def test_delta_assignment_bit_identical_to_inline_full(
    spark, tmp_path, monkeypatch
):
    """shared_hier_assignment_delta parity (VERDICT r11 #2): the cached
    path (base index read/built once + delta-only assignment appended)
    must be bit-identical to the inline full assignment of base UNION
    delta at base geometry — and the base part must ride the SAME cache
    entry as shared_hier_assignment(base)."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
        shared_hier_assignment_delta,
    )

    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    bt, dt = f"{SF}/embeddings|base|{cut}", f"{SF}/embeddings|delta|{n - cut}"

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    inline = shared_hier_assignment_delta(spark, base, delta, bt, dt, k, ns)
    inline_rows = {r.vec_id: r.cid for r in inline.collect()}
    assert len(inline_rows) == n

    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))
    # pre-build the base index the way a plain consumer would
    shared_hier_assignment(spark, base, bt, k, ns).count()
    n_entries = len(os.listdir(tmp_path))
    cached = shared_hier_assignment_delta(spark, base, delta, bt, dt, k, ns)
    cached_rows = {r.vec_id: r.cid for r in cached.collect()}
    assert cached_rows == inline_rows
    # exactly ONE new cache entry (the delta) — the base part was reused
    assert len(os.listdir(tmp_path)) == n_entries + 1
    names = os.listdir(tmp_path)
    assert sum(1 for x in names if x.startswith("hier_delta_")) == 1


def test_delta_assignment_second_read_is_scan_only(
    spark, tmp_path, monkeypatch
):
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment_delta,
    )

    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    bt, dt = f"{SF}/embeddings|base|{cut}", f"{SF}/embeddings|delta|{n - cut}"
    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))
    shared_hier_assignment_delta(spark, base, delta, bt, dt, k, ns).count()
    second = shared_hier_assignment_delta(spark, base, delta, bt, dt, k, ns)
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "Join" not in plan
    assert "Scan parquet" in plan or "FileScan" in plan


def test_delta_assign_query_degenerate_small_corpus(spark, tmp_path):
    """r12 adversarial review: a corpus of <= 50 rows makes the
    'incoming batch' convention consume everything — the un-clamped cut
    left an EMPTY base (Spark emitted NULL cids, the oracle zero rows).
    The clamp keeps a 1-row base on BOTH engines; this planted 40-row
    corpus pins their parity on that degenerate arm (the fixtures'
    smallest scale is 500 rows, so no sweep reaches it)."""
    import duckdb

    from signal_messenger_vector_database_spark.plans.catalog import all_specs
    from signal_messenger_vector_database_spark.plans.registry import (
        resolve_oracle,
    )

    rows = [
        (i, [float((7 * i + d) % 13) / 13.0 for d in range(8)], 0)
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    spec = all_specs()["ivf_delta_assign"]
    got = {
        (r.vec_id, r.cid, r.n_delta_in_cell)
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    assert got and all(cid is not None for _, cid, _ in got)

    con = duckdb.connect()
    con.execute(  # Spark writes a parquet DIRECTORY; glob its parts
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    want = {
        (r[0], r[1], r[2])
        for r in con.execute(resolve_oracle("ivf_delta_assign", spec)).fetchall()
    }
    assert got == want
    assert len(got) == 39  # everything but the 1-row clamped base


def test_session_memo_reuses_and_is_bit_identical(spark, monkeypatch):
    """r12 session-memo tier: with no cache dir, the second consumer of
    the same (token, geometry) key in one session gets the SAME
    checkpointed frame (no retrain), and SMVD_IVF_MEMO=0 restores the
    per-call recompute the scaling probes measure."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|memo-test|{n}"
    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)

    first = shared_hier_assignment(spark, emb, token, k, ns)
    second = shared_hier_assignment(spark, emb, token, k, ns)
    assert second is first  # memo hit: the very same frame
    rows = {r.vec_id: r.cid for r in second.collect()}
    assert len(rows) == n

    # memo-off: a fresh plan per call (the probe's inline baseline)
    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    fresh = shared_hier_assignment(spark, emb, token, k, ns)
    assert fresh is not first
    assert {r.vec_id: r.cid for r in fresh.collect()} == rows


def test_session_memo_is_key_and_content_sensitive(spark, tmp_path, monkeypatch):
    """A different token or geometry must miss the memo, and an
    in-place corpus file change mid-session must too (same file-stat
    stamp discipline as the disk key), REPLACING the superseded entry
    rather than accumulating it (one live entry per family)."""
    import shutil

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    t1 = f"{SF}/embeddings|memo-key|{n}"
    a = shared_hier_assignment(spark, emb, t1, k, ns)
    assert shared_hier_assignment(spark, emb, t1, k, ns + 1) is not a
    assert shared_hier_assignment(spark, emb, t1 + "x", k, ns) is not a

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    src = corpus / "embeddings.parquet"
    shutil.copyfile(f"{SF}/embeddings.parquet", src)
    t2 = f"{corpus}/embeddings|{n}"
    from signal_messenger_vector_database_spark.operators import ivf_index

    b = shared_hier_assignment(spark, emb, t2, k, ns)
    assert shared_hier_assignment(spark, emb, t2, k, ns) is b
    n_fams = len(ivf_index._SESSION_MEMO[spark])
    os.utime(src, ns=(os.stat(src).st_mtime_ns + 10**9,) * 2)
    c = shared_hier_assignment(spark, emb, t2, k, ns)
    assert c is not b
    # the stale entry was SUPERSEDED in place, not accumulated — the
    # family count is unchanged and the live value is the new frame
    assert len(ivf_index._SESSION_MEMO[spark]) == n_fams
    fam = next(
        f for f in ivf_index._SESSION_MEMO[spark] if f[1] == t2
    )
    assert ivf_index._SESSION_MEMO[spark][fam][2] is c


def test_session_memo_purges_stopped_sessions(spark, monkeypatch):
    """The memoized frames strongly reference their session, so weak
    collection alone can never fire (r12 code review): a session whose
    context reports stopped must be PURGED on the next seam access."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    class _StoppedCtx:
        _jsc = None

    class _FakeSession:
        sparkContext = _StoppedCtx()

    fake = _FakeSession()
    ivf_index._SESSION_MEMO[fake] = {("hier", "zombie"): ("stamp", object())}
    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    shared_hier_assignment_call = ivf_index.shared_hier_assignment
    shared_hier_assignment_call(
        spark, emb, f"{SF}/embeddings|purge-test|{n}", k, ns
    )
    assert fake not in ivf_index._SESSION_MEMO  # zombie purged
    assert spark in ivf_index._SESSION_MEMO  # live session kept


def test_session_memo_pq_parts(spark, monkeypatch):
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_pq_parts,
    )
    from signal_messenger_vector_database_spark.plans.pq_trained import (
        _OPD,
        _OPM,
        pq_sub_rows,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    subs = pq_sub_rows(emb, _OPM, _OPD).localCheckpoint(eager=False)
    af1, cb1 = shared_pq_parts(spark, subs, "memo-pq", _OPD, 16, 1)
    af2, cb2 = shared_pq_parts(spark, subs, "memo-pq", _OPD, 16, 1)
    assert af2 is af1 and cb2 is cb1
    # k=16 codewords per subspace x _OPM subspaces
    assert af1.count() > 0 and cb1.count() == 16 * _OPM


def test_maintain_policy_composes_delta_and_flags(spark, monkeypatch):
    """ivf_index.maintain (r12): assignment == the delta path,
    per-cell accounting matches an independent Python recompute of the
    exact-integer ivf_maintenance rules with the operator's contract
    (duplicate delete-log ids deduplicated; same-cycle insert+delete
    counts TOMB), and the rebuild decision is DENOM * n_flagged > the
    CONFIGURED k."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        _REBUILD_DENOM,
        maintain,
        shared_hier_assignment_delta,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    # planted delete log: every 37th base id, PLUS one delta id (a
    # same-cycle insert+delete), PLUS the whole thing duplicated (an
    # at-least-once log repeats entries)
    tombs1 = base.select("vec_id").filter(F.col("vec_id") % 37 == 5)
    tombs = tombs1.unionAll(
        delta.select("vec_id").filter(F.col("vec_id") == cut)
    ).unionAll(tombs1)
    bt = f"{SF}/embeddings|mt-base|{cut}"
    dt = f"{SF}/embeddings|mt-delta|{n - cut}"

    out = maintain(spark, base, delta, bt, dt, k, ns, tombstones=tombs)
    got_assign = {r.vec_id: r.cid for r in out["assignment"].collect()}
    # want computed with the memo OFF — otherwise this collects the
    # very frame maintain memoized and the parity check is vacuous
    # (r12 code review)
    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    want_assign = {
        r.vec_id: r.cid
        for r in shared_hier_assignment_delta(
            spark, base, delta, bt, dt, k, ns
        ).collect()
    }
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    assert got_assign == want_assign and len(got_assign) == n

    # independent recompute of the accounting + flags in plain Python
    from collections import defaultdict

    st = {}
    for vid, cid in got_assign.items():
        if vid % 37 == 5 and vid < cut or vid == cut:
            s = "tomb"  # tomb wins over new for the same-cycle id
        elif vid >= cut:
            s = "new"
        else:
            s = "live"
        st[vid] = (cid, s)
    counts = defaultdict(lambda: [0, 0, 0])  # live, tomb, new
    for cid, s in st.values():
        counts[cid][("live", "tomb", "new").index(s)] += 1
    total = sum(c[0] + c[2] for c in counts.values())
    kk = len(counts)  # non-empty cells: the split rule's mean
    want_cells = {
        cid: (
            c[0],
            c[1],
            c[2],
            10 * (c[0] + c[2]) * kk > 11 * total,
            50 * c[0] < 49 * (c[0] + c[1]),
        )
        for cid, c in counts.items()
    }
    got_cells = {
        r.cid: (r.n_live, r.n_tomb, r.n_new, r.needs_split, r.needs_compact)
        for r in out["cells"].collect()
    }
    assert got_cells == want_cells
    # the accounting must balance: every assigned row counted once
    assert sum(sum(c) for c in counts.values()) == n

    n_flagged = sum(1 for c in want_cells.values() if c[3] or c[4])
    drow = out["decision"].collect()
    assert len(drow) == 1
    # the decision denominator is the CONFIGURED k, not non-empty cells
    assert drow[0].k == k and drow[0].n_flagged == n_flagged
    assert drow[0].rebuild_recommended == (
        _REBUILD_DENOM * n_flagged > k
    )


def test_maintain_without_tombstones(spark, monkeypatch):
    """No delete log: n_tomb must be 0 everywhere and live+new == n."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    out = maintain(
        spark,
        emb.filter(F.col("vec_id") < cut),
        emb.filter(F.col("vec_id") >= cut),
        f"{SF}/embeddings|mt2-base|{cut}",
        f"{SF}/embeddings|mt2-delta|{n - cut}",
        k,
        ns,
    )
    rows = out["cells"].collect()
    assert all(r.n_tomb == 0 for r in rows)
    assert sum(r.n_live + r.n_new for r in rows) == n


def test_maintain_empty_corpus_decision_is_total(spark, monkeypatch):
    """A cycle before first ingest (empty base+delta) must yield a
    TOTAL decision row — (k, 0, False), never NULLs (the SUM over an
    empty cells frame is NULL without the coalesce; r12 code review)."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = maintain(spark, empty, empty, "e|base|0", "e|delta|0", 1, 1)
    row = out["decision"].collect()
    assert row == [(1, 0, False)] or (
        row[0].k == 1
        and row[0].n_flagged == 0
        and row[0].rebuild_recommended is False
    )
    assert out["cells"].count() == 0


# --- r13: atomic cache publish, memo LRU bound, fingerprint guard ----------


def test_crashed_partial_write_self_heals(spark, tmp_path, monkeypatch):
    """VERDICT r12 #5: a crashed builder's leftovers — a destination
    dir WITHOUT _SUCCESS plus a stale temp dir — must not wedge the
    cache: the next builder publishes a complete index over them."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|heal|{n}"
    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    inline_rows = {
        r.vec_id: r.cid
        for r in shared_hier_assignment(spark, emb, token, k, ns).collect()
    }

    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))
    # build once to learn the key'd path name, then vandalize it
    shared_hier_assignment(spark, emb, token, k, ns).count()
    (path,) = [tmp_path / d for d in os.listdir(tmp_path)]
    (path / "_SUCCESS").unlink()          # crashed write: no marker
    stale = tmp_path / (path.name + ".__tmp_999_deadbeef")
    stale.mkdir()
    (stale / "part-00000.parquet").write_bytes(b"garbage")

    healed = shared_hier_assignment(spark, emb, token, k, ns)
    assert {r.vec_id: r.cid for r in healed.collect()} == inline_rows
    assert (path / "_SUCCESS").exists()


def test_publish_race_loser_reads_winners_index(spark, tmp_path, monkeypatch):
    """Two concurrent builders of the same key: the rename loser must
    discard its temp copy and serve the winner's COMPLETE index."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|race|{n}"
    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))

    real_rename = os.rename
    published = {}

    def racing_rename(src, dst):
        # simulate the OTHER builder winning just before our rename:
        # publish a complete copy at dst first, then let ours collide
        if "__tmp_" in src and not os.path.exists(dst):
            import shutil

            shutil.copytree(src, dst)
            published["winner"] = dst
        return real_rename(src, dst)  # raises OSError: dst exists

    monkeypatch.setattr(os, "rename", racing_rename)
    loser = ivf_index.shared_hier_assignment(spark, emb, token, k, ns)
    monkeypatch.setattr(os, "rename", real_rename)

    assert "winner" in published
    rows = {r.vec_id: r.cid for r in loser.collect()}
    assert len(rows) == n
    # no temp litter became the served index; destination is complete
    assert os.path.exists(os.path.join(published["winner"], "_SUCCESS"))


def test_memo_lru_bounds_families_and_unpersists(spark, monkeypatch):
    """VERDICT r12 #6: the (N+1)th distinct family must evict the
    least-recently-used one AND explicitly free its checkpoint blocks
    (observable via the context's RDD storage info)."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    monkeypatch.setenv("SMVD_IVF_MEMO_MAX", "2")
    # isolate: purge this session's memo so earlier tests' families
    # don't occupy slots
    ivf_index._SESSION_MEMO.pop(spark, None)

    emb, n, k, ns = _load(spark)

    def build(tag):
        f = ivf_index.shared_hier_assignment(
            spark, emb, f"{SF}/embeddings|lru-{tag}|{n}", k, ns
        )
        f.count()  # materialize the checkpoint blocks
        return f

    def stored_rdds():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    a, b = build("a"), build("b")
    base_rdds = stored_rdds()
    memo = ivf_index._SESSION_MEMO[spark]
    assert len(memo) == 2

    build("c")  # third family: cap 2 -> family 'a' evicted
    assert len(ivf_index._SESSION_MEMO[spark]) == 2
    tokens = [fam[1] for fam in ivf_index._SESSION_MEMO[spark]]
    assert not any("lru-a" in t for t in tokens)
    assert any("lru-b" in t for t in tokens)
    assert any("lru-c" in t for t in tokens)
    # a's blocks were EXPLICITLY unpersisted, not just dereferenced:
    # c added one stored RDD, a's one is gone -> count is unchanged
    assert stored_rdds() == base_rdds

    # LRU, not FIFO: touching 'b' then inserting 'd' evicts 'c'
    ivf_index.shared_hier_assignment(
        spark, emb, f"{SF}/embeddings|lru-b|{n}", k, ns
    )
    build("d")
    tokens = [fam[1] for fam in ivf_index._SESSION_MEMO[spark]]
    assert any("lru-b" in t for t in tokens)
    assert not any("lru-c" in t for t in tokens)


def test_memo_self_heals_lost_checkpoint_blocks(spark, monkeypatch):
    """ADVICE r12 cluster caveat, made recoverable (r13): a memoized
    frame whose localCheckpoint blocks vanish (executor loss; here
    simulated by unpersisting the blocks out from under the handle) is
    a DEAD handle — collecting it raises
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  The seam must detect that at
    the next access, drop the entry, and rebuild from the caller's
    still-lineaged input instead of serving the corpse."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|heal-test|{n}"

    first = ivf_index.shared_hier_assignment(spark, emb, token, k, ns)
    rows = {r.vec_id: r.cid for r in first.collect()}  # materialize
    assert ivf_index.shared_hier_assignment(spark, emb, token, k, ns) is first

    # simulate executor loss: the blocks disappear, the handle stays
    for jrdd in ivf_index._memo_frame_jrdds(first):
        jrdd.unpersist(True)
    assert not ivf_index._memo_value_healthy(first)

    heals_before = ivf_index.memo_heal_count()
    healed = ivf_index.shared_hier_assignment(spark, emb, token, k, ns)
    assert healed is not first  # rebuilt, not the dead handle
    assert {r.vec_id: r.cid for r in healed.collect()} == rows
    # the heal is OBSERVABLE (ADVICE r13): exactly one rebuild counted
    assert ivf_index.memo_heal_count() == heals_before + 1
    # the healed entry replaced the dead one in place and is served on
    # the next hit
    assert ivf_index.shared_hier_assignment(spark, emb, token, k, ns) is healed

    # a never-materialized lazy checkpoint reports healthy (lineage
    # intact, nothing to lose)
    lazy = emb.localCheckpoint(eager=False)
    assert ivf_index._memo_value_healthy(lazy)


def test_memo_fingerprint_guards_token_reuse(spark, monkeypatch):
    """ADVICE r12: a consumer that reuses a token for a
    DIFFERENTLY-SHAPED projection must not silently receive the other
    query's index — a schema-fingerprint mismatch rebuilds."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|fp|{n}"
    a = shared_hier_assignment(spark, emb, token, k, ns)
    # same token + geometry, but a double-cast projection: the vec
    # dtype key component AND the fingerprint both change -> rebuild
    emb2 = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    b = shared_hier_assignment(spark, emb2, token, k, ns)
    assert b is not a
    # an EXTRA column with the same vec dtype: only the fingerprint
    # catches it
    emb3 = emb.withColumn("extra", F.lit(1))
    c = shared_hier_assignment(spark, emb3, token, k, ns)
    assert c is not a and c is not b


# --- r13: deletion-aware serving + cell compaction --------------------------


def _tiny_assignment(spark):
    """A hand-built (vec_id, cid) assignment: 3 cells x 4 rows."""
    rows = [(cid * 10 + i, cid) for cid in (0, 1, 2) for i in range(4)]
    return spark.createDataFrame(rows, "vec_id long, cid long")


def test_maintain_live_assignment_excludes_tombstones(spark, monkeypatch):
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    tombs = base.filter(F.col("vec_id") % 37 == 5).select("vec_id")
    out = maintain(
        spark, base, delta,
        f"{SF}/embeddings|base|{cut}", f"{SF}/embeddings|delta|{n - cut}",
        k, ns, tombstones=tombs,
    )
    tomb_ids = {r.vec_id for r in tombs.collect()}
    assert tomb_ids  # the convention plants some at this scale
    all_ids = {r.vec_id for r in out["assignment"].collect()}
    live_ids = {r.vec_id for r in out["live_assignment"].collect()}
    assert live_ids == all_ids - tomb_ids


def test_serving_never_returns_a_tombstoned_vector(spark):
    """The seam itself, on planted data: the nearest neighbor is
    tombstoned — it must vanish from the shortlist while every other
    candidate survives."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        exclude_tombstones,
    )

    shortlist = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 7)], "vec_id long, cid long"
    )
    # at-least-once delete log: duplicates must not multiply rows
    tombs = spark.createDataFrame([(2,), (2,)], "vec_id long")
    live = exclude_tombstones(shortlist, tombs)
    assert {r.vec_id for r in live.collect()} == {1, 3}
    # None = no delete log: the shortlist passes through untouched
    assert exclude_tombstones(shortlist, None) is shortlist


def test_compact_cells_rewrites_only_flagged(spark, tmp_path):
    """compact_cells must (a) drop tombstones from flagged cells,
    (b) never open — let alone rewrite — unflagged cells' files,
    (c) remove a fully-emptied flagged cell's directory, and
    (d) report exact per-cell stats."""
    import os

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        compact_cells,
        read_cell_index,
        write_cell_index,
    )

    path = str(tmp_path / "idx")
    write_cell_index(_tiny_assignment(spark), path)

    # tombstones: one row of cell 0, ALL of cell 2, one row of the
    # UNFLAGGED cell 1 (must survive — cell 1 is not compacted)
    tombs = spark.createDataFrame(
        [(0,), (20,), (21,), (22,), (23,), (11,)], "vec_id long"
    )
    unflagged_dir = os.path.join(path, "cid=1")
    before = {
        f: os.stat(os.path.join(unflagged_dir, f)).st_mtime_ns
        for f in os.listdir(unflagged_dir)
    }

    stats = compact_cells(spark, path, tombs, [0, 2])
    srows = {r.cid: (r.n_before, r.n_removed, r.n_after) for r in stats.collect()}
    assert srows == {0: (4, 1, 3), 2: (4, 4, 0)}

    after = read_cell_index(spark, path)
    got = {(r.vec_id, r.cid) for r in after.select("vec_id", "cid").collect()}
    # cell 0: one tombstone dropped; cell 1 untouched (11 still there);
    # cell 2 gone entirely
    assert got == {(1, 0), (2, 0), (3, 0), (10, 1), (11, 1), (12, 1), (13, 1)}
    assert not os.path.exists(os.path.join(path, "cid=2"))
    # byte-level proof cell 1 was never rewritten
    assert {
        f: os.stat(os.path.join(unflagged_dir, f)).st_mtime_ns
        for f in os.listdir(unflagged_dir)
    } == before


def test_compact_cells_empty_flag_list_is_noop(spark, tmp_path):
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        compact_cells,
        write_cell_index,
    )

    path = str(tmp_path / "idx")
    write_cell_index(_tiny_assignment(spark), path)
    tombs = spark.createDataFrame([(0,)], "vec_id long")
    stats = compact_cells(spark, path, tombs, [])
    assert stats.count() == 0


def test_compact_cells_accepts_cells_frame(spark, tmp_path):
    """The natural caller passes maintain()['cells'] filtered on
    needs_compact — a frame with a cid column."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        compact_cells,
        write_cell_index,
    )

    path = str(tmp_path / "idx")
    write_cell_index(_tiny_assignment(spark), path)
    tombs = spark.createDataFrame([(0,), (10,)], "vec_id long")
    flagged = spark.createDataFrame([(0,)], "cid long")
    stats = compact_cells(spark, path, tombs, flagged)
    assert {r.cid: r.n_removed for r in stats.collect()} == {0: 1}


def test_chained_cycles_match_inline_full_assignment(
    spark, tmp_path, monkeypatch
):
    """VERDICT r12 #2 done-criterion: after 3 chained ingest cycles the
    assignment equals the inline full assignment of base UNION all
    deltas at base geometry — and cycle N's call assigns ONLY its own
    delta (one new cache entry per cycle; earlier parts are read)."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment_chain,
    )

    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    s = (n - cut) // 3
    b1, b2 = cut + s, cut + 2 * s
    base = emb.filter(F.col("vec_id") < cut)
    deltas = [
        emb.filter((F.col("vec_id") >= cut) & (F.col("vec_id") < b1)),
        emb.filter((F.col("vec_id") >= b1) & (F.col("vec_id") < b2)),
        emb.filter(F.col("vec_id") >= b2),
    ]
    bt = f"{SF}/embeddings|chain-base|{cut}"
    dts = [
        f"{SF}/embeddings|chain-c1|{cut}-{b1}",
        f"{SF}/embeddings|chain-c2|{b1}-{b2}",
        f"{SF}/embeddings|chain-c3|{b2}-{n}",
    ]

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    inline = shared_hier_assignment_chain(spark, base, deltas, bt, dts, k, ns)
    inline_rows = {r.vec_id: r.cid for r in inline.collect()}
    assert len(inline_rows) == n

    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))

    def entries():
        return sorted(
            d for d in os.listdir(tmp_path) if "__tmp_" not in d
        )

    # cycle 1: base build + cycle-1 delta
    c1 = shared_hier_assignment_chain(
        spark, base, deltas[:1], bt, dts[:1], k, ns
    )
    assert {r.vec_id for r in c1.collect()} == set(range(b1))
    after1 = entries()
    assert sum(1 for d in after1 if d.startswith("hier_delta_")) == 1

    # cycle 2: exactly ONE new entry (cycle-2's delta); cycle-1 is read
    c2 = shared_hier_assignment_chain(
        spark, base, deltas[:2], bt, dts[:2], k, ns
    )
    c2.count()
    after2 = entries()
    assert set(after1) <= set(after2)
    assert len(after2) == len(after1) + 1

    # cycle 3: full parity with the inline one-shot assignment
    c3 = shared_hier_assignment_chain(spark, base, deltas, bt, dts, k, ns)
    assert {r.vec_id: r.cid for r in c3.collect()} == inline_rows
    after3 = entries()
    assert len(after3) == len(after2) + 1

    # the memo arm is bit-identical too, and a repeat call HITS
    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    m1 = shared_hier_assignment_chain(spark, base, deltas, bt, dts, k, ns)
    assert {r.vec_id: r.cid for r in m1.collect()} == inline_rows
    m2 = shared_hier_assignment_chain(spark, base, deltas, bt, dts, k, ns)
    assert m2 is m1


def test_chain_with_no_deltas_is_the_base_assignment(spark, monkeypatch):
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
        shared_hier_assignment_chain,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|chain-empty|{n}"
    a = shared_hier_assignment_chain(spark, emb, [], token, [], k, ns)
    b = shared_hier_assignment(spark, emb, token, k, ns)
    assert a is b  # same memo family: the chain degenerates exactly


def test_pq_encode_delta_tiers_bit_identical(spark, tmp_path, monkeypatch):
    """shared_pq_encode_delta (r13): the incoming batch encoded against
    base-frozen codebooks must be bit-identical across inline, memo and
    cache tiers; the cached call reuses the base training's keys and
    publishes exactly ONE new entry (the delta codes)."""
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_pq_encode_delta,
        shared_pq_parts,
    )
    from signal_messenger_vector_database_spark.plans.pq_trained import (
        _OPD,
        _OPM,
        pq_sub_rows,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()
    cut = n - max(50, n // 10)
    subs_all = pq_sub_rows(emb, _OPM, _OPD)
    base_subs = subs_all.filter(F.col("vec_id") < cut).localCheckpoint(
        eager=False
    )
    delta_subs = subs_all.filter(F.col("vec_id") >= cut)
    bt, dt = f"{SF}/embeddings|pqd-base|{cut}", f"{SF}/embeddings|pqd-delta|{n - cut}"

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    inline_codes, inline_cb = shared_pq_encode_delta(
        spark, base_subs, delta_subs, bt, dt, _OPD, 16, 1
    )
    want = {(r.vec_id, r.sub_j): r.code for r in inline_codes.collect()}
    assert {v for v, _ in want} == set(range(n))  # base ∪ delta covered

    # the base part must equal shared_pq_parts(base) exactly (frozen
    # codebooks = the base training's own output)
    af_base, _cb = shared_pq_parts(spark, base_subs, bt, _OPD, 16, 1)
    base_part = {(r.vec_id, r.sub_j): r.code for r in af_base.collect()}
    assert base_part == {k: v for k, v in want.items() if k[0] < cut}

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    memo_codes, _ = shared_pq_encode_delta(
        spark, base_subs, delta_subs, bt, dt, _OPD, 16, 1
    )
    assert {(r.vec_id, r.sub_j): r.code for r in memo_codes.collect()} == want

    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path))
    # pre-train the base the way a deployment's build step would
    shared_pq_parts(spark, base_subs, bt, _OPD, 16, 1)[0].count()
    n_entries = len(os.listdir(tmp_path))
    cached_codes, _ = shared_pq_encode_delta(
        spark, base_subs, delta_subs, bt, dt, _OPD, 16, 1
    )
    assert {(r.vec_id, r.sub_j): r.code for r in cached_codes.collect()} == want
    names = os.listdir(tmp_path)
    assert len(names) == n_entries + 1  # ONLY the delta codes are new
    assert sum(1 for x in names if x.startswith("pq_delta_")) == 1


def test_cell_candidates_prunes_to_the_routed_directories(spark, tmp_path):
    """Serving off the stored index must be O(routed cells) IO end to
    end.  r13 direct-path arm (local index): the routed ``cid=<n>``
    paths are CONSTRUCTED, so nothing else is even LISTED — the scan's
    whole relation (inputFiles) is confined to the routed directories,
    closing the wave-24 k-proportional-listing residual.  Fallback arm
    (non-local URI): the cid filter is a PARTITION filter, so only the
    routed directories' files are opened even when the store's own
    listing discovers every partition."""
    from signal_messenger_vector_database_spark.operators import ivf_index
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        cell_candidates,
        write_cell_index,
    )

    path = str(tmp_path / "idx")
    write_cell_index(_tiny_assignment(spark), path)

    one = cell_candidates(spark, path, 1)
    # direct-path: the relation itself contains ONLY cid=1 files
    assert one.inputFiles() and all("cid=1" in f for f in one.inputFiles())
    assert {r.vec_id for r in one.collect()} == {10, 11, 12, 13}
    assert {r.cid for r in one.collect()} == {1}  # basePath keeps cid

    two = cell_candidates(spark, path, [0, 2])
    assert two.inputFiles() and all(
        "cid=0" in f or "cid=2" in f for f in two.inputFiles()
    )
    assert {r.vec_id for r in two.collect()} == {0, 1, 2, 3, 20, 21, 22, 23}

    # a flagged cid with no directory contributes nothing, not an error
    assert {r.vec_id for r in cell_candidates(spark, path, [1, 99]).collect()} == {
        10, 11, 12, 13,
    }

    # ALL routed cells absent: provably-empty answer must NOT fall back
    # to the k-listing root read — schema borrowed from a donor cell
    # dir, zero rows, relation confined to that one directory
    gone = cell_candidates(spark, path, [97, 99])
    assert gone.collect() == []
    assert set(gone.columns) == set(
        ivf_index.read_cell_index(spark, path).columns
    )
    assert all("cid=" in f for f in gone.inputFiles())

    # object-store URIs decline direct construction
    assert ivf_index._cell_paths(spark, "s3://bucket/idx", [1]) is None

    # an unqualified path in a session whose fs.defaultFS is NOT local
    # must decline too: Spark would resolve it against the cluster FS
    # while os.path probes the driver's local disk (r13 code review)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_fs = hconf.get("fs.defaultFS")
    try:
        hconf.set("fs.defaultFS", "hdfs://nn:8020")
        assert ivf_index._cell_paths(spark, path, [1]) is None
    finally:
        hconf.set("fs.defaultFS", old_fs)
    assert ivf_index._cell_paths(spark, path, [1]) is not None

    # fallback arm (forced): the root read prunes via a PARTITION
    # filter on the scan node
    import re
    from unittest import mock

    with mock.patch.object(ivf_index, "_cell_paths", return_value=None):
        fb = cell_candidates(spark, path, 1)
    plan = fb._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and re.search(r"cid#\d+L? = 1", m.group(1)), plan[:2000]
    assert {r.vec_id for r in fb.collect()} == {10, 11, 12, 13}


def test_index_lifecycle_end_to_end(spark, tmp_path, monkeypatch):
    """The whole r12+r13 lifecycle on one corpus, composed the way a
    scheduler would run it: build base index -> ingest a delta ->
    delete some ids -> maintain (accounting + live frame) -> serve
    WITHOUT the deleted ids -> materialize the cell index -> compact
    the flagged cells -> the compacted disk index equals the live
    frame exactly."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        cell_candidates,
        compact_cells,
        exclude_tombstones,
        maintain,
        read_cell_index,
        write_cell_index,
    )

    monkeypatch.setenv("SMVD_IVF_CACHE_DIR", str(tmp_path / "cache"))
    (tmp_path / "cache").mkdir()
    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    tombs = emb.filter(
        (F.col("vec_id") % 37 == 5) & (F.col("vec_id") < cut)
    ).select("vec_id")
    tomb_ids = {r.vec_id for r in tombs.collect()}

    out = maintain(
        spark, base, delta,
        f"{SF}/embeddings|lc-base|{cut}", f"{SF}/embeddings|lc-delta|{n - cut}",
        k, ns, tombstones=tombs,
    )
    live = {(r.vec_id, r.cid) for r in out["live_assignment"].collect()}
    assert tomb_ids and not {v for v, _ in live} & tomb_ids

    # serving: the query's cell shortlist, deletion-aware
    assign = out["assignment"]
    qcid = assign.filter(F.col("vec_id") == 0).collect()[0].cid
    shortlist = assign.filter(F.col("cid") == qcid)
    served = {
        r.vec_id for r in exclude_tombstones(shortlist, tombs).collect()
    }
    assert served == {v for v, c in live if c == qcid}

    # storage: materialize, compact ONLY the flagged cells, then verify
    # the disk index serves the same live rows for those cells
    idx = str(tmp_path / "idx")
    write_cell_index(assign, idx)
    flagged = out["cells"].filter(F.col("needs_compact"))
    flagged_ids = {r.cid for r in flagged.select("cid").collect()}
    assert flagged_ids  # the %37 tombstones flag cells at this scale
    stats = compact_cells(spark, idx, tombs, flagged)
    assert {r.cid for r in stats.collect()} == flagged_ids

    disk = {
        (r.vec_id, r.cid)
        for r in read_cell_index(spark, idx).select("vec_id", "cid").collect()
    }
    for cid in flagged_ids:  # compacted cells: tombstones physically gone
        assert {v for v, c in disk if c == cid} == {
            v for v, c in live if c == cid
        }
    # unflagged cells still carry their tombstones on disk (the policy:
    # physical reclaim is for flagged cells; serving reads compose
    # cell_candidates + exclude_tombstones until then)
    still = {
        r.vec_id
        for r in exclude_tombstones(
            cell_candidates(spark, idx, sorted(flagged_ids | {qcid})), tombs
        ).collect()
    }
    assert not still & tomb_ids


def test_composed_filtered_tombstone_serving(spark, tmp_path, monkeypatch):
    """The full r13 serving stack in ONE query, composed off the STORED
    index the way a production point query runs: widened 2-cell probe
    (route_query_cells) -> direct-path candidate read (cell_candidates)
    -> tombstone anti-join (exclude_tombstones) -> attribute predicate
    -> exact cosine re-rank.  Must equal the exact recompute over the
    surviving, predicate-matching members of the routed cells — every
    seam composes without changing the answer."""
    from signal_messenger_vector_database_spark.functions.vector import (
        cosine_similarity,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        ivf_seed_centroids,
        route_query_cells,
        scaled_cluster_count,
    )
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        cell_candidates,
        exclude_tombstones,
        shared_hier_assignment,
        write_cell_index,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    sf = "/root/testdata/sf0.01"  # big enough that each cell has labels
    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )

    emb = load_table(spark, sf, "embeddings")
    n = parquet_row_count(sf, "embeddings")
    k = scaled_cluster_count(n)
    ns = hier_super_count(k)
    assign = shared_hier_assignment(
        spark, emb, f"{sf}/embeddings|composed|{n}", k, ns
    )
    idx = str(tmp_path / "idx")
    write_cell_index(assign, idx)

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cids = [
        r.cid
        for r in route_query_cells(
            q, ivf_seed_centroids(emb, k), ns, n_cells=2
        ).collect()
    ]
    assert len(cids) == 2
    tombs = emb.filter(F.col("vec_id") % 37 == 5).select("vec_id")

    served = (
        exclude_tombstones(cell_candidates(spark, idx, cids), tombs)
        .join(emb, "vec_id")
        .filter(F.col("label") == 3)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 4).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(5)
        .collect()
    )
    assert served  # the composed stack returns hits at this scale

    # exact recompute over the surviving, label-matching routed members
    tomb_ids = {r.vec_id for r in tombs.collect()}
    members = {
        r.vec_id
        for r in assign.filter(F.col("cid").isin([int(c) for c in cids])).collect()
    }
    want = (
        emb.filter(
            F.col("vec_id").isin([int(v) for v in members - tomb_ids])
            & (F.col("label") == 3)
        )
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 4).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(5)
        .collect()
    )
    assert [(r.vec_id, r.sim) for r in served] == [
        (r.vec_id, r.sim) for r in want
    ]
    assert not {r.vec_id for r in served} & tomb_ids


def test_maintain_accepts_chained_cycles(spark, monkeypatch):
    """r13 policy-layer completion: `maintain` over N chained cycles.
    The assignment must equal the single-delta form over the union
    (frozen quantizer: per-row assignment is chain-invariant), and the
    occupancy convention is cycle-correct — cycles 1..N-1 count LIVE
    (the established index), only the newest batch counts NEW.  Pinned
    against the equivalent re-based single-delta call (base' = base ∪
    d1 ∪ d2, delta = d3): same k, same seeds (the lowest-k ids live in
    base), so cells and decision must match exactly."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    s = (n - cut) // 3
    b1, b2 = cut + s, cut + 2 * s
    base = emb.filter(F.col("vec_id") < cut)
    d1 = emb.filter((F.col("vec_id") >= cut) & (F.col("vec_id") < b1))
    d2 = emb.filter((F.col("vec_id") >= b1) & (F.col("vec_id") < b2))
    d3 = emb.filter(F.col("vec_id") >= b2)
    tombs = emb.filter(
        (F.col("vec_id") < cut) & (F.col("vec_id") % 37 == 5)
    ).select("vec_id")

    chain = maintain(
        spark, base, [d1, d2, d3],
        f"{SF}/embeddings|mc-base|{cut}",
        [
            f"{SF}/embeddings|mc-c1|{cut}-{b1}",
            f"{SF}/embeddings|mc-c2|{b1}-{b2}",
            f"{SF}/embeddings|mc-c3|{b2}-{n}",
        ],
        k, ns, tombstones=tombs,
    )
    rebased = maintain(
        spark, emb.filter(F.col("vec_id") < b2), d3,
        f"{SF}/embeddings|mc-rebase|{b2}",
        f"{SF}/embeddings|mc-c3b|{b2}-{n}",
        k, ns, tombstones=tombs,
    )
    assert {
        (r.vec_id, r.cid) for r in chain["assignment"].collect()
    } == {(r.vec_id, r.cid) for r in rebased["assignment"].collect()}
    cells_c = {r.cid: (r.n_live, r.n_tomb, r.n_new, r.needs_split, r.needs_compact)
               for r in chain["cells"].collect()}
    cells_r = {r.cid: (r.n_live, r.n_tomb, r.n_new, r.needs_split, r.needs_compact)
               for r in rebased["cells"].collect()}
    assert cells_c == cells_r
    assert [tuple(r) for r in chain["decision"].collect()] == [
        tuple(r) for r in rebased["decision"].collect()
    ]
    # live frame excludes the tombstones in the chain form too
    tomb_ids = {r.vec_id for r in tombs.collect()}
    live = {r.vec_id for r in chain["live_assignment"].collect()}
    assert tomb_ids and not live & tomb_ids
    assert live == set(range(n)) - tomb_ids


def test_maintain_empty_delta_list_is_the_no_ingest_cycle(spark, monkeypatch):
    """r13 code review: `maintain(spark, base, [], ..., [])` used to
    IndexError on `deltas[-1]`.  It is a legitimate scheduler call —
    a cycle with deletes but no ingest: base-only assignment, zero
    'new' rows, tombstone accounting and the rebuild decision intact."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    emb, n, k, ns = _load(spark)
    tombs = emb.filter(F.col("vec_id") % 37 == 5).select("vec_id")
    out = maintain(
        spark, emb, [], f"{SF}/embeddings|noing|{n}", [], k, ns,
        tombstones=tombs,
    )
    assert out["assignment"].count() == n
    cells = out["cells"].collect()
    assert sum(r.n_new for r in cells) == 0
    assert sum(r.n_tomb for r in cells) == len(
        {r.vec_id for r in tombs.collect()}
    )
    dec = out["decision"].collect()[0]
    assert dec.k == k and isinstance(dec.rebuild_recommended, bool)


def test_cell_candidates_fully_compacted_index_is_empty_not_error(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13: when EVERY cid= directory of a local index has been
    compacted away (no schema donor remains), the contract's answer is
    an empty frame with the canonical (vec_id, cid) schema — the old
    fall-through to the root read threw 'unable to infer schema'.  A
    root that does not exist at all is a caller bug and must fail
    loudly instead of masquerading as an empty index."""
    import pytest as _pytest

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        cell_candidates,
    )

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        write_cell_index,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    root = tmp_path / "compacted_away_idx"
    root.mkdir()  # index root exists, zero cid= directories remain
    got = cell_candidates(spark, str(root), [0, 1])
    assert got.count() == 0

    # the empty shape must MATCH a real donor-path read of the same
    # index layout (r14 review: vec_id long as stored, cid as the
    # partition-INFERRED int — a fabricated long cid would diverge
    # from every non-empty read)
    real_root = tmp_path / "real_idx"
    write_cell_index(
        spark.createDataFrame([(1, 0), (2, 1)], "vec_id long, cid int"),
        str(real_root),
    )
    real = cell_candidates(spark, str(real_root), [0])
    assert got.dtypes == real.dtypes, (got.dtypes, real.dtypes)

    with _pytest.raises(FileNotFoundError):
        cell_candidates(spark, str(tmp_path / "no_such_idx"), [0])


def test_batched_serving_equals_per_query_serving(spark, monkeypatch):
    """topk_ivf_batch must return, for EVERY qid, exactly what a
    single-query routed serve of that vector returns — the batch path
    amortizes the corpus join and swaps orderBy/limit for a per-qid
    window, and neither change may move an answer.  The single-query
    side is recomputed here with the same operators but the
    SINGLE-query code shape (1-row route frame, global orderBy/limit),
    so the per-qid window keying is what this test actually pins."""
    from signal_messenger_vector_database_spark.functions.vector import (
        cosine_similarity,
    )
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.ann import (
        ivf_seed_centroids,
        route_query_cells,
    )
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _BATCH_K,
        _BATCH_Q,
        _topk_ivf_batch,
    )

    monkeypatch.delenv("SMVD_IVF_CACHE_DIR", raising=False)
    batch = _topk_ivf_batch(spark, SF).collect()
    assert len(batch) == _BATCH_Q * _BATCH_K
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r.qid, []).append((r.vec_id, r.sim))

    emb, n, k, ns = _load(spark)
    assign = shared_hier_assignment(spark, emb, f"{SF}/embeddings|{n}", k, ns)
    for qid in range(_BATCH_Q):
        q = emb.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qv")
        )
        qcells = route_query_cells(
            q, ivf_seed_centroids(emb, k), ns, n_cells=2
        )
        single = (
            emb.join(
                assign.join(F.broadcast(qcells), "cid").select("vec_id"),
                "vec_id",
            )
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                F.floor(cosine_similarity("embedding", "qv") * 10000 + 0.5)
                .cast("long")
                .alias("s"),
            )
            .orderBy(F.desc("s"), "vec_id")
            .limit(_BATCH_K)
            .collect()
        )
        expected = [(r.vec_id, r.s / 10000) for r in single]
        assert by_qid[qid] == expected, qid
