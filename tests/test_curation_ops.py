"""Invariant tests for ndcg_eval, centroid_outlier_prune, and
boilerplate_strip.  Oracle equivalence is proven by tools/oracle_check at
all three fixture scales; these pin what the oracle compare cannot see:
the nDCG identity on a perfect ranking, the decile-threshold semantics of
the prune, and the splice's reconstruction/accounting identities."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_ndcg_bounds_and_perfect_ranking_identity(spark):
    """0 < ndcg <= 1, and the ideal ranking scores exactly idcg (nDCG 1):
    re-deriving DCG over the relevance-sorted list must reproduce idcg_q,
    so the metric's numerator and denominator use one contribution rule."""
    import math

    from signal_messenger_vector_database_spark.plans.retrieval import (
        _NDCG_DISCOUNTS,
        _NDCG_K,
        _graded_rel,
        _ndcg_eval,
    )
    from signal_messenger_vector_database_spark.io.sources import load_table

    row = _ndcg_eval(spark, SF).collect()[0]
    assert 0.0 < row.ndcg10 <= 1.0
    assert 0 < row.dcg_q <= row.idcg_q
    assert abs(row.ndcg10 - row.dcg_q / row.idcg_q) < 1e-15

    rels = sorted(
        (
            (r.rel, r.doc_id)
            for r in _graded_rel(load_table(spark, SF, "documents")).collect()
        ),
        key=lambda t: (-t[0], t[1]),
    )[:_NDCG_K]
    idcg = sum(
        math.floor((2 ** rel - 1) * _NDCG_DISCOUNTS[i] * 1e6 + 0.5)
        for i, (rel, _) in enumerate(rels)
    )
    assert idcg == row.idcg_q


def test_centroid_prune_decile_threshold_semantics(spark):
    """Per label: every dropped vector scores <= every kept vector; at
    least floor(n/10) are dropped when n >= 10 (ties AT the threshold
    value drop together, so the count can exceed the decile but never
    undershoots it); labels with n < 10 keep everything."""
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _centroid_outlier_prune,
    )

    rows = _centroid_outlier_prune(spark, SF).collect()
    by_label = defaultdict(list)
    for r in rows:
        by_label[r.label].append(r)
    assert len(by_label) >= 2
    saw_drop = False
    for label, rs in by_label.items():
        n = len(rs)
        dropped = [r.csim for r in rs if not r.keep]
        kept = [r.csim for r in rs if r.keep]
        if n < 10:
            assert not dropped
            continue
        assert len(dropped) >= n // 10
        saw_drop = saw_drop or bool(dropped)
        assert kept, f"label {label} dropped everything"
        assert max(dropped) < min(kept)
    assert saw_drop


def test_boilerplate_strip_accounting_and_reconstruction(spark):
    """(a) cleaned word count == nw - SEG*n_removed for every doc;
    (b) docs with nothing removed reconstruct their normalized text
    EXACTLY (the splice is lossless); (c) the fixture actually exercises
    the removal arm."""
    from signal_messenger_vector_database_spark.operators.dedup import (
        normalized_text,
    )
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.plans.traindata import (
        _SEG_WORDS,
        _boilerplate_strip,
    )

    out = {r.doc_id: r for r in _boilerplate_strip(spark, SF).collect()}
    norm = {
        r.doc_id: r.nt
        for r in load_table(spark, SF, "documents")
        .select("doc_id", normalized_text(F.col("text")).alias("nt"))
        .collect()
    }
    assert sum(r.n_removed for r in out.values()) > 0
    for doc_id, r in out.items():
        nw = len(norm[doc_id].split(" ")) if norm[doc_id] else 0
        cleaned_words = len(r.cleaned.split(" ")) if r.cleaned else 0
        assert cleaned_words == nw - _SEG_WORDS * r.n_removed, doc_id
        if r.n_removed == 0:
            assert r.cleaned == norm[doc_id], doc_id


def test_sketch_quantiles_error_bound_vs_exact(spark):
    """The sketch's defining guarantee: |est - v_(ceil(p*n))| <=
    err_bound = range/256 for every (type, p), where v_(k) is the exact
    k-th order statistic (percentile_disc semantics — the sketch brackets
    the ORDER STATISTIC's bin; an interpolated quantile can sit a sparse
    tail gap away from any bin edge, which is not the claim).  Also:
    estimates are monotone in p within a type."""
    import math

    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.plans.analytics import (
        _sketch_quantiles,
    )

    rows = _sketch_quantiles(spark, SF).collect()
    assert len(rows) >= 9  # >= 3 types x 3 ps
    vals = defaultdict(list)
    for r in (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .collect()
    ):
        vals[r.event_type].append(r.value)
    for v in vals.values():
        v.sort()
    by_type = defaultdict(dict)
    for r in rows:
        v = vals[r.event_type]
        order_stat = v[math.ceil(r.p * len(v)) - 1]
        assert abs(r.est - order_stat) <= r.err_bound + 1e-12, (
            r.event_type,
            r.p,
        )
        by_type[r.event_type][r.p] = r.est
    for t, ests in by_type.items():
        assert ests[0.5] <= ests[0.95] <= ests[0.99], t


def test_sketch_quantiles_histograms_merge_exactly(spark):
    """Mergeability as a theorem, not a claim (the rollup_incremental
    pattern): bin counts from two disjoint halves of the corpus, merged
    by addition, equal the full-corpus histogram EXACTLY — integer
    counts over identical (mn, mx) geometry have no merge seam.  This is
    what lets 100 TB of shards combine with 256 rows per group per
    shard."""
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.plans.analytics import (
        _qsk_bin_expr,
    )

    ev = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )

    def hist(df):
        binned = df.join(F.broadcast(rng), "event_type").select(
            "event_type", _qsk_bin_expr().alias("bin")
        )
        return {
            (r.event_type, r.bin): r.c
            for r in binned.groupBy("event_type", "bin")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    full = hist(ev)
    h1 = hist(ev.filter(F.col("event_id") % 2 == 0))
    h2 = hist(ev.filter(F.col("event_id") % 2 == 1))
    merged = dict(h1)
    for k, c in h2.items():
        merged[k] = merged.get(k, 0) + c
    assert merged == full


def test_classifier_calibration_accounting(spark):
    """Bins partition the corpus (counts sum to n_docs), rates live in
    [0,1], gap == |mean_score - obs_rate|, and the fixture exercises
    nondegenerate bins (some bin has 0 < obs_rate < 1 or at least two
    bins disagree in observed rate)."""
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.plans.traindata import (
        _classifier_calibration,
    )

    rows = _classifier_calibration(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.mean_score <= 1.0
        assert 0.0 <= r.obs_rate <= 1.0
        assert abs(r.gap - abs(r.mean_score - r.obs_rate)) < 1e-12
        # mean score of a decile bin must sit in (or round-adjacent to)
        # its own bin's value range
        assert r.bin / 10 - 1e-4 <= r.mean_score <= (r.bin + 1) / 10 + 1e-4
    assert len({r.obs_rate for r in rows}) > 1


def test_ivf_maintenance_accounting_and_flags(spark):
    """Cluster rows partition the corpus (live+tomb+new sums to n); both
    flag arms are live on the fixture; flags re-derive from the emitted
    counts via the exact-integer rules (no hidden state)."""
    from signal_messenger_vector_database_spark.io.sources import (
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _ivf_maintenance,
    )

    rows = _ivf_maintenance(spark, SF).collect()
    n = parquet_row_count(SF, "embeddings")
    assert sum(r.n_live + r.n_tomb + r.n_new for r in rows) == n
    total = sum(r.n_live + r.n_new for r in rows)
    k = len(rows)
    assert any(r.needs_split for r in rows) and not all(
        r.needs_split for r in rows
    )
    assert any(r.needs_compact for r in rows) and not all(
        r.needs_compact for r in rows
    )
    for r in rows:
        assert r.needs_split == (10 * (r.n_live + r.n_new) * k > 11 * total)
        assert r.needs_compact == (
            50 * r.n_live < 49 * (r.n_live + r.n_tomb)
        )


def test_tfidf_cosine_matches_pure_python(spark):
    """Recompute the tf-idf cosine for every returned doc in pure Python
    (explicit tf/df/idf over the normalized corpus) — the Spark value
    must match to the 1e-4 grain, scores are in (0, 1], and every hit
    contains at least one query term."""
    import math
    from collections import Counter

    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.dedup import (
        normalized_text,
    )
    from signal_messenger_vector_database_spark.plans.retrieval import (
        _QUERY,
        _tfidf_cosine_topk,
    )

    rows = _tfidf_cosine_topk(spark, SF).collect()
    assert 0 < len(rows) <= 10
    corpus = {
        r.doc_id: r.nt.split(" ")
        for r in load_table(spark, SF, "documents")
        .select("doc_id", normalized_text(F.col("text")).alias("nt"))
        .collect()
    }
    n_docs = len(corpus)
    df = Counter()
    for ws in corpus.values():
        for t in set(ws):
            df[t] += 1
    qterms = _QUERY.split()

    def idf(t):
        return math.log(n_docs / df[t])

    qnorm = math.sqrt(sum(idf(t) ** 2 for t in qterms if df[t]))
    for r in rows:
        tf = Counter(corpus[r.doc_id])
        assert any(t in tf for t in qterms)
        dot = sum(tf[t] * idf(t) * idf(t) for t in qterms if tf[t])
        dnorm = math.sqrt(sum((c * idf(t)) ** 2 for t, c in tf.items()))
        want = math.floor(dot / (dnorm * qnorm) * 10000 + 0.5) / 10000
        assert abs(r.tfidf_cos - want) < 1.5e-4, r.doc_id
        assert 0.0 < r.tfidf_cos <= 1.0


def test_strip_boilerplate_planted_corpus_edges(spark):
    """Planted-corpus edges the fixture cannot pin: a segment shared at
    the SAME aligned offset strips from every doc; the same words at a
    DIFFERENT alignment are NOT a segment match (disjoint fixed windows
    — that asymmetry is dup_substring_spans' job); exact-multiple-of-10
    docs have an empty tail; a 9-word doc passes through whole."""
    from signal_messenger_vector_database_spark.operators.dedup import (
        strip_boilerplate,
    )

    bp = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"  # the planted boilerplate block
    uniq = lambda d, n: " ".join(f"u{d}_{i}" for i in range(n))
    rows = [
        # docs 1-3: block at offset 0 (aligned) + 10 unique words → hot
        (1, f"{bp} {uniq(1, 10)}"),
        (2, f"{bp} {uniq(2, 10)}"),
        (3, f"{bp} {uniq(3, 10)}"),
        # doc 4: same words but shifted by 5 → its windows are
        # (u4_0..4 b0..b4)(b5..b9 u4_5..9): no aligned match, keeps all
        (4, f"{uniq(4, 5)} {bp} {uniq(4, 5).replace('u4', 'w4')}"),
        # doc 5: exactly 20 words, block in SECOND window + empty tail
        (5, f"{uniq(5, 10)} {bp}"),
        # doc 6: 9 words — below one segment, passes through whole
        (6, uniq(6, 9)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_boilerplate(docs, min_df=3).collect()}

    # block is hot only where ALIGNED: docs 1,2,3 (offset 0); docs 4,5's
    # windows never reproduce the exact block at a window boundary — doc
    # 5's SECOND window IS the block though (start=10): recount — hot df
    # counts doc 1,2,3,5 → 4 >= 3, so 5 strips too.
    for d in (1, 2, 3):
        assert out[d].n_removed == 1 and out[d].n_segs == 2
        assert out[d].cleaned == uniq(d, 10)
    assert out[5].n_removed == 1
    assert out[5].cleaned == uniq(5, 10)  # empty tail spliced cleanly
    assert out[4].n_removed == 0
    assert out[4].cleaned == rows[3][1]
    assert out[6].n_segs == 0 and out[6].cleaned == rows[5][1]


def test_curriculum_order_is_phased_permutation(spark):
    """seq is a permutation of 1..n; all of phase p's sequence numbers
    precede phase p+1's (the curriculum property); phase sizes are
    NTILE-balanced; and mean quality is monotone non-increasing across
    phases (phase 1 = cleanest)."""
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.textanalysis import (
        quality_features,
    )
    from signal_messenger_vector_database_spark.plans.traindata import (
        _curriculum_order,
    )

    rows = _curriculum_order(spark, SF).collect()
    n = len(rows)
    assert sorted(r.seq for r in rows) == list(range(1, n + 1))
    by_phase = defaultdict(list)
    for r in rows:
        by_phase[r.phase].append(r)
        assert r.shard == (r.seq - 1) % 8
    assert sorted(by_phase) == [1, 2, 3]
    assert max(r.seq for r in by_phase[1]) < min(r.seq for r in by_phase[2])
    assert max(r.seq for r in by_phase[2]) < min(r.seq for r in by_phase[3])
    sizes = [len(by_phase[p]) for p in (1, 2, 3)]
    assert max(sizes) - min(sizes) <= 1

    docs = load_table(spark, SF, "documents")
    q = {
        r.doc_id: r.q
        for r in docs.select(
            "doc_id", quality_features("text")["quality_score"].alias("q")
        ).collect()
    }
    means = [
        sum(q[r.doc_id] for r in by_phase[p]) / len(by_phase[p])
        for p in (1, 2, 3)
    ]
    assert means[0] >= means[1] >= means[2]


def test_dataset_datasheet_reconciles_with_corpus(spark):
    """Per-source doc counts sum to the corpus; token totals reconcile
    with source_stats' machinery; shares and fractions live in [0,1];
    the top lang really is the per-source mode."""
    from collections import Counter

    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.plans.traindata import (
        _dataset_datasheet,
    )

    rows = {r.source: r for r in _dataset_datasheet(spark, SF).collect()}
    docs = load_table(spark, SF, "documents").select("source", "lang").collect()
    assert sum(r.n_docs for r in rows.values()) == len(docs)
    langs = defaultdict(Counter)
    for d in docs:
        langs[d.source][d.lang] += 1
    for src, r in rows.items():
        assert 0.0 <= r.top_lang_share <= 1.0
        assert 0.0 <= r.exact_dup_frac <= 1.0
        assert 0.0 <= r.mean_quality <= 1.0
        best = max(langs[src].values())
        assert langs[src][r.top_lang] == best


def test_dataset_datasheet_planted_duplicates(spark):
    """The dup arm on a corpus that actually HAS duplicates (the fixture
    has none — second r8 code review): whitespace variants count as the
    SAME doc (normalized fingerprint), dup counting is fenced per
    source, and the fraction counts ALL members of a dup group."""
    from signal_messenger_vector_database_spark.operators.textanalysis import (
        dataset_datasheet,
    )

    rows = [
        # source A: 3 docs, 2 are whitespace variants of each other
        (1, "A", "en", "hello   world again"),
        (2, "A", "en", "hello world  again"),
        (3, "A", "en", "something entirely different"),
        # source B: the same text as A's dup group — must NOT join A's
        # count (per-source fence), and B alone has no dup
        (4, "B", "fr", "hello world again"),
        (5, "B", "fr", "autre chose"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    out = {r.source: r for r in dataset_datasheet(docs).collect()}
    assert out["A"].n_docs == 3
    assert abs(out["A"].exact_dup_frac - 2 / 3) < 1e-4
    assert out["B"].exact_dup_frac == 0.0
    assert out["A"].top_lang == "en" and out["B"].top_lang == "fr"
    assert out["A"].top_lang_share == 1.0


def test_embedding_drift_self_consistency(spark):
    """Counts partition the corpus; an UNDRIFTED comparison (the same
    half against itself) scores exactly 1.0 through the identical
    quantize-then-cosine path, so any sub-1 value in the real query is
    distributional, not numerical."""
    from signal_messenger_vector_database_spark.functions.vector import (
        cosine_similarity,
    )
    from signal_messenger_vector_database_spark.io.sources import (
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _embedding_drift,
        _exploded,
    )
    from signal_messenger_vector_database_spark.functions.text import (
        portable_round,
    )

    rows = _embedding_drift(spark, SF).collect()
    n = parquet_row_count(SF, "embeddings")
    assert sum(r.n_base + r.n_delta for r in rows) == n
    for r in rows:
        assert -1.0 <= r.centroid_cos <= 1.0

    half = n // 2
    cb = (
        _exploded(spark, SF)
        .filter(F.col("vec_id") < half)
        .groupBy("label", "pos")
        .agg(portable_round(F.avg("val"), 4).alias("cval"))
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pv")
        )
        .select("label", F.col("pv.cval").alias("cv"))
    )
    self_cos = (
        cb.alias("a")
        .join(cb.alias("b"), "label")
        .select(
            portable_round(
                cosine_similarity(F.col("a.cv"), F.col("b.cv")), 4
            ).alias("c")
        )
        .collect()
    )
    assert all(r.c == 1.0 for r in self_cos)


def test_pq_recall_consistency(spark):
    """The top-10 ADC ranking is a prefix of the shortlist-100, so
    shortlist recall can never be below direct recall; both live in
    [0, 1]; counts and ratios agree."""
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _pq_recall_at_k,
    )

    r = _pq_recall_at_k(spark, SF).collect()[0]
    assert 0 <= r.n_hits <= 10 and 0 <= r.n_short_hits <= 10
    assert r.n_short_hits >= r.n_hits
    assert r.recall == r.n_hits / 10.0
    assert r.shortlist_recall == r.n_short_hits / 10.0


def test_pq_trained_recall_consistency_and_lift(spark):
    """Same structural invariants as the seeded measurement, plus the
    claim the query exists for: one Lloyd round must not DEGRADE the
    shortlist recall on the fixture (measured lift: 0.6 -> 0.8 at
    sf0.001)."""
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _pq_recall_at_k,
        _pq_recall_trained,
    )

    t = _pq_recall_trained(spark, SF).collect()[0]
    s = _pq_recall_at_k(spark, SF).collect()[0]
    assert 0 <= t.n_hits <= 10 and 0 <= t.n_short_hits <= 10
    assert t.n_short_hits >= t.n_hits
    assert t.recall == t.n_hits / 10.0
    assert t.shortlist_recall == t.n_short_hits / 10.0
    assert t.shortlist_recall >= s.shortlist_recall


def test_curation_pipeline_every_stage_fires(spark):
    """The composed funnel's oracle hash-check proves Spark == DuckDB,
    but NOT that each stage actually removes documents (a no-op stage
    would agree on both engines).  Pin the funnel shape: monotone
    non-increasing, and the planted-dup construction guarantees the
    gopher, exact-dedup, near-dup, decontaminate, and mixture stages
    each strictly shrink the survivor set at this fixture scale, while
    packing preserves stage-5's token mass exactly."""
    from signal_messenger_vector_database_spark.plans.traindata import (
        _curation_pipeline,
    )

    rows = {r.stage: r for r in _curation_pipeline(spark, SF).collect()}
    order = [
        "corpus",
        "gopher",
        "exact_dedup",
        "neardup",
        "decontaminate",
        "mixture",
    ]
    for a, b in zip(order, order[1:]):
        assert rows[b].n_docs <= rows[a].n_docs, (a, b)
    # strict shrink at every curation stage (exact copies planted at
    # doc_id+2e6 die at exact_dedup; near copies at +1e6 die at neardup)
    assert rows["gopher"].n_docs < rows["corpus"].n_docs
    assert rows["exact_dedup"].n_docs < rows["gopher"].n_docs
    assert rows["neardup"].n_docs < rows["exact_dedup"].n_docs
    assert rows["decontaminate"].n_docs < rows["neardup"].n_docs
    assert rows["mixture"].n_docs < rows["decontaminate"].n_docs
    assert rows["mixture"].n_docs > 0
    # packing preserves token mass and yields ceil-ish pack count
    assert rows["packed"].n_tokens == rows["mixture"].n_tokens
    assert 1 <= rows["packed"].n_docs <= rows["mixture"].n_docs


def test_curation_attrition_accounts_every_removal(spark):
    """The attrition report must RECONCILE with the funnel exactly: per
    stage, the victims' doc and token counts sum to the funnel's
    stage-over-stage delta — no removal unattributed, none
    double-counted (the single-attribution precedence rule for the
    gopher stage is what makes this a partition, not a multi-label
    tally)."""
    from signal_messenger_vector_database_spark.plans.traindata import (
        _curation_attrition,
        _curation_pipeline,
    )

    funnel = {r.stage: r for r in _curation_pipeline(spark, SF).collect()}
    att = _curation_attrition(spark, SF).collect()
    by_stage: dict[int, int] = {}
    by_stage_tok: dict[int, int] = {}
    for r in att:
        by_stage[r.stage_id] = by_stage.get(r.stage_id, 0) + r.n_docs
        by_stage_tok[r.stage_id] = by_stage_tok.get(r.stage_id, 0) + r.n_tokens
    deltas = [
        (1, "corpus", "gopher"),
        (2, "gopher", "exact_dedup"),
        (3, "exact_dedup", "neardup"),
        (4, "neardup", "decontaminate"),
        (5, "decontaminate", "mixture"),
    ]
    for sid, prev, cur in deltas:
        assert by_stage[sid] == funnel[prev].n_docs - funnel[cur].n_docs, sid
        assert (
            by_stage_tok[sid]
            == funnel[prev].n_tokens - funnel[cur].n_tokens
        ), sid
    # the planted-dup construction keeps both dedup reasons live, and
    # the fixture exercises both decontamination reasons
    reasons = {(r.stage_id, r.reason) for r in att}
    assert (2, "exact_dup") in reasons and (3, "near_dup") in reasons
    assert (4, "not_train_split") in reasons and (4, "contaminated") in reasons
    assert next(
        r.n_docs for r in att if r.reason == "exact_dup"
    ) > 0 and next(r.n_docs for r in att if r.reason == "near_dup") > 0


_UNPINNED_CURATION = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from signal_messenger_vector_database_spark.plans.catalog import all_specs

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
rows = all_specs()["curation_pipeline"].fn(spark, {sf!r}).collect()
print("ROWS", len(rows))
spark.stop()
"""


def test_curation_pipeline_runs_with_thread_pinning_off():
    """The curation decontam prefetch thread must start under a driver
    that turned py4j thread pinning off (PYSPARK_PIN_THREAD=false),
    where ``inheritable_thread_target(session)`` is not a decorator."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYSPARK_PIN_THREAD="false", PYTHONPATH=repo)
    proc = subprocess.run(
        [sys.executable, "-c", _UNPINNED_CURATION.format(repo=repo, sf=SF)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS " in proc.stdout
