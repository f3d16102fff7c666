"""Scale mechanics: bucketed joins must not shuffle; salted joins must be
correct and spread hot keys."""

from __future__ import annotations

import re
import uuid

import pytest
from pyspark.sql import functions as F

from signal_messenger_vector_database_spark.io.sources import load_table
from signal_messenger_vector_database_spark.operators.scale import (
    bucketed_join,
    salted_join,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark):
    tag = uuid.uuid4().hex[:8]
    lt, rt = f"b_lineitem_{tag}", f"b_orders_{tag}"
    write_bucketed(
        load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity"),
        lt, bucket_col="l_orderkey", num_buckets=4, sort_col="l_orderkey",
    )
    write_bucketed(
        load_table(spark, SF, "orders")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"),
        rt, bucket_col="l_orderkey", num_buckets=4, sort_col="l_orderkey",
    )
    # force sort-merge: at fixture size the planner would broadcast and
    # skip the bucketed scan entirely (irrelevant at real scale)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, lt, rt, on="l_orderkey")
        plan = _plan(joined)
        # co-located buckets: the join happens without any shuffle exchange
        assert "Exchange" not in plan, plan[:2000]
        # and it's still a real join producing the right row count
        expected = (
            load_table(spark, SF, "lineitem")
            .join(load_table(spark, SF, "orders"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .count()
        )
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql(f"DROP TABLE {lt}")
        spark.sql(f"DROP TABLE {rt}")


def test_plain_join_does_exchange(spark):
    # control: the same join on unbucketed data shuffles
    l = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(l.join(o, "l_orderkey"))
        assert "Exchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_static_partition_pruning(spark, tmp_path):
    # Hive-style partition layout: a filter on the partition column must
    # become a PartitionFilter (directory pruning), not a data filter —
    # at 100 TB this is the difference between listing one directory and
    # scanning every file.
    path = str(tmp_path / "orders_by_priority")
    load_table(spark, SF, "orders").write.partitionBy("o_orderpriority").parquet(path)
    pruned = spark.read.parquet(path).filter(F.col("o_orderpriority") == "1-URGENT")
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "1-URGENT" in plan, plan[:3000]
    expected = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .count()
    )
    assert pruned.count() == expected


def test_dynamic_partition_pruning(spark, tmp_path):
    # DPP: the partition filter is only known at runtime (it comes from a
    # filtered dim-side broadcast). The fact scan must carry a
    # dynamicpruning subquery instead of reading all partitions.
    path = str(tmp_path / "orders_part_dpp")
    load_table(spark, SF, "orders").write.partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("3-MEDIUM", 0)], ["o_orderpriority", "keep"]
    ).filter(F.col("keep") == 1)
    joined = fact.join(dim, "o_orderpriority")
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    expected = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .count()
    )
    assert joined.count() == expected


def test_salted_join_correctness(spark):
    # skewed fact: one hot key with 5000 rows + uniform tail
    fact = spark.range(5000).select(F.lit(1).alias("k"), F.col("id").alias("v")).union(
        spark.range(100).select((F.col("id") + 2).alias("k"), F.col("id").alias("v"))
    )
    dim = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    got = salted_join(fact, dim, on="k", salt_buckets=8)
    plain = fact.join(dim, "k")
    assert got.count() == plain.count()
    assert sorted(got.columns) == sorted(plain.columns)
    # spot-check content equality on the hot key
    assert (
        got.filter(F.col("k") == 1).agg(F.sum("v")).first()[0]
        == plain.filter(F.col("k") == 1).agg(F.sum("v")).first()[0]
    )


def test_filter_precedes_python_embed_stage(spark):
    # SURVEY §4: F1 (cheap suppression filter) must stay upstream of E1
    # (the expensive Python embed crossing).  In the printed physical plan
    # (output at top, scan at bottom) "upstream" = a LARGER character
    # offset than the Python node.
    from signal_messenger_vector_database_spark.operators.ingest_pipeline import (
        ingest_pipeline,
    )

    msgs = (
        load_table(spark, SF, "documents")
        .select(
            F.col("text").alias("body"),
            F.lit("from").alias("direction"),
            F.lit(None).cast("string").alias("contact"),
            F.lit(None).cast("string").alias("group_name"),
            F.lit(None).cast("array<string>").alias("attachments"),
        )
    )
    plan = _plan(ingest_pipeline(msgs))
    python_at = max(plan.find("MapInPandas"), plan.find("MapInArrow"))
    filter_at = plan.find("is typing...")  # a suppression literal
    assert python_at != -1 and filter_at != -1, plan[:2000]
    assert filter_at > python_at, "suppression filter ran after the embed stage"


def test_binaryfile_scan_prunes_content(spark):
    # Selecting only metadata from a binaryFile source must prune the
    # `content` bytes out of the read schema.
    files = spark.read.format("binaryFile").load(f"{SF}/*.parquet")
    meta = files.select("path", "length")
    plan = _plan(meta)
    assert "content" not in plan, plan[:2000]


def test_ivf_assign_aggregates_not_windows(spark):
    """ivf_assign's nearest-centroid argmax must be a partial-aggregable
    groupBy (n rows cross the exchange), never a Window.partitionBy +
    row_number (n*k rows cross).  VERDICT r1 flagged the window form as a
    scale-killer; this pins the fix."""
    from signal_messenger_vector_database_spark.operators.ann import ivf_assign

    emb = load_table(spark, SF, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    plan = _plan(ivf_assign(emb, centroids))
    assert "Window" not in plan, plan
    # partial aggregation present: HashAggregate appears on both sides of
    # the exchange (partial_min_by map-side, min_by reduce-side)
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_bm25_filters_posting_before_shuffle(spark):
    """BM25's query-term filter must sit directly on top of the shingle
    explode (map-side, below every Exchange) — the tf/df shuffle then only
    carries |query|-term postings, not the whole corpus index."""
    from signal_messenger_vector_database_spark.plans.retrieval import _bm25_topk

    plan = _plan(_bm25_topk(spark, SF))
    lines = plan.splitlines()
    gen_idx = [i for i, l in enumerate(lines) if "Generate explode" in l]
    assert gen_idx, plan
    for i in gen_idx:
        # the operator printed immediately above the explode is the term filter
        assert "Filter array_contains" in lines[i - 1], lines[max(0, i - 2) : i + 1]
    assert "CartesianProduct" not in plan and "Window" not in plan


def test_small_files_bounded_and_compacted(spark, tmp_path):
    """100 TB hygiene: maxRecordsPerFile bounds output file sizes at write
    time, and a coalesced rewrite compacts the small files back down —
    the two knobs that keep a table's file count sane."""
    import math
    import os

    df = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    n = df.count()
    out1 = str(tmp_path / "bounded")
    df.coalesce(1).write.option("maxRecordsPerFile", 1000).mode(
        "overwrite"
    ).parquet(out1)
    files1 = [f for f in os.listdir(out1) if f.endswith(".parquet")]
    assert len(files1) == math.ceil(n / 1000), (n, files1)

    out2 = str(tmp_path / "compacted")
    spark.read.parquet(out1).coalesce(1).write.mode("overwrite").parquet(out2)
    files2 = [f for f in os.listdir(out2) if f.endswith(".parquet")]
    assert len(files2) == 1
    assert spark.read.parquet(out2).count() == n


def test_max_partition_bytes_controls_scan_parallelism(spark):
    """spark.sql.files.maxPartitionBytes is the scan-parallelism knob the
    cluster-sizing recipe (ARCHITECTURE.md) turns: halving it must not
    DECREASE the number of scan partitions, and a small value must split
    the sf0.1 lineitem file into multiple tasks."""
    path = "/root/testdata/sf0.1/lineitem.parquet"
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    big = spark.read.parquet(path).rdd.getNumPartitions()
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 * 1024 * 1024))
    small = spark.read.parquet(path).rdd.getNumPartitions()
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    assert small >= big
    assert small > 1


def test_interval_join_binned_is_equi_join_not_nlj(spark):
    """The keyless range join must go through the bucket equi-join, never a
    BroadcastNestedLoopJoin / cartesian product (quadratic at scale)."""
    from signal_messenger_vector_database_spark.plans.scale_queries import (
        _interval_join_binned,
    )

    plan = _plan(_interval_join_binned(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the equi-join on the bucket key is present
    assert "bkt" in plan, plan


def test_join_hints_select_strategies(spark):
    """Join-strategy hints are the manual override when stats mislead the
    planner at scale: broadcast forces the build side resident, merge
    forces SMJ, shuffle_hash avoids the sort.  Each must surface in the
    physical plan."""
    l = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert "BroadcastHashJoin" in _plan(l.join(o.hint("broadcast"), "l_orderkey"))
        assert "SortMergeJoin" in _plan(l.join(o.hint("merge"), "l_orderkey"))
        assert "ShuffledHashJoin" in _plan(
            l.join(o.hint("shuffle_hash"), "l_orderkey")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_zorder_key_roundtrips_both_dimensions(spark):
    """The Morton key must encode BOTH dimensions losslessly: de-interleaving
    the bits recovers (partkey % 256, suppkey % 256) exactly."""
    from signal_messenger_vector_database_spark.plans.scale_queries import (
        _zorder_key,
    )

    for r in _zorder_key(spark, SF).collect():
        z = r["zkey"]
        a = sum(((z >> (2 * i)) & 1) << i for i in range(8))
        b = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
        assert a == r["l_partkey"] % 256
        assert b == r["l_suppkey"] % 256


def test_pagerank_shuffle_mode_buckets_edges_once(spark):
    """The scale-safe PageRank strategy (r2 VERDICT issue 3): edges are
    hash-partitioned ONCE by src key (`REPARTITION_BY_COL`) and every
    round's rank join reuses that partitioning — the plan must contain NO
    planner-inserted (`ENSURE_REQUIREMENTS`) exchange on the src key and
    no broadcast of the O(nodes) rank table.  Per round, only the
    per-destination contribution partial sums cross the wire."""
    import re

    from signal_messenger_vector_database_spark.plans.graph import (
        _edges,
        pagerank_rounds,
    )

    # a prior broadcast-mode run may have cached edges/deg; their cached
    # lineages print inside InMemoryRelation and would false-positive the
    # exchange regexes below
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        iters = 2
        plan = _plan(pagerank_rounds(_edges(spark, SF), iters, mode="shuffle"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)

    # the rank table is never broadcast (only the 1-row node-count frame
    # rides a BroadcastNestedLoopJoin cross join)
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    # edges bucketed exactly once on the src key, by us
    assert "REPARTITION_BY_COL" in plan, plan[:3000]
    # no round re-shuffles on the src key: every hashpartitioning(a...)
    # exchange is the explicit bucketing, never planner-inserted
    assert not re.search(
        r"hashpartitioning\(a#\d+, \d+\), ENSURE_REQUIREMENTS", plan
    ), plan[:3000]
    # exactly one contribution shuffle (dst key) per round
    assert (
        len(re.findall(r"hashpartitioning\(b#\d+, \d+\), ENSURE_REQUIREMENTS", plan))
        == iters
    ), plan[:3000]


def test_pagerank_auto_gate_picks_strategy(spark):
    """`mode='auto'` must gate on node count: tiny graph -> broadcast,
    above BROADCAST_NODE_LIMIT -> shuffle (checked by passing the count)."""
    from signal_messenger_vector_database_spark.plans import graph as G

    edges = G._edges(spark, SF)
    small = G.pagerank_rounds(edges, 1, mode="auto", node_count=100)
    big = G.pagerank_rounds(edges, 1, mode="auto", node_count=G.BROADCAST_NODE_LIMIT + 1)
    # broadcast mode hints the rank join; shuffle mode must not
    assert "REPARTITION_BY_COL" not in _plan(small)
    assert "REPARTITION_BY_COL" in _plan(big)


def _single_partition_exchanges_feed_only_aggregates(plan: str) -> bool:
    """Every `Exchange SinglePartition` must sit directly above a
    HashAggregate (i.e. only tiny pre-aggregated tables ever collapse to
    one task — never corpus-sized rows)."""
    for m in re.finditer(r"Exchange SinglePartition[^\n]*\n([^\n]*)", plan):
        if "HashAggregate" not in m.group(1):
            return False
    return True


def test_token_packing_cumsum_is_bucket_partitioned(spark):
    """r4-task-2 'done' criterion: the corpus-wide running token sum must
    run as a bucket-PARTITIONED window (parallel) + a prefix sum over the
    tiny per-bucket totals — never a global no-partition window over the
    documents (which collapses to ONE task)."""
    from signal_messenger_vector_database_spark.plans.traindata import SPECS

    plan = _plan(SPECS["token_packing"].fn(spark, SF))
    # the per-doc cumsum window is partitioned by bucket
    assert re.search(r"windowspecdefinition\(bucket#\d+L?, doc_id#", plan), plan[:3000]
    # no document-sized rows through a single task
    assert _single_partition_exchanges_feed_only_aggregates(plan), plan[:3000]


def test_zipf_fit_topn_is_take_ordered(spark):
    """r4-task-3 'done' criterion: the top-100 term selection must be a
    TakeOrderedAndProject (per-partition top-N + driver merge of N*parts
    rows), and the rank window must run AFTER the limit, over <=100 rows —
    no global sort or single-partition exchange of the full term table."""
    from signal_messenger_vector_database_spark.plans.stats import SPECS

    plan = _plan(SPECS["zipf_fit"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    # the only global window (rank over the top-100) consumes the limit
    assert re.search(
        r"Window \[row_number\(\)[^\n]*\n\s*\+- TakeOrderedAndProject", plan
    ), plan[:3000]


def test_rank_family_is_range_partitioned_two_pass(spark):
    """r4-task-6 / r5-task-4 / r6-ADVICE: rank_family must use the
    two-pass bucket + offset shape — a _pid-partitioned local row_number
    and single-task stages only for the ~|buckets|-row offset/total
    tables, never the old global no-partition window over the whole
    supplier table.  Since round 7 the bucket is a pure function of the
    key VALUE (sampled boundaries as literals), not spark_partition_id()
    after a range exchange: the r6 ADVICE showed the latter is only
    branch-stable while Catalyst reuses the canonicalized exchange."""
    from signal_messenger_vector_database_spark.plans.analytics import SPECS

    plan = _plan(SPECS["rank_family"].fn(spark, SF))
    assert re.search(r"windowspecdefinition\(_pid#\d+, s_acctbal#", plan), plan[:3000]
    # the old scale-killer: a window whose spec STARTS with the order
    # column (no partition key) over supplier-sized input
    assert not re.search(r"windowspecdefinition\(s_acctbal#\d+ DESC", plan), plan[:3000]
    # the r6 ADVICE hazard: _pid must not come from physical partition ids
    assert "SPARK_PARTITION_ID" not in plan.upper(), plan[:3000]
    assert _single_partition_exchanges_feed_only_aggregates(plan), plan[:3000]


def test_rank_family_matches_native_window_semantics(spark):
    """The two-pass rank_family must be value-identical to the native
    global-window formulation it replaced — including the ntile remainder
    branch (checked at sf0.001 where |supplier| % 4 == 2)."""
    from pyspark.sql.window import Window

    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.plans.analytics import SPECS

    got = {r.s_suppkey: r for r in SPECS["rank_family"].fn(spark, SF).collect()}
    supplier = load_table(spark, SF, "supplier")
    w = Window.orderBy(F.desc("s_acctbal"), "s_suppkey")
    want = {
        r.s_suppkey: r
        for r in supplier.select(
            "s_suppkey",
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
            F.round(F.cume_dist().over(w), 4).alias("cd"),
            F.ntile(4).over(w).alias("quartile"),
        ).collect()
    }
    assert len(got) == len(want) and len(got) % 4 != 0  # remainder branch live
    for k, g in got.items():
        assert tuple(g) == tuple(want[k]), (g, want[k])


def test_rank_family_ties_matches_native_window_semantics(spark):
    """The tie-aware two-pass rank family must be value-identical to the
    native global-window formulation over the non-unique o_orderdate key —
    the case where rank != dense_rank != row_number.  Also asserts the
    ties are REAL in the fixture (max tie group > 1) so the tie-group
    arithmetic is actually exercised, and that no global no-partition
    window over the orders table appears in the plan."""
    from pyspark.sql.window import Window

    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.plans.analytics import SPECS

    df = SPECS["rank_family_ties"].fn(spark, SF)
    plan = _plan(df)
    assert not re.search(r"windowspecdefinition\(o_orderdate#\d+ ASC", plan), plan[:3000]
    got = {r.o_orderkey: r for r in df.collect()}
    orders = load_table(spark, SF, "orders")
    assert (
        orders.groupBy("o_orderdate").count().agg(F.max("count")).first()[0] > 1
    ), "fixture has no o_orderdate ties; test is vacuous"
    w1 = Window.orderBy("o_orderdate")
    w2 = Window.orderBy("o_orderdate", "o_orderkey")
    want = {
        r.o_orderkey: r
        for r in orders.select(
            "o_orderkey",
            F.rank().over(w1).cast("long").alias("rk"),
            F.dense_rank().over(w1).cast("long").alias("drk"),
            F.round(F.cume_dist().over(w1), 4).alias("cd"),
            F.ntile(4).over(w2).cast("long").alias("quartile"),
        ).collect()
    }
    assert len(got) == len(want)
    assert any(g.rk != g.drk for g in got.values())  # ties diverge the pair
    for k, g in got.items():
        assert tuple(g) == tuple(want[k]), (g, want[k])


def test_q21_decorrelates_to_semi_and_anti_joins(spark):
    """The Q21 shape's EXISTS / NOT EXISTS self-correlations must reach
    the physical plan as one left-semi and one left-anti hash join on
    l_orderkey — if Catalyst ever fails to decorrelate, a per-row
    subquery would execute against the 100 TB fact table."""
    from signal_messenger_vector_database_spark.plans.tpch import SPECS

    plan = _plan(SPECS["q21_waiting_supplier"].fn(spark, SF))
    assert "LeftSemi" in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]


def test_semdedup_pair_join_is_equi_not_cartesian(spark):
    """semdedup's within-cluster pair join must reach the physical plan
    as a hash equi-join on the cluster key — a CartesianProduct (or a
    nested-loop pair join) would be the corpus-wide all-pairs blow-up the
    clustering exists to prevent."""
    from signal_messenger_vector_database_spark.plans.vectorops import _semdedup

    plan = _plan(_semdedup(spark, SF))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan), plan[:3000]


def test_bloom_prefiltered_join_injects_runtime_filter(spark):
    """With the application-side floor lowered, Spark must inject a bloom
    filter built from the selective orders side into the lineitem scan —
    the runtime-filter mechanism that cuts fact-side shuffle volume by
    join selectivity at scale. The result stays the plain join's."""
    from signal_messenger_vector_database_spark.plans.scale_queries import SPECS

    df = SPECS["bloom_prefiltered_join"].fn(spark, SF)
    plan = _plan(df)
    assert "bloomfilter" in plan.lower().replace("_", ""), plan[:3000]
    row = df.collect()[0]
    expected = (
        load_table(spark, SF, "lineitem")
        .join(
            load_table(spark, SF, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert row.n_lines == expected


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's automatic skew-join handling — the runtime complement to the
    manual salted_join operator: with one key holding ~99% of the fact
    side, the final adaptive plan must mark the sort-merge join skew=true
    (the hot partition split across tasks) and preserve the join result.
    Thresholds are lowered on a cloned session because the defaults are
    sized for real clusters, not fixture data."""
    s = spark.newSession()
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }.items():
        s.conf.set(k, v)
    fact = s.range(300000).select(
        F.when(F.col("id") % 100 < 99, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = s.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    agg = fact.join(dim, "k").select(F.sum(F.col("v") + F.col("w")).alias("t"))
    got = agg.collect()[0].t
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan[:3000]
    # ground truth: the identical join on the caller's session, default
    # planning (broadcast allowed, no skew rewrite)
    pfact = spark.range(300000).select(
        F.when(F.col("id") % 100 < 99, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    pdim = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    want = pfact.join(pdim, "k").select(F.sum(F.col("v") + F.col("w")).alias("t")).collect()[0].t
    assert got == want


def test_ivf_assign_hier_is_window_free_and_bounded_exchange(spark):
    """Both levels of the hierarchical assignment are computed in place
    on the vector rows (array_min / sort-and-slice over the broadcast
    level-1 state), never a window over the n*n_super routing cross
    and never an exchange of data rows: the plan's only aggregate is
    the state's ONE collect_list over the centroid table (partial +
    final), and its only shuffle is that aggregate's single-partition
    exchange."""
    from signal_messenger_vector_database_spark.operators.ann import (
        ivf_assign_hier,
        ivf_seed_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(ivf_assign_hier(emb, ivf_seed_centroids(emb, 8), 2))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning" not in plan, plan
    assert plan.count("Aggregate") == 2, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_route_query_cells_is_one_projection_over_one_state_row(spark):
    """The query-time router is a projection over ONE broadcast state
    row: its executed plan has no Window and no hash-partitioned
    Exchange (no per-centroid min_by shuffle, no per-query rank
    window), and the level-1 state (``centroid_super_map``) is built by
    exactly one aggregate exchange — single or batched queries alike."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.operators.ann import (
        centroid_super_map,
        ivf_seed_centroids,
        route_query_cells,
    )

    emb = load_table(spark, SF, "embeddings")
    cents = ivf_seed_centroids(emb, 8)
    one = emb.filter(F.col("vec_id") == 3).select(F.col("embedding").alias("qv"))
    batch = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    for routed in (
        route_query_cells(one, cents, 2, n_cells=2),
        route_query_cells(batch, cents, 2, n_cells=2, id_col="qid", with_rank=True),
    ):
        assert routed.collect()
        plan = _plan(routed)
        assert "isFinalPlan=true" in plan, plan
        assert "Window" not in plan, plan
        assert "hashpartitioning" not in plan, plan
    state = centroid_super_map(cents, 2)
    assert state.count() == 1
    splan = _plan(state)
    assert splan.count("Exchange") == 1, splan
    assert "Exchange SinglePartition" in splan, splan


def test_sketch_histogram_partial_aggregates_map_side(spark):
    """The quantile sketch's histogram must partial-aggregate below the
    exchange — each map task emits <= 256 bins per group (the mergeable-
    sketch shape); a plan where raw values cross the shuffle would be
    the scale bug."""
    from signal_messenger_vector_database_spark.plans.analytics import (
        _sketch_quantiles,
    )

    plan = _plan(_sketch_quantiles(spark, SF))
    lines = plan.splitlines()
    # find the histogram aggregate: a HashAggregate keyed on (event_type,
    # bin) must appear BELOW (after, in EXPLAIN print order) an Exchange
    # keyed the same way — i.e. partial aggregation exists
    agg_idx = [
        i
        for i, l in enumerate(lines)
        if "HashAggregate" in l and "bin" in l and "event_type" in l
    ]
    assert len(agg_idx) >= 2, plan  # partial + final


def test_semdedup_capped_split_is_window_free(spark):
    """The hash-balanced capped_cell_split adds NO window and no new
    pair shape: sub ids come from codegen md5 arithmetic, so the capped
    query's plan must contain exactly the windows/joins the uncapped
    one has — in particular zero Window nodes (the geometric split it
    replaced needed a per-cell rank window) and no cartesian shapes."""
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _semdedup_capped,
    )

    plan = _plan(_semdedup_capped(spark, SF))
    assert "Window" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_pq_operating_point_recall_joins_are_broadcast(spark):
    """The 5-row and 50-row recall-side joins must be broadcast (they
    are derived aggregates with no stats — the default plan was a
    SortMergeJoin on a 5-row side, caught by the r9 EXPLAIN audit), and
    the Lloyd rounds must be shuffle-free on the corpus side: the only
    aggregate exchanges allowed are the tiny (sub_j, code, pos)
    centroid updates and the serving-side (qid, vec_id) ADC sum."""
    from signal_messenger_vector_database_spark.plans.pq_trained import (
        _pq_operating_point,
    )

    plan = _plan(_pq_operating_point(spark, SF))
    assert "CartesianProduct" not in plan
    # the final qid joins: broadcast, not sort-merge on 5 rows.  Spark
    # prints join keys BETWEEN the node name and the join type
    # ("SortMergeJoin [qid#4L], [qid#6L], LeftOuter"), so the adjacent
    # substring would never match anything (r9 second review — the
    # first cut of this assertion was vacuous); match the node name.
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_tombstone_antijoin_sits_inside_the_shortlist(spark):
    """Deletion-aware serving (r13): the delete-log exclusion must be
    an ANTI join evaluated below the final top-k (TakeOrderedAndProject
    consumes the already-filtered candidates), and it must not be
    nested-loop — at 100 TB the delete log joins on the id equi-key."""
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _topk_ivf_tombstone,
    )

    plan = (
        _topk_ivf_tombstone(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    anti = plan.find("LeftAnti")
    assert anti != -1, plan[:3000]
    # the anti-join appears BELOW the top-k operator in the tree dump
    # (physical string lists parents before children)
    assert plan.find("TakeOrderedAndProject") < anti, plan[:3000]
    # equi-key anti join, not a nested loop over the delete log
    assert "BroadcastNestedLoopJoin BuildLeft, LeftAnti" not in plan
