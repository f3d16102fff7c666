"""Embedding similarity at scale: exact near-dup, hyperplane-LSH buckets,
and IVF-style cluster-pruned search.

E3 continuation (SURVEY §2.7): the brute-force top-k in ``topk.py`` is the
exact baseline; these are the scale paths.  An exact all-pairs cosine is
O(n^2) and only exists here as the small-data oracle-checkable variant;
the LSH and IVF operators generate candidates with equi-joins on bucket
keys, which is what survives 100 TB.

Hyperplanes/centroids are deterministic (HashEmbedder on fixed seed
strings / fixed fixture rows), so every run — and the DuckDB oracle, for
IVF — sees identical geometry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine, cosine_similarity, dot_product, norm
from .embed import HashEmbedder


def exact_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_partitions: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold — exact, O(n^2); the correctness
    baseline the LSH variant is tested against.

    Per-vector L2 norms are computed ONCE before the pair join (n fold
    passes), not per pair (2*n^2): cosine = dot(a,b)/(na*nb) with the
    same FP values as the naive form, 3x less flops in the O(n^2) hot
    loop (62 s -> ~20 s at sf0.1)."""
    from ..functions.vector import l2_norm

    # the fixture is one parquet file -> one scan partition; without a
    # repartition the whole O(n^2) probe runs on a single core.  Width
    # follows the cluster (defaultParallelism), not a baked-in core count
    # (r6 VERDICT task 7); callers can override for a known topology.
    if num_partitions is None:
        try:
            num_partitions = emb.sparkSession.sparkContext.defaultParallelism
        except Exception:
            # Spark Connect has no sparkContext (r13, the
            # ensure_parallelism tolerance): fall back to the session's
            # shuffle width — same order of magnitude, never raises
            num_partitions = int(
                emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
    a = emb.repartition(num_partitions).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_product("va", "vb") / (F.col("na") * F.col("nb")), 4
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def hyperplane_bucket(vec_col: str, dim: int, n_planes: int, table: int = 0) -> F.Column:
    """Random-hyperplane LSH bucket id for one hash table: the sign pattern
    of <v, r_j> for deterministic hyperplanes r_j (seeded per table).
    Vectors at angle theta collide with probability (1 - theta/pi)^n_planes."""
    planes = HashEmbedder(dim).embed_batch(
        [f"hyperplane-{table}-{j}" for j in range(n_planes)]
    )
    bits = [F.lit(f"t{table}:")]
    for j in range(n_planes):
        r = F.array(*[F.lit(float(x)) for x in planes[j]]).cast("array<double>")
        bits.append(F.when(dot_product(F.col(vec_col), r) >= 0, "1").otherwise("0"))
    return F.concat(*bits)


class LshGeometry(tuple):
    """(n_planes, n_tables) with the analytic recall attached.

    Subclasses tuple so existing ``planes, tables = lsh_geometry(...)``
    unpacking keeps working; ``predicted_recall`` and ``capped`` carry
    the trade-off the caller accepted (ADVICE r7: when the table cap
    binds at large n, the caller must SEE the recall they are getting
    instead of silently receiving an infeasible geometry)."""

    predicted_recall: float
    capped: bool

    def __new__(cls, n_planes: int, n_tables: int, predicted_recall: float, capped: bool):
        self = super().__new__(cls, (n_planes, n_tables))
        self.predicted_recall = predicted_recall
        self.capped = capped
        return self


def lsh_geometry(
    n_vectors: int,
    threshold: float = 0.35,
    target_bucket: int = 128,
    target_recall: float = 0.8,
    max_tables: int = 128,
) -> LshGeometry:
    """(n_planes, n_tables) scaled to the corpus.

    Planes grow log2(n) so the EXPECTED bucket population stays
    ~target_bucket — with a fixed plane count the bucket count is a
    constant, bucket size grows linearly with n, and the within-bucket
    verify join grows QUADRATICALLY (measured by tools/scaling_probe.py:
    2.1 s -> 17 s -> 515 s over 1x/4x/16x before this scaling).

    Tables come from LSH theory, not a heuristic: a vector pair at the
    cosine threshold collides under one hyperplane with probability
    p = 1 - acos(threshold)/pi, survives one table with q = p^planes,
    and is OR-amplified to recall 1 - (1-q)^tables — so holding recall
    at the target needs tables = ln(1-target) / ln(1-q).  A first cut
    grew tables linearly with planes; the probe measured its recall
    collapsing 0.46 -> 0.17 at 16x, because doubling tables cannot
    offset SQUARING q.  The super-linear table growth this implies
    (n^rho candidate work, rho = ln(1/p)/ln 2 — 0.70 at the fixture's
    hard 0.35 threshold, 0.22 at a production 0.9 near-dup threshold)
    is the real price of recall under LSH, paid in table count rather
    than hidden in a quadratic bucket join.

    Defaults (r8): ``target_recall=0.8`` — the 0.45 operating point r7
    shipped measured 0.508 at 16x, too weak a default; the recall sweep
    (tools/lsh_recall_sweep.py, SCALING.md) measured the 0.8-target
    geometry.  The oracle-paired fixture query pins the r1-era (4, 4)
    geometry by passing ``target_recall=0.45`` explicitly — its DuckDB
    twin bakes those literals (plans/similarity.py parity-scope note).

    ``max_tables`` caps the analytic count: unbounded, it reaches ~1e5
    tables at 1e9 vectors (ADVICE r7) — each table materializes a bucket
    row per vector, so that geometry is unbuildable.  When the cap
    binds, ``capped=True`` and ``predicted_recall`` reports the recall
    the capped geometry actually delivers, so callers choose eyes-open:
    accept the lower recall, raise the cap, or raise ``target_bucket``
    (fewer planes -> higher q -> fewer tables at quadratically more
    verify work per bucket)."""
    import math

    n_planes = max(4, math.ceil(math.log2(max(n_vectors, 1) / target_bucket)))
    p = 1.0 - math.acos(threshold) / math.pi
    q = p**n_planes
    n_tables = max(4, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - q)))
    capped = n_tables > max_tables
    if capped:
        n_tables = max_tables
    achieved = 1.0 - (1.0 - q) ** n_tables
    return LshGeometry(n_planes, n_tables, achieved, capped)


def lsh_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate near-dup pairs: bucket by hyperplane signs in each of
    ``n_tables`` independent hash tables (OR-amplified recall), equi-join
    on the bucket — the 100 TB path — then verify exact cosine within
    buckets.  Recall < 1 by construction; tests measure it on the fixture
    against ``exact_cosine_pairs``.  Size ``n_planes``/``n_tables`` with
    ``lsh_geometry`` so bucket population stays bounded as the corpus
    grows."""
    buckets = F.array(
        *[hyperplane_bucket(vec_col, dim, n_planes, t) for t in range(n_tables)]
    )
    # The bucket join carries IDS ONLY: at n_tables in the tens (the
    # 0.8-recall regime) shuffling the vectors through the explode would
    # move n_tables copies of every embedding — the vectors re-join once
    # AFTER the candidate pairs are deduped across tables, so the explode
    # shuffles ~24 bytes/row instead of ~520 and the expensive cosine
    # verify runs once per DISTINCT pair, not once per bucket collision.
    # Measured at 16x/(8,30): the old vector-carrying join did not finish
    # a 10-minute A/B budget; this shape runs in ~75 s (noop, warm).  A
    # broadcast hint on the vector re-join measured NEUTRAL at this scale
    # (AQE already plans the small side correctly), so none is forced.
    bucketed = emb.select(F.col(id_col), F.explode(buckets).alias("bucket"))
    a = bucketed.select(F.col(id_col).alias("id_a"), "bucket")
    b = bucketed.select(F.col(id_col).alias("id_b"), "bucket")
    cands = (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cosine_similarity("va", "vb"), 4).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def scaled_cluster_count(n: int, target: int = 125, floor: int = 8) -> int:
    """The corpus-scaled IVF/k-means cluster count, k = max(floor,
    n // target): cluster SIZE — the quadratic term of every in-cluster
    pair join — stays ~target as the corpus grows (the semdedup rule;
    wave-9 probe showed fixed k quadratic: 7.6/74/650 s at 1x/4x/16x).
    Shared by semdedup, knn_graph_ivf, and the retrieval-eval pieces so
    the rule cannot drift between plans and their SQL oracles."""
    return max(floor, n // target)


def hier_super_count(k: int) -> int:
    """Super-cell count for the two-level quantizer, n_super = max(2,
    floor(sqrt(k))) — the cost-minimizing choice for ivf_assign_hier
    (n*(n_super + nprobe*k/n_super) cosines is minimized at sqrt(k)).
    ONE rule shared by every hier consumer and its SQL oracle
    (plans/ivf_sql.py derives the identical GREATEST(2, FLOOR(SQRT(k)))
    in the shared CTE chain)."""
    import math

    return max(2, math.isqrt(k))


def ivf_seed_centroids(
    emb: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Seeded coarse quantizer: the first k vectors (id < k) as centroids
    — deterministic and oracle-replayable (both engines pick identical
    rows).  Unbalanced vs trained kmeans (mean cell ~n/k but the tail
    cell can run a small multiple); use kmeans_fit when cell-size
    variance matters."""
    return emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, centroid id
    tie-break): broadcast the centroid table, then ``groupBy(id).min_by``.

    The argmax is an aggregate, NOT a window: ``min_by`` over the
    ``(-csim, cid)`` struct partial-aggregates map-side, so only n rows
    (not n*k) ever cross the exchange.  A ``Window.partitionBy(id)`` +
    ``row_number`` formulation gets no partial aggregation and shuffles
    the full n*k cross product — the scale-killer this replaces.  This is
    the IVF build step; the centroid table is always broadcast.

    Norms are hoisted out of the n*k loop (the exact_cosine_pairs trick):
    csim = dot(v,c)/(|v|*|c|) with |v| computed once per vector and |c|
    once per centroid — bit-identical to the per-pair form (same fold,
    same sqrt, same divide), a third of the flops."""
    from ..functions.vector import l2_norm

    ev = emb.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("_nv")
    )
    cv = centroids.select(
        "cid", "cv", l2_norm("cv").alias("_nc")
    )
    joined = ev.crossJoin(F.broadcast(cv)).select(
        F.col(id_col),
        F.col("cid"),
        (dot_product(vec_col, "cv") / (F.col("_nv") * F.col("_nc"))).alias(
            "csim"
        ),
    )
    return joined.groupBy(id_col).agg(
        F.min_by("cid", F.struct((-F.col("csim")).alias("negsim"), F.col("cid"))).alias(
            "cid"
        )
    )


_MEMBER_TYPE = "array<struct<cid:bigint,cv:array<double>,_nc:double>>"


def _centroid_rows(centroids: DataFrame) -> DataFrame:
    """(cid, cv, _nc): the centroids as array<double> with their norms."""
    return centroids.select(
        "cid", F.col("cv").cast("array<double>").alias("cv")
    ).select("cid", "cv", F.expr(norm("cv")).alias("_nc"))


def _codebook(centroids: DataFrame) -> DataFrame:
    """ONE collect_list aggregate over the (tiny) centroid table: a
    single row ``_book`` holding every (cid, cv, _nc), sorted by cid."""
    return _centroid_rows(centroids).agg(
        F.array_sort(F.collect_list(F.struct("cid", "cv", "_nc"))).alias("_book")
    )


def _vector_rows(df: DataFrame, keys: list[str], vec_col: str) -> DataFrame:
    """(keys..., _v, _nv): the vectors as array<double> with their norms
    — the operands every rendered cosine below reads."""
    return df.select(
        *keys, F.col(vec_col).cast("array<double>").alias("_v")
    ).select(*keys, "_v", F.expr(norm("_v")).alias("_nv"))


def _super_sims(v: str, nv: str) -> str:
    """SQL text: ``(negsim, sid)`` for each super in the row's ``_sups``
    — the level-1 comparator (max cosine, then smallest sid)."""
    return (
        f"transform(_sups, s -> struct(-{cosine(v, 's.cv', nv, 's._nc')} "
        "AS negsim, s.cid AS sid))"
    )


def _top_supers(nprobe: int) -> str:
    """SQL text: the row's ``nprobe`` nearest supers, nearest first —
    the ONE probe list the build path and the router both route with."""
    return f"slice(array_sort({_super_sims('_v', '_nv')}), 1, {nprobe})"


def _cell_sims(members: str) -> str:
    """SQL text: ``(negsim, cid)`` for each centroid in ``members`` — the
    level-2 comparator (max cosine, then smallest cid)."""
    return (
        f"transform({members}, c -> struct("
        f"-{cosine('_v', 'c.cv', '_nv', 'c._nc')} AS negsim, c.cid AS cid))"
    )


def _candidates(nprobe: int) -> str:
    """SQL text: the (negsim, cid) structs of every centroid in the row's
    ``nprobe`` routed super-cells, read from the ``_cmap`` state."""
    return (
        f"flatten(transform({_top_supers(nprobe)}, "
        f"p -> {_cell_sims('element_at(_cmap, p.sid)')}))"
    )


def centroid_super_map(centroids: DataFrame, n_super: int) -> DataFrame:
    """The two-level quantizer's level-1 state, extracted so the build
    path (``ivf_assign_hier``) and the query-time router
    (``route_query_cells``) share ONE definition (the shared-definition
    rule — the SQL twin is the ``s``/``c2s`` CTE pair in
    plans/ivf_sql.py::hier_assign_ctes).

    Returns ONE row built by ONE aggregate: a collect_list over the
    k-row centroid table (``_codebook``) followed by a projection on
    that row — no shuffle per centroid, no second aggregate, no window.
    Its two fields:

    * ``_sups`` — the supers, the first n_super centroids (cid <
      n_super) as (cid, cv, _nc) structs sorted by cid;
    * ``_cmap`` — map sid -> that super's member centroids (cid, cv,
      _nc), sorted by cid.  Each centroid joins its nearest super (max
      cosine, sid tie-break), computed in place on the row by
      ``array_min`` over the ``_super_sims`` structs — the comparator the
      vectors route with.  Every super is a key (with an empty array
      when no centroid joins it), so a lookup by a routed sid never
      misses.

    The row is k-entry tiny and always broadcast by its consumers."""
    book = _codebook(centroids).select(
        "_book", F.expr(f"filter(_book, c -> c.cid < {n_super})").alias("_sups")
    )
    c2s = book.select(
        "_sups",
        F.expr(
            "transform(_book, c -> struct(c.cid AS cid, c.cv AS cv, "
            f"c._nc AS _nc, array_min({_super_sims('c.cv', 'c._nc')}).sid "
            "AS sid))"
        ).alias("_c2s"),
    )
    # group in ONE pass over _c2s (it is the folded array, never captured
    # by a per-super lambda — Catalyst inlines the projection below, and
    # a captured _c2s would be recomputed once per super); each member
    # array starts as an empty array of the (cid, cv, _nc) struct type
    # and is appended to in cid order
    return c2s.select(
        "_sups",
        F.expr(
            "aggregate(_c2s, map_from_arrays(transform(_sups, s -> s.cid), "
            "transform(_sups, s -> filter(array(s), x -> false))), "
            "(m, c) -> transform_values(m, (sid, ms) -> IF(sid = c.sid, "
            "concat(ms, array(struct(c.cid AS cid, c.cv AS cv, c._nc AS _nc))), "
            "ms)))"
        ).alias("_cmap"),
    )


def route_query_cells(
    q: DataFrame,
    centroids: DataFrame,
    n_super: int,
    nprobe: int = 3,
    n_cells: int = 1,
    vec_col: str = "qv",
    id_col: str | None = None,
    with_rank: bool = False,
) -> DataFrame:
    """Query-time multi-cell routing: the ``n_cells`` nearest coarse
    cells for ONE query vector, replaying EXACTLY the two-level rule
    ``ivf_assign_hier`` applies at build time (same shared
    ``centroid_super_map`` level-1 state, same ``_top_supers`` nprobe
    routing, same cosine arithmetic and tie-breaks) but keeping the top
    ``n_cells`` cells instead of the argmax.

    Why serving needs this when the stored assignment doesn't: the
    index stores each vector's ONE cell; a query that must widen its
    probe — an attribute-FILTERED search whose predicate thins every
    cell (a 10%-selective filter leaves ~12 candidates in a 125-row
    cell), or a recall target above the single-cell operating point —
    re-ranks over the union of its n_cells nearest cells.  Cost is
    O(n_cells x cell size) candidates against the same stored index;
    the routing itself is driver-free arithmetic over the k-row
    centroid table (no corpus scan).

    The routing is a projection over ONE broadcast state row: each
    query row cross-joins the level-1 state, picks its supers, flattens
    their ``_cmap`` members, sorts the (negsim, cid) structs and
    ``posexplode``s the first ``n_cells`` — no window, no hash shuffle,
    and the only aggregate is the state's one (a batch adds only the
    sort that gives its documented row order).

    ``q`` is a (vec_col) frame — 1 row, or a BATCH of query vectors
    when ``id_col`` names their key (routing is then per-query: the
    late-interaction / eval-sweep shape; the same projection per row).
    Returns (id_col?, cid) — plus ``cell_rank`` (1 = nearest) when
    ``with_rank`` is set, so an operating-curve consumer routes ONCE at
    its widest arm and slices ``cell_rank <= arm`` per arm.  Rows come
    back ordered by (id_col?, cell_rank); broadcast the result into the
    shortlist join.  The SQL twin is the qs/qcells CTE pair over the
    shared hier chain (the ``topk_ivf_filtered`` /
    ``filtered_recall_curve`` oracles)."""
    keys = [id_col] if id_col else []
    ranked = f"slice(array_sort({_candidates(nprobe)}), 1, {n_cells})"
    cells = (
        _vector_rows(q, keys, vec_col)
        .crossJoin(F.broadcast(centroid_super_map(centroids, n_super)))
        .select(*keys, F.posexplode(F.expr(ranked)).alias("_pos", "_c"))
        .select(
            *keys, F.col("_c.cid").alias("cid"), (F.col("_pos") + 1).alias("cell_rank")
        )
    )
    if keys:
        cells = cells.orderBy(*keys, "cell_rank")
    # one query row: posexplode already emits its cells nearest first,
    # and no sort or coalesce serializes the query scan's partitions
    return cells.select(*keys, "cid", *(["cell_rank"] if with_rank else []))


def ivf_assign_hier(
    emb: DataFrame,
    centroids: DataFrame,
    n_super: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    shard_threshold: int = 4096,
) -> DataFrame:
    """Two-level (hierarchical) coarse assignment — the scale path past
    flat ``ivf_assign``.

    With the corpus-scaled k ~ n/target, FLAT assignment costs n*k =
    n^2/target cosines: the pair joins it fences are linear, but the
    assignment itself becomes the next quadratic (wave-11 probe,
    ivf_maintenance: 0.75/0.74/3.13 s at 1x/4x/16x — the n*k term
    surfacing).  The two-level quantizer assigns each vector to its
    nearest SUPER-centroid (n * n_super cosines), then argmins only over
    the centroids belonging to that super-cell: n * (n_super + k/n_super)
    total, minimized at n_super ~ sqrt(k) -> n * 2*sqrt(k) — at k = 10^4
    that is 50x fewer cosines than flat.  The assignment is APPROXIMATE
    (a vector near a super-cell boundary can miss its true nearest
    centroid); both engines replay the identical two-level rule, so the
    approximation is deterministic and oracle-checkable, and
    ``ivf_hier_quality`` MEASURES the agreement with flat assignment
    instead of asserting it.

    Supers are the first n_super centroids (cid < n_super) — the seeded-
    centroid idiom one level up.  Both argmins are computed in place
    (array_min over (negsim, id) structs; no window, no min_by shuffle),
    and the level-1 state is broadcast.

    nprobe=3 is the measured default: on the fixture's HashEmbedder
    vectors — near-isotropic on the sphere, the WORST case for
    hierarchical routing since cosine space has no cluster structure —
    agreement with flat assignment is 1.0 / 1.0 / 0.85 at
    sf0.001/0.01/0.1 (ivf_hier_quality), the same >=0.8 operating
    floor as the LSH geometry.  The cost win is asymptotic: the ratio
    vs flat is (n_super + nprobe*k/n_super)/k — ~1 at the fixture's
    k=16 but 4% at k=10^4 (n_super=100): the knob exists for the
    corpus sizes where flat assignment is the quadratic, and the
    fixture measures its fidelity floor, not its savings.

    State representation (ADVICE r9): the default packs the whole
    codebook (all k centroids + the sid->members map) into ONE
    broadcast row — ``centroid_super_map``, built by a global
    collect_list aggregate, i.e. a single-task reduce, and bounded by
    Spark's 2 GB single-row limit.  Under the scaled-k rule that row
    grows linearly with the corpus (~600 B/centroid: ~2.5 MB at
    k=4096, ~600 MB at k=10^6), so when ``n_centroids`` (pass it when
    known — every catalog consumer does) exceeds ``shard_threshold``
    the SHARDED formulation is used instead: one member row per
    super-cell, built by a PARALLEL groupBy(sid) aggregate (each
    centroid's super computed in place against the broadcast ``_sups``
    row, with the same comparator), broadcast-joined once per probe
    rank on the routed sid — rows of ~sqrt(k)*600 B each, no global
    reduce of the codebook, no monolithic row, and still ZERO data-row
    exchanges (each vector routes via the tiny ``_sups`` row, then
    argmins in place over its nprobe joined member arrays).
    Comparators are identical — array_min over the union of the same
    (negsim, cid) structs — so both representations return
    bit-identical assignments (pinned by
    test_ivf_hier_sharded_matches_packed)."""
    ev = _vector_rows(emb, [id_col], vec_col)

    if n_centroids is not None and n_centroids > shard_threshold:
        # SHARDED state (see docstring): the supers row from the same
        # codebook builder, per-sid member rows from a parallel
        # aggregate; one broadcast hash join per probe rank on the
        # routed sid.  try_element_at: when n_super < nprobe the top
        # list is short and the missing ranks LEFT-join to null ->
        # empty candidate arrays (ANSI-safe).
        sups = _codebook(centroids.filter(F.col("cid") < n_super)).select(
            F.col("_book").alias("_sups")
        )
        members = (
            _centroid_rows(centroids)
            .crossJoin(F.broadcast(sups))
            .select(
                F.expr(f"array_min({_super_sims('cv', '_nc')}).sid").alias("sid"),
                F.struct("cid", "cv", "_nc").alias("_c"),
            )
            .groupBy("sid")
            .agg(F.array_sort(F.collect_list("_c")).alias("_members"))
        )
        routed = ev.crossJoin(F.broadcast(sups)).select(
            F.col(id_col), "_v", "_nv", F.expr(_top_supers(nprobe)).alias("_top")
        )
        for j in range(nprobe):
            mj = members.select(
                F.col("sid").alias(f"_sid{j}"), F.col("_members").alias(f"_m{j}")
            )
            routed = routed.join(
                F.broadcast(mj),
                F.try_element_at(F.col("_top"), F.lit(j + 1))["sid"]
                == F.col(f"_sid{j}"),
                "left",
            )
        cands = ", ".join(
            _cell_sims(f"coalesce(_m{j}, CAST(array() AS {_MEMBER_TYPE}))")
            for j in range(nprobe)
        )
        return routed.select(
            F.col(id_col), F.expr(f"array_min(concat({cands})).cid").alias("cid")
        )

    # PACKED state (r9, the kmeans-lloyd3 pattern applied to the whole
    # two-level assignment): the ``centroid_super_map`` row
    #   _sups : sorted array of (cid, cv, _nc)           [n_super entries]
    #   _cmap : map sid -> array of (cid, cv, _nc)       [k entries total]
    # built by ONE aggregate over the centroid table.  Every vector row
    # then routes AND argmins IN PLACE — the first cut shuffled n rows
    # TWICE (a collect_list routing groupBy + a min_by level-2 groupBy);
    # at 100 TB those were two full-corpus exchanges for an assignment
    # whose state is k tiny arrays.  Comparators are unchanged: routing
    # sorts (negsim, sid) structs ascending and slices nprobe
    # (identical to the collect/sort/slice aggregate), level-2 takes
    # array_min over (negsim, cid) structs (identical to min_by) — both
    # replay the same doubles, so every downstream oracle is
    # bit-unchanged.
    best = f"array_min({_candidates(nprobe)}).cid"
    return ev.crossJoin(F.broadcast(centroid_super_map(centroids, n_super))).select(
        F.col(id_col), F.expr(best).alias("cid")
    )


def capped_cell_split(
    vecs: DataFrame,
    cap: int,
    id_col: str = "vec_id",
    cell_col: str = "cluster",
    hash_col: str | None = None,
) -> DataFrame:
    """Bound cell size BY CONSTRUCTION: every cell larger than ``cap``
    is split into ceil(|c| / (cap/2)) HASH-BALANCED sub-cells; returns
    (id, cell, sub) with sub = 0 for cells at or under the cap.
    Fencing pair joins on (cell, sub) then caps candidate volume
    regardless of the data distribution.

    Why hash, not geometry (SCALING.md wave 14): a mass blob — half the
    corpus pulled near one point, the boilerplate/template regime —
    defeats every GEOMETRIC split identically.  Lloyd-trained centroids
    leave the blob in one cell (measured: max cell 15,001 trained vs
    15,150 seeded at 16x, 113M vs 115M fenced pairs, a >50 min
    single-task straggler), and a within-cell seeded sub-quantizer
    re-collapses too: every blob member's nearest sub-centroid is the
    blob center itself (measured: 3,141-member cell -> 2,959-member
    sub-cell).  Nearest-by-cosine always prefers the center; recursing
    just peels non-blob members.  A hash split is balanced by
    construction (md5 of the id — the engine-portable hash the dedup
    family already uses), costs zero cosines, and its recall trade is
    benign exactly where it binds: a cell only exceeds the cap when the
    corpus is blob-skewed, blob members are MUTUAL near-dups, so every
    sub-cell still drops all-but-one and only cross-sub REPRESENTATIVE
    pairs (~k_sub extra keeps out of |c| members) survive.  For diverse
    oversized cells the lost cross-sub candidates are the documented
    LSH-style approximation.
    """
    sub_target = max(2, cap // 2)
    sizes = vecs.groupBy(cell_col).agg(F.count(F.lit(1)).alias("_csz"))
    big = sizes.filter(F.col("_csz") > cap)
    # hash_col (default: the id itself) is what the md5 bucket hashes —
    # pass a GROUP key (e.g. a pair id) when co-members must land in
    # the same sub-cell (the bitext planted-pair eval)
    # exclude cell_col too: hash_col == cell_col would select the
    # column twice and break downstream references (ADVICE r10)
    hcols = [hash_col] if hash_col not in (None, id_col, cell_col) else []
    tagged = vecs.select(id_col, cell_col, *hcols).join(
        F.broadcast(big), cell_col, "left"
    )
    k_sub = F.ceil(F.col("_csz") / F.lit(float(sub_target))).cast("long")
    # md5-derived bucket: first 4 hex chars -> [0, 65536), mod k_sub.
    # Engine-portable (the simhash hex-arithmetic trick) and uniform.
    from .dedup import _hex_to_int

    hv = _hex_to_int(F.md5(F.col(hash_col or id_col).cast("string")), 4)
    return tagged.select(
        F.col(id_col),
        F.col(cell_col),
        F.when(F.col("_csz").isNull(), F.lit(0))
        .otherwise(hv % k_sub)
        .cast("int")
        .alias("sub"),
    )
