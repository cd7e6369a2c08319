"""Similarity search over embedding columns (array<float>).

- :func:`brute_force_knn` — exact cosine top-k, the correctness
  baseline.  All arithmetic is Catalyst (zip_with/aggregate), so the
  scan is JVM-side; the per-query ranking is a window over a crossJoin
  restricted to the (small) query set — broadcast the queries.
- :func:`lsh_bucketed_knn` — the scale path: random-hyperplane LSH
  buckets both sides; candidates only within matching buckets, then
  exact cosine rank.  Planes are derived deterministically from md5,
  so results are reproducible and oracle-expressible.  Recall < 1 by
  construction (that's the trade); raise n_planes→smaller buckets,
  lower→higher recall.

- :func:`ivf_knn` — inverted-file ANN: partition the corpus into
  ``n_lists`` Voronoi cells around centroid vectors, probe the
  ``nprobe`` cells nearest each query, exact cosine re-rank inside
  the probed cells.  Centroids default to a deterministic seed (the
  ``n_lists`` lowest-id corpus vectors — oracle-expressible); feed
  :func:`kmeans_refine` output for learned centroids at scale.

At 100 TB the corpus side stays partitioned; only the query side is
broadcast.  IVF and LSH share the same join shape: candidates come
from an equi-join on a small int cell/bucket id, the corpus is never
shuffled, and cell assignment is a map-only pass.  Assignment has two
strategies (``assign=``): ``literal`` folds the centroid set into the
plan as constants (fastest at small ``n_lists`` — whole-stage codegen
over fused multiply-adds), ``broadcast`` ships the centroids as DATA
via a one-row broadcast relation cross-joined in (expression tree
stays O(1), so ``n_lists`` can reach the thousands a 10^10-vector
corpus wants); ``auto`` switches at ``_IVF_LITERAL_MAX_LISTS``.  Both
are shuffle-free over the corpus and bit-identical in output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from realdeal_spark.lake.merge import (
    OP_COL,
    OP_DELETE,
    OP_UPDATE,
    MergeResult,
    merge_apply,
)
from realdeal_spark.lake.table import (
    _BUCKET_COL,
    _DELETED_COL,
    LakeTable,
    _write_partitions,
    interval_epoch_id,
    interval_step,
    interval_watermark,
)


def _dot(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda a, z: a + z
    )


def cosine_expr(x: Column, y: Column) -> Column:
    return _dot(x, y) / (F.sqrt(_dot(x, x)) * F.sqrt(_dot(y, y)))


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine per query vector.

    Output: (query_id, vec_id, cosine, rank).  Excludes self-matches.
    Queries are broadcast (small side by contract)."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_expr(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")  # deterministic tiebreak
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def plane_sign(p: int, j: int) -> float:
    """Component j of hyperplane p: +1 iff the md5 of ``plane-{p}-{j}``
    is even (hashlib.md5 == Spark md5 == DuckDB md5 on the same
    bytes, so the oracle regenerates the identical planes)."""
    import hashlib

    h = int(hashlib.md5(f"plane-{p}-{j}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def hyperplane_projections_expr(
    vec: Column, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Array of the raw projections of ``vec`` onto each hyperplane —
    the bucket id is the sign pattern of this array; multi-probe uses
    the *magnitudes* (|projection| = distance to the plane = how
    likely the true neighbors sit on the other side)."""
    projs = []
    for p0 in range(n_planes):
        p = plane_offset + p0
        consts = F.array(*[F.lit(plane_sign(p, j)) for j in range(dim)])
        projs.append(
            F.aggregate(
                F.zip_with(vec, consts, lambda x, c: x * c),
                F.lit(0.0),
                lambda a, z: a + z,
            )
        )
    return F.array(*projs)


def hyperplane_bits_expr(
    vec: Column, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """LSH bucket id: sign bits against ``n_planes`` deterministic
    ±1-component hyperplanes.

    ``plane_offset`` selects an independent plane family (planes
    ``offset .. offset+n_planes-1``) — multi-table LSH uses offsets
    ``t * n_planes`` for table t to boost recall.

    The plane components are Python-side constants folded into the
    plan as ±1 literals — an earlier draft derived them with in-plan
    md5/conv expressions and paid dim×n_planes hash evaluations *per
    row* (the expression tree also fell out of whole-stage codegen);
    constants keep the per-row work at dim×n_planes fused
    multiply-adds.  Integer-exact given exact vector values, hence
    reproducible and oracle-expressible.
    """
    bucket = F.lit(0)
    for p0 in range(n_planes):
        p = plane_offset + p0
        consts = F.array(*[F.lit(plane_sign(p, j)) for j in range(dim)])
        # compact fold instead of a dim-term Add chain: an unrolled
        # 8×64-term tree was ~4000 expression nodes — too big for
        # whole-stage codegen and slow even to analyze (10s of
        # driver+interpretation per query at dim=64).  Same left-to-
        # right summation order, so oracle parity is unchanged.
        proj = F.aggregate(
            F.zip_with(vec, consts, lambda x, c: x * c),
            F.lit(0.0),
            lambda a, z: a + z,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p0)).otherwise(0)
    return bucket


def lsh_bucketed_knn(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.

    Join on bucket id (an int) instead of a crossJoin — candidate set
    shrinks ~2^n_planes-fold; exact cosine re-rank inside buckets.

    ``probes > 1`` is classic multi-probe LSH (Lv et al., VLDB'07):
    each query additionally probes the ``probes - 1`` perturbed
    buckets with the lowest perturbation cost, where a perturbation
    flips a *subset* of the query's lowest-|projection| bits and its
    cost is the summed |projection| of the flipped planes (distance
    to the plane = how likely the true neighbor sits on the other
    side; flipping two near-zero planes can beat flipping one
    far-from-zero plane, so multi-bit flips are enumerated too).
    The query side explodes to ``probes`` rows *before* the
    broadcast, so the corpus side still does one equi-join and is
    never shuffled; candidate volume grows ~linearly in ``probes``
    while recall recovers most of what high ``n_planes`` costs
    (measured on uniform-random 16-dim vectors at 8 planes — the
    adversarial worst case, where true neighbors are barely closer
    than random: recall@5 0.02 single-probe → 0.16 / 0.25 / 0.39 at
    probes = 4 / 8 / 16, i.e. ≥0.3 while still touching only 16 of
    256 buckets — test_lsh_knn_multiprobe_recall; on realistic
    near-duplicate data single-probe recall is already ~1.0 —
    test_lsh_knn_recall_floor).  Corpus buckets are disjoint,
    so a candidate cannot appear under two probes of one query — no
    dedup pass needed.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).withColumn("bucket", hyperplane_bits_expr(F.col("_cv"), dim, n_planes))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    if probes <= 1:
        q = q.withColumn("bucket", hyperplane_bits_expr(F.col("_qv"), dim, n_planes))
    else:
        # Perturbations are subsets of the m lowest-margin planes; m is
        # the smallest width whose 2^m - 1 non-empty subsets cover the
        # requested probe count (capped at 5 → ≤31 perturbations, a
        # bounded expression tree regardless of n_planes).
        m = 1
        while (1 << m) - 1 < probes - 1 and m < min(n_planes, 5):
            m += 1
        if probes - 1 > (1 << m) - 1:
            raise ValueError(
                f"probes={probes} exceeds 1 + (2^{m} - 1) = {(1 << m)} "
                f"perturbations available at n_planes={n_planes} (flip "
                f"subsets of the {m} lowest-margin planes)"
            )
        q = q.withColumn(
            "_projs", hyperplane_projections_expr(F.col("_qv"), dim, n_planes)
        )
        bucket = F.lit(0)
        for p in range(n_planes):
            bucket = bucket + F.when(
                F.col("_projs")[p] > 0, F.lit(1 << p)
            ).otherwise(0)
        q = q.withColumn("_home", bucket)
        # (margin, plane) sorted ascending: _ord[j] = j-th closest plane
        q = q.withColumn(
            "_ord",
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_planes - 1)),
                    lambda i: F.struct(
                        F.abs(F.element_at(F.col("_projs"), i + 1)).alias("m"),
                        i.alias("i"),
                    ),
                )
            ),
        )
        # Enumerate every non-empty subset of the m closest planes:
        # cost = summed margins of the flipped planes, delta = XOR mask.
        perts = []
        for mask in range(1, 1 << m):
            cost = F.lit(0.0)
            delta = F.lit(0)
            for j in range(m):
                if mask >> j & 1:
                    ent = F.element_at(F.col("_ord"), j + 1)
                    cost = cost + ent["m"]
                    # shiftleft needs a literal bit count; pow is exact
                    # for these small exponents
                    delta = delta + F.pow(F.lit(2.0), ent["i"].cast("double")).cast(
                        "int"
                    )
            perts.append(F.struct(cost.alias("c"), delta.alias("d")))
        probe_buckets = F.concat(
            F.array(F.struct(F.lit(0.0).alias("c"), F.lit(0).alias("d"))),
            F.slice(F.array_sort(F.array(*perts)), 1, probes - 1),
        )
        q = q.withColumn(
            "bucket",
            F.explode(
                F.transform(
                    probe_buckets, lambda s: F.col("_home").bitwiseXOR(s["d"])
                )
            ),
        ).drop("_projs", "_home", "_ord")
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_expr(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


def ivf_seed_centroids(
    corpus: DataFrame,
    n_lists: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid seeds: the ``n_lists`` lowest-id corpus
    vectors, cell id = the seed's own vec_id.

    This is the oracle-expressible analogue of k-means seeding (at
    corpus scale you would sample instead of taking a prefix, then
    refine with :func:`kmeans_refine` — the downstream join shape is
    identical either way).  The collect is ``n_lists`` rows by
    construction: centroids are driver-resident so they can be folded
    into the assignment expression as literals, which is what makes
    cell assignment a shuffle-free map."""
    rows = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy("_id")
        .limit(n_lists)
        .collect()
    )
    return [(int(r["_id"]), [float(x) for x in r["_v"]]) for r in rows]


# Above this many cells, folding centroids into the plan as literals
# stops scaling: the expression tree (and codegen input) grows as
# O(n_lists × dim) and a 100-TB corpus wants thousands of lists.  The
# broadcast path below keeps the expression tree O(1) by shipping the
# centroids as DATA — a one-row broadcast relation cross-joined in —
# while the per-row arithmetic (and the results, bit-for-bit) stay
# identical.
_IVF_LITERAL_MAX_LISTS = 128


def _resolve_assign(assign: str, n_lists: int) -> str:
    if assign not in ("auto", "literal", "broadcast"):
        raise ValueError(f"assign={assign!r} not in auto|literal|broadcast")
    if assign != "auto":
        return assign
    return "literal" if n_lists <= _IVF_LITERAL_MAX_LISTS else "broadcast"


def _centroids_df(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """One-row DataFrame holding the whole centroid set as a nested
    array — the broadcast-assignment carrier.  A single row means the
    broadcast cross-join duplicates nothing: every corpus row
    references the same broadcast row, gains a ``_cents`` column,
    computes its cell, and drops it."""
    rows = [
        ([
            {"cid": int(cid), "v": [float(x) for x in cv]}
            for cid, cv in centroids
        ],)
    ]
    return spark.createDataFrame(
        rows, "_cents array<struct<cid: bigint, v: array<double>>>"
    )


def _cell_ranking_col(
    vec: Column, cents: Column, vec_norm: Column | None = None
) -> Column:
    """:func:`_cell_ranking_expr` with the centroids as a COLUMN
    (array<struct<cid, v>>) instead of plan literals.  Every term uses
    the same left-to-right F.aggregate fold, the same round scale and
    the same (-cos, cid) sort struct, so both paths rank — and tie —
    identically; tests pin the bit-equality."""
    nv = vec_norm if vec_norm is not None else F.sqrt(_dot(vec, vec))
    return F.array_sort(
        F.transform(
            cents,
            lambda s: F.struct(
                (
                    -F.round(
                        _dot(vec, s["v"]) / (nv * F.sqrt(_dot(s["v"], s["v"]))), 6
                    )
                ).alias("c"),
                s["cid"].cast("long").alias("cid"),
            ),
        )
    )


def _attach_ranking(
    df: DataFrame,
    vec_col: str,
    norm_col: str,
    centroids: list[tuple[int, list[float]]],
    assign: str,
    out_col: str = "_rk",
) -> DataFrame:
    """Add the sorted cell-ranking array under ``out_col`` via the
    resolved assignment strategy.  Both are map-only over ``df``: the
    literal path is a pure projection; the broadcast path is a
    one-row BroadcastNestedLoopJoin (no shuffle of ``df``, no row
    duplication) followed by the same projection."""
    mode = _resolve_assign(assign, len(centroids))
    if mode == "literal":
        return df.withColumn(
            out_col, _cell_ranking_expr(F.col(vec_col), centroids, F.col(norm_col))
        )
    cents = _centroids_df(df.sparkSession, centroids)
    return (
        df.crossJoin(F.broadcast(cents))
        .withColumn(
            out_col,
            _cell_ranking_col(F.col(vec_col), F.col("_cents"), F.col(norm_col)),
        )
        .drop("_cents")
    )


def _cell_ranking_expr(
    vec: Column,
    centroids: list[tuple[int, list[float]]],
    vec_norm: Column | None = None,
) -> Column:
    """array<struct<c: double, cid: long>> sorted ascending by
    (-round(cosine, 6), cid) — element 1 is the best (nearest) cell,
    the first ``nprobe`` elements are the probe set.

    Every term (dot, norms, round) uses the same left-to-right
    F.aggregate fold as :func:`cosine_expr`, and the centroid norm is
    computed in-plan over the literal array rather than in Python —
    bit-identical to an oracle that ranks by
    ``round(cos, 6) DESC, cid ASC`` with the same summation order.

    ``vec_norm``: pass ``sqrt(dot(vec, vec))`` as a pre-computed
    column to evaluate it once instead of once per centroid — the
    identical expression, so numerically a no-op; callers hoist it
    with a withColumn because Catalyst does not CSE across the
    ``n_lists`` array entries (measured ~25% of assignment cost at
    n_lists=16, dim=64)."""
    nv = vec_norm if vec_norm is not None else F.sqrt(_dot(vec, vec))
    entries = []
    for cid, cv in centroids:
        consts = F.array(*[F.lit(float(x)) for x in cv])
        cos = F.round(_dot(vec, consts) / (nv * F.sqrt(_dot(consts, consts))), 6)
        entries.append(
            F.struct((-cos).alias("c"), F.lit(int(cid)).cast("long").alias("cid"))
        )
    return F.array_sort(F.array(*entries))


def kmeans_refine(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_iter: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign: str = "auto",
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd iterations over seed centroids.

    Each round: (1) assign every corpus vector to its nearest centroid
    — a map-only pass (centroids are plan literals, no join); (2) new
    centroid = element-wise mean per cell via posexplode →
    groupBy(cell, pos) avg — the only shuffle, and it carries
    ``n_rows × dim`` scalar rows that partial-aggregate map-side down
    to ``n_lists × dim``.  Cells that lose all members keep their old
    centroid (standard Lloyd fallback).  Per round the driver collects
    ``n_lists`` rows — the same driver-resident-centroid contract as
    MLlib KMeans' final model.
    """
    cur = list(centroids)
    for _ in range(n_iter):
        assigned = _attach_ranking(
            corpus.select(F.col(vec_col).cast("array<double>").alias("_v"))
            .withColumn("_nv", F.sqrt(_dot(F.col("_v"), F.col("_v")))),
            "_v",
            "_nv",
            cur,
            assign,
        ).withColumn("_cell", F.element_at(F.col("_rk"), 1)["cid"])
        means = (
            assigned.select("_cell", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("_cell", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_m")))
                ).alias("_s")
            )
            .select(
                "_cell", F.transform("_s", lambda s: s["_m"]).alias("_centroid")
            )
            .collect()
        )
        new = {int(r["_cell"]): [float(x) for x in r["_centroid"]] for r in means}
        cur = [(cid, new.get(cid, cv)) for cid, cv in cur]
    return cur


def _with_cells(
    df: DataFrame,
    vec: str,
    centroids: list[tuple[int, list[float]]],
    assign: str,
    nprobe: int | None = None,
) -> DataFrame:
    """``df`` plus a long ``list_id``: the nearest cell of ``vec`` —
    or, with ``nprobe``, one row for each of its ``nprobe`` nearest
    cells (the probe set).  Map-only either way (see
    :func:`_attach_ranking`)."""
    ranked = _attach_ranking(
        df.withColumn("_nv", F.sqrt(_dot(F.col(vec), F.col(vec)))),
        vec,
        "_nv",
        centroids,
        assign,
    )
    rk = F.col("_rk")
    cell = (
        F.element_at(rk, 1)["cid"]
        if nprobe is None
        else F.explode(F.transform(F.slice(rk, 1, nprobe), lambda s: s["cid"]))
    )
    return ranked.withColumn("list_id", cell).drop("_nv", "_rk")


def _probes(queries, vec_col, id_col, centroids, nprobe, assign) -> DataFrame:
    """(query_id, _qv, list_id): each query once per probed cell."""
    if nprobe < 1 or nprobe > len(centroids):
        raise ValueError(f"nprobe={nprobe} out of range 1..{len(centroids)}")
    return _with_cells(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        ),
        "_qv",
        centroids,
        assign,
        nprobe,
    )


def _top_k(cells: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact cosine re-rank of the (list_id, vec_id, _cv) candidates
    sharing a probed cell with each query (broadcast)."""
    scored = (
        cells.join(F.broadcast(q), on="list_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_expr(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    assign: str = "auto",
) -> DataFrame:
    """Approximate top-k via an inverted file: candidates share one of
    the query's ``nprobe`` nearest Voronoi cells.

    Output: (query_id, vec_id, cosine, rank) — same contract as
    :func:`lsh_bucketed_knn`.  ``nprobe == n_lists`` degenerates to
    exact brute force (every cell probed), which pins the semantics in
    tests.  Corpus cells are disjoint (each vector lives in exactly
    one list), so a candidate cannot appear under two probes of one
    query — no dedup pass.

    Scale shape: assignment is a map — ``n_lists × dim`` fused
    multiply-adds per row with the centroids either folded into the
    plan as literals (small ``n_lists``) or carried by a one-row
    broadcast relation (``assign="broadcast"``, the large-``n_lists``
    path; see module docstring) — no shuffle either way; the
    candidate join is an equi-join on a small long cell id with the
    query side exploded to ``nprobe`` rows and broadcast; the corpus
    is never shuffled.  Versus LSH: recall degrades gracefully
    with data geometry instead of cliff-ing with n_planes, at the cost
    of a centroid-management step (seed or :func:`kmeans_refine`).
    """
    if centroids is None:
        centroids = ivf_seed_centroids(corpus, n_lists, vec_col, id_col)
    q = _probes(queries, vec_col, id_col, centroids, nprobe, assign)
    c = _with_cells(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("_cv"),
        ),
        "_cv",
        centroids,
        assign,
    )
    return _top_k(c, q, k)


# ---------------------------------------------------------------------------
# persisted IVF index (build once, query many, CDC-maintained)
# ---------------------------------------------------------------------------

_IVF_PREFIX = "ivf:"
_IVF_ORD = "_ord"


def _index_centroids(snap) -> list[tuple[int, list[float]]]:
    if snap.centroids is None:
        raise ValueError("not an IVF index: its table carries no centroids")
    return [(int(cid), [float(x) for x in cv]) for cid, cv in snap.centroids]


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    n_lists: int = 16,
    kmeans_iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign: str = "auto",
    centroids: list[tuple[int, list[float]]] | None = None,
    table_version: int | None = None,
) -> dict:
    """Materialize an IVF index as a LakeTable at ``index_dir`` (which
    must not hold a table yet).

    :func:`ivf_knn` re-assigns the whole corpus on every call — fine
    for one-shot jobs, wasteful for a query service.  This stores
    ``(list_id, vec_id, embedding)`` once, keyed by ``(list_id,
    vec_id)`` and bucket-hashed on ``list_id`` alone
    (``n_buckets = n_lists``), so :func:`ivf_knn_indexed` reads ONLY
    the probed cells' buckets — the inverted-file property made
    physical, per-query cost O(corpus × nprobe / n_lists).  Rows
    whose vector is null are left out (a vector-less key cannot be a
    neighbor).

    The centroids are pinned here, in the index table's metadata
    (``Snapshot.centroids``), and never move: the advance and every
    query read them from the snapshot they read.  ``kmeans_iters >
    0`` refines the deterministic seeds with distributed Lloyd first;
    ``centroids`` pins the geometry instead of seeding — the
    rebuild-for-comparison path of :func:`ivf_index_advance` (an
    advanced index must equal a rebuild over the SAME centroids).

    ``table_version`` names the snapshot of the source LakeTable the
    corpus was read at; the one data commit then carries the interval
    epoch id ``ivf:0-<table_version>``, which is the watermark that
    makes the index advanceable.  Every row's ``_ord`` (the order
    column) is that version, 0 without one.  Returns ``{"n_lists",
    "centroids"[, "table_version"]}``."""
    if centroids is None:
        centroids = ivf_seed_centroids(corpus, n_lists, vec_col, id_col)
        if kmeans_iters:
            centroids = kmeans_refine(
                corpus,
                centroids,
                n_iter=kmeans_iters,
                vec_col=vec_col,
                id_col=id_col,
                assign=assign,
            )
    meta = {"n_lists": len(centroids), "centroids": [[c, v] for c, v in centroids]}
    ord_v = 0 if table_version is None else int(table_version)
    idx = LakeTable.create(
        corpus.sparkSession,
        index_dir,
        f"list_id bigint, vec_id {corpus.schema[id_col].dataType.simpleString()}, "
        f"embedding array<double>, {_IVF_ORD} bigint",
        key_columns=["list_id", "vec_id"],
        order_columns=[_IVF_ORD],
        n_buckets=len(centroids),
        soft_delete=True,  # merge_apply requires it; the advance deletes
        bucket_columns=["list_id"],
    )
    base = idx.snapshot()
    rows = _with_cells(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        ).where(F.col("embedding").isNotNull()),
        "embedding",
        centroids,
        assign,
    ).select(
        "list_id",
        "vec_id",
        "embedding",
        F.lit(ord_v).cast("long").alias(_IVF_ORD),
        idx.bucket_expr(base).alias(_BUCKET_COL),
        F.lit(False).alias(_DELETED_COL),
    )
    idx.commit(
        base,
        "ivf-build",
        add=idx._write_delta(
            rows.repartition(_write_partitions(len(centroids)), _BUCKET_COL), base
        ),
        epoch_id=(
            None if table_version is None
            else interval_epoch_id(_IVF_PREFIX, 0, ord_v)
        ),
        centroids=meta["centroids"],
    )
    if table_version is not None:
        meta["table_version"] = ord_v
    return meta


def _unstamped(*_):
    raise ValueError(
        "index carries no table_version — build it with "
        "build_ivf_index(..., table_version=...) to make it advanceable"
    )


def ivf_index_advance(
    table,
    index_dir: str,
    to_version: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign: str = "auto",
) -> MergeResult | None:
    """Advance a persisted IVF index to a newer snapshot of ``table``
    (default: its current version) from the changes feed alone — the
    CDC-maintained secondary index.

    A 10^10-vector index cannot be rebuilt per epoch.  Cell assignment
    is a pure function of (vector, centroids), so the feed's pre-image
    (``read_changes(include_preimage=True)``) names the cell each
    stale entry lives in — no inverted lookup, no index scan.  Each
    change becomes index events, stamped ``_ord = to_version``:

    - a net upsert with a non-null vector upserts ``(new_cell, key,
      embedding)``;
    - a key that was deleted, or whose cell changed (null-safe; a
      vector that became null has no cell), deletes ``(old_cell,
      key)``.

    One copy-on-write ``merge_apply`` lands them, so only the buckets
    of old and new cells are rewritten and untouched buckets keep
    their files.  This is the value index's step
    (lake/valueindex.py) with a computed value and a carried payload.

    Exactly-once through :func:`interval_step`: the interval
    ``(watermark, to]`` commits under the epoch id ``ivf:<from>-<to>``
    in the same snapshot as its rows, so a crash before that commit
    leaves the index at its old version (readers never see half an
    advance) and the re-run applies the interval whole; a target at
    or below the watermark is a no-op.  An index built without
    ``table_version`` has no watermark and raises ValueError: it is
    never bootstrapped over.  Contract (tested): advance(v1→v2) ==
    build at v2 over the same centroids.  Returns the MergeResult, or
    None for a no-op.

    Reference analogue: none — the reference re-scrapes and re-renders
    whole reports per run (realdeal/luigi/email_deals.py); incremental
    secondary-index maintenance is the Spark-first recast of "keep
    derived artifacts current without recomputing them".
    """
    idx = LakeTable(table.spark, index_dir)
    if ivf_index_watermark(idx) is None:
        _unstamped()

    def interval(epoch_id, fv, tv):
        cents = _index_centroids(idx.snapshot())
        ch = table.read_changes(fv, tv, include_preimage=True).select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
            "change_type",
        )
        live = (F.col("change_type") == "upsert") & F.col("embedding").isNotNull()
        cur = _with_cells(
            ch.where(F.col("change_type") != "update_preimage"),
            "embedding", cents, assign,
        ).withColumn("list_id", F.when(live, F.col("list_id")))
        old = _with_cells(
            ch.where(
                (F.col("change_type") == "update_preimage")
                & F.col("embedding").isNotNull()
            ),
            "embedding", cents, assign,
        ).select("vec_id", F.col("list_id").alias("_old"))
        j = cur.join(old, on="vec_id", how="left").withColumn(
            _IVF_ORD, F.lit(int(tv)).cast("long")
        )
        ups = j.where(F.col("list_id").isNotNull()).select(
            "list_id", "vec_id", "embedding", _IVF_ORD,
            F.lit(OP_UPDATE).alias(OP_COL),
        )
        dels = j.where(
            F.col("_old").isNotNull() & ~F.col("list_id").eqNullSafe(F.col("_old"))
        ).select(
            F.col("_old").alias("list_id"), "vec_id", _IVF_ORD,
            F.lit(OP_DELETE).alias(OP_COL),
        )
        return merge_apply(
            idx, ups.unionByName(dels, allowMissingColumns=True), epoch_id=epoch_id
        )

    return interval_step(
        table, idx, _IVF_PREFIX, _unstamped, interval, to_version=to_version
    )


def ivf_index_watermark(idx: LakeTable) -> int | None:
    """The source version the IVF index table ``idx`` reflects (from
    its ``ivf:<from>-<to>`` epoch ids), None if it was built without
    ``table_version``."""
    return interval_watermark(idx, _IVF_PREFIX)


def ivf_surface(table, index_dir: str, **advance_kw):
    """A persisted IVF index as a maintained surface
    (``streaming.Surface``); ``advance_kw`` pass through to
    :func:`ivf_index_advance`.  There is no snapshot bootstrap here:
    build the index with ``build_ivf_index(..., table_version=...)``
    first — the advance rejects an unstamped one."""
    from functools import partial

    from realdeal_spark.streaming.cdf_source import Surface

    return Surface(
        table,
        partial(ivf_index_watermark, LakeTable(table.spark, index_dir)),
        partial(ivf_index_advance, table, index_dir, **advance_kw),
    )


def ivf_knn_indexed(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign: str = "auto",
) -> DataFrame:
    """Top-k over a persisted IVF index (see :func:`build_ivf_index`).

    One snapshot of the index table serves the whole query: its
    centroids rank each query's cells, and the one collect of the
    probed cell ids also returns their buckets, so the scan is
    ``read(buckets=...)`` of at most ``nprobe`` buckets per query
    (check ``inputFiles()``) filtered to ``list_id IN (probed)``.  A
    concurrent advance commits a new snapshot and cannot change what
    this query reads.  The candidate join and re-rank are the same
    plan as :func:`ivf_knn`.
    """
    idx = LakeTable(spark, index_dir)
    snap = idx.snapshot()
    q = _probes(queries, vec_col, id_col, _index_centroids(snap), nprobe, assign)
    probed = q.select("list_id", idx.bucket_expr(snap).alias("_b")).distinct().collect()
    cells = (
        idx.read(snapshot=snap, buckets=sorted({r["_b"] for r in probed}))
        .where(F.col("list_id").isin([r["list_id"] for r in probed]))
        .select("list_id", "vec_id", F.col("embedding").alias("_cv"))
    )
    return _top_k(cells, q, k)
