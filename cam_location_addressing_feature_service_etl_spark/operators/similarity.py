"""Embedding similarity search — ANN over an ``array<float>`` column.

Brute-force cosine top-k is the correctness baseline; IVF bucketing
(assign-to-nearest-centroid, search within bucket) is the scale path:
at 100 TB the cross join disappears and each probe touches one
bucket's partitions only. All math is built-in column expressions
(``zip_with`` + ``aggregate``) — JVM-side, codegen-friendly, no UDFs.

Argmin/argmax discipline (r16): nearest-cell decisions are map-only —
the centroid set is broadcast as ONE sorted ``array<struct>`` row and
each vector reduces it with ``array_min`` over (−cosine, centroid_id)
structs, which is exactly the (cosine DESC, centroid_id ASC) window
ordering the previous plan shuffled n×k rows to evaluate (struct
ordering is field-lexicographic; Spark's double ordering treats ±0.0
as equal, so the negation cannot reorder ties). Equivalence to the
window form is pinned in ``tests/test_kmeans.py``.

Determinism: dot products fold left in array order in both Spark and
the DuckDB oracle; cosines are rounded to ``_DIGITS`` before ranking so
tie-breaking (neighbor id asc) is reproducible across engines.

Every operator here reads ids from ``vec_id`` and vectors from
``embedding`` (``semdedup_keep_first`` takes its vector column).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_DIGITS = 6  # cosine rounding, identical on the DuckDB side
_TILES = 8  # cosine_pairs_above's hash tiles per side


def dot_col(a: Column, b: Column) -> Column:
    """Left-fold dot product in array order (matches DuckDB's
    list_dot_product evaluation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def as_double_array(c: Column) -> Column:
    return c.cast("array<double>")


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small (it is broadcast); ``vectors``
    streams through one pass — O(|Q|·|V|) work but a single scan and
    no shuffle except the per-query top-k (window on query id).
    """
    # norms are precomputed ONCE per vector (not per pair): same fold
    # order as the per-pair form, so the doubles are bit-identical,
    # but the scoring loop runs 1 array fold per pair instead of 3.
    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double_array(F.col("embedding")).alias("qv")
    ).withColumn("qn", norm_col(F.col("qv")))
    v = vectors.select(
        F.col("vec_id").alias("neighbor_id"), as_double_array(F.col("embedding")).alias("nv")
    ).withColumn("nn", norm_col(F.col("nv")))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_col(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")),
                _DIGITS,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def _centroid_arr(centroids: DataFrame) -> DataFrame:
    """Collapse the centroid set to ONE row holding a
    ``sort_array``-by-id array of ``struct(centroid_id, cv, cn)`` —
    the broadcast build for the map-side argmax (sorted so the first
    maximal-cosine element is the lowest centroid id, the window
    tie-break the previous plan used)."""
    return (
        centroids.select(
            F.col("vec_id").alias("centroid_id"),
            as_double_array(F.col("embedding")).alias("cv"),
        )
        .withColumn("cn", norm_col(F.col("cv")))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("centroid_id", "cv", "cn"))
            ).alias("_cents")
        )
    )


def _cell_ranking(vec: Column, vnorm: Column) -> Column:
    """Array of ``struct(ncos, centroid_id)`` over the broadcast
    ``_cents`` array, where ``ncos`` = NEGATED rounded cosine — so
    ascending struct order is (cosine DESC, centroid_id ASC), the
    exact ordering the previous row_number window used (Spark double
    ordering treats ±0.0 as equal, so negation cannot reorder ties)."""
    return F.transform(
        F.col("_cents"),
        lambda s: F.struct(
            (-F.round(dot_col(vec, s["cv"]) / (vnorm * s["cn"]), _DIGITS)).alias(
                "ncos"
            ),
            s["centroid_id"].alias("centroid_id"),
        ),
    )


def _assign_with_vec(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, vec) → (vec_id, centroid_id, nv, nn) by nearest-cosine cell,
    MAP-ONLY: the centroid array is broadcast and the argmax is
    ``array_min`` over (−cosine, centroid_id) structs. Carrying the
    vector and its norm through lets :func:`ivf_search` score
    candidates without re-joining the member table (the previous plan
    paid an n×k Exchange+Sort for the window argmax plus an n⋈n join
    to re-attach vectors)."""
    v = vectors.select(
        "vec_id", as_double_array(F.col("embedding")).alias("nv")
    ).withColumn("nn", norm_col(F.col("nv")))
    best = F.array_min(_cell_ranking(F.col("nv"), F.col("nn")))
    return v.crossJoin(F.broadcast(_centroid_arr(centroids))).select(
        "vec_id", best["centroid_id"].alias("centroid_id"), "nv", "nn"
    )


def ivf_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (IVF cells).

    Centroids are broadcast as ONE sorted array row and the argmax is
    a map-only ``array_min`` over (−cosine, centroid_id) structs —
    same rounded cosine expression, same centroid-id-ascending
    tie-break as the row_number-window form it replaces, with NO
    exchange (the window shape shuffled n×k scored rows by vector id).
    At scale the resulting (vec_id, centroid_id) map is what you write
    as the cell-bucketed layout searches co-partition against.
    """
    return _assign_with_vec(vectors, centroids).select("vec_id", "centroid_id")


def ivf_search(
    vectors: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    pair_predicate: Column | None = None,
) -> DataFrame:
    """IVF ANN search: each query probes its ``nprobe`` nearest cells
    and is scored exactly against only those cells' members.

    Guarantee (the property the recall test asserts): the result is
    EXACT top-k over the probed candidate set, so any true global
    neighbor whose cell is probed is always returned, and recall is
    monotonically non-decreasing in ``nprobe`` (a superset candidate
    pool can only keep more of the true top-k).

    Plan shape (r16): cell assignment and probe selection are both
    MAP-SIDE against the one-row broadcast centroid array (see
    :func:`_assign_with_vec` / :func:`_cell_ranking`) and the
    assignment carries each member's vector+norm, so candidates come
    from ONE broadcast hash join (probe rows = |Q|·nprobe, hint-pinned
    — a query batch is bounded by contract) and the only exchange in
    the whole search is the final per-query top-k window. The previous
    shape paid the assignment window's n×k Exchange+Sort, the probe
    window's |Q|×k exchange, and an n⋈n members re-join. At scale the
    member side is stored bucketed by ``centroid_id`` and the probe
    join touches only those buckets' partitions; centroids broadcast.

    ``pair_predicate`` (over columns ``query_id``, ``neighbor_id``,
    ``cosine``) restricts the candidate pairs BEFORE the top-k rank —
    the hook for filtered retrieval (hard-negative mining excludes the
    anchor's own label and caps the score; a metadata filter excludes
    forbidden sources). Filtering before the rank is what makes the
    result the exact top-k of the RESTRICTED pool, not a post-filter
    of the unrestricted top-k (which could return < k rows and lose
    deeper valid neighbors)."""
    assigned = _assign_with_vec(vectors, centroids).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double_array(F.col("embedding")).alias("qv")
    ).withColumn("qn", norm_col(F.col("qv")))
    # probe selection: top-nprobe cells per query as a map-side
    # array_sort + slice over the same broadcast centroid array (the
    # previous plan windowed |Q|×k rows — one more exchange for the
    # identical (cosine DESC, centroid_id ASC) ranking)
    ranked = F.slice(
        F.array_sort(_cell_ranking(F.col("qv"), F.col("qn"))),
        1,
        nprobe,
    )
    probes = q.crossJoin(F.broadcast(_centroid_arr(centroids))).select(
        "query_id",
        "qv",
        "qn",
        F.explode(ranked).alias("_p"),
    ).select("query_id", "qv", "qn", F.col("_p.centroid_id").alias("centroid_id"))
    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot_col(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")),
            _DIGITS,
        ).alias("cosine"),
    )
    if pair_predicate is not None:
        scored = scored.filter(pair_predicate)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def normalized_col(a: Column) -> Column:
    """Unit-normalize: each element divided by the fold-left L2 norm.
    Same op order as the DuckDB oracle's list_transform, so the bits
    entering the pair kernel are identical in both engines."""
    return F.transform(a, lambda x: x / norm_col(a))


def cosine_pairs_above(
    vectors: DataFrame,
    threshold: float,
) -> DataFrame:
    """All pairs (a<b) with cosine ≥ threshold, as a fully distributed
    tiled GEMM — the driver never materializes the matrix.

    Plan shape (one shuffle):

    1. unit-normalize JVM-side (``transform``/``aggregate`` exprs);
    2. tile each vector by ``xxhash64(id) % T`` and replicate it to its
       tile-pair groups — tile ``t`` serves as the A side of pairs
       ``(t, t..T-1)`` and the B side of pairs ``(0..t, t)``, so the
       T(T+1)/2 upper-triangle tile pairs each see exactly the rows
       they need (replication factor T+1, shuffle volume N·(T+1));
    3. ``applyInPandas`` per tile pair runs one numpy/BLAS GEMM
       A @ Bᵀ and keeps entries ≥ threshold.

    Diagonal groups (ta == tb) hold each vector on both sides; the
    strict ``id_a < id_b`` mask keeps the triangle. Off-diagonal
    groups hold disjoint sides, every cross pair appears in exactly
    one group, and ids are emitted (min, max) — so the union over
    groups is exact and duplicate-free.

    Scale: T is ``_TILES``; size it as T ≈ N·bytes_per_row /
    executor_block budget so a tile pair (2 blocks + the score tile)
    fits one task.
    At 100 TB nothing changes: no broadcast, no driver state, skew-free
    hash tiling, and the GEMM stays BLAS-vectorized per task. The float
    delta between BLAS accumulation and a sequential fold is ~1e-15
    relative — far inside the 1e-6 rounding applied on both sides.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    v = (
        vectors.select(
            F.col("vec_id").alias("vid"),
            normalized_col(as_double_array(F.col("embedding"))).alias("nv"),
        )
        .withColumn("t", F.pmod(F.xxhash64("vid"), F.lit(_TILES)).cast("int"))
    )
    # Side A: tile t participates in pairs (t, tb) for tb >= t.
    a_side = (
        v.select(
            "vid",
            "nv",
            "t",
            F.explode(F.sequence(F.col("t"), F.lit(_TILES - 1))).alias("tb"),
        )
        .select(
            (F.col("t") * _TILES + F.col("tb")).alias("grp"),
            F.lit(0).alias("side"),
            "vid",
            "nv",
        )
    )
    # Side B: tile t participates in pairs (ta, t) for ta <= t.
    b_side = (
        v.select(
            "vid",
            "nv",
            "t",
            F.explode(F.sequence(F.lit(0), F.col("t"))).alias("ta"),
        )
        .select(
            (F.col("ta") * _TILES + F.col("t")).alias("grp"),
            F.lit(1).alias("side"),
            "vid",
            "nv",
        )
    )
    both = a_side.unionByName(b_side)

    out_schema = StructType(
        [
            StructField("id_a", LongType(), False),
            StructField("id_b", LongType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": np.int64, "id_b": np.int64, "cosine": np.float64}
        )
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return empty
        grp = int(pdf["grp"].iloc[0])
        diagonal = (grp // _TILES) == (grp % _TILES)
        a_ids = a["vid"].to_numpy(dtype=np.int64)
        b_ids = b["vid"].to_numpy(dtype=np.int64)
        a_mat = np.vstack(a["nv"].to_numpy())
        b_mat = np.vstack(b["nv"].to_numpy())
        sims = np.round(a_mat @ b_mat.T, _DIGITS)
        mask = sims >= threshold
        if diagonal:
            mask &= a_ids[:, None] < b_ids[None, :]
        else:
            mask &= a_ids[:, None] != b_ids[None, :]
        ia, ib = np.nonzero(mask)
        lo = np.minimum(a_ids[ia], b_ids[ib])
        hi = np.maximum(a_ids[ia], b_ids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": sims[ia, ib]})

    return both.groupBy("grp").applyInPandas(kernel, out_schema)


def semdedup_keep_first(
    assigned: DataFrame,
    threshold: float,
    vec_col: str = "nv",
) -> DataFrame:
    """SemDeDup within-cluster pruning (Abbas et al. 2023): given
    (id, cluster, unit-normalized vector), flag each vector ``kept``
    unless SOME same-cluster vector with a smaller id has cosine >=
    threshold — the deterministic keep-first variant of the paper's
    pruning (prune against all prior points, kept or not, matching the
    reference implementation's max-sim-to-others test).

    One shuffle on the cluster key, then one numpy/BLAS GEMM per
    cluster inside ``applyInPandas`` — the cluster bounds the
    quadratic BY DESIGN (the paper's core trick: k grows with the
    corpus so cell sizes stay constant, and a cell always fits one
    task; if cells ever outgrow a task, tile the cell with the
    ``cosine_pairs_above`` hash-tiling and aggregate the prune flag —
    same math, two shuffles). A per-pair JVM fold was measured 4x
    slower here: Spark higher-order functions are interpreted per
    element, while the GEMM is one BLAS call per cell
    (SCALING.md r10 note)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("cluster", LongType(), False),
            StructField("kept", BooleanType(), False),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        m = np.vstack(pdf["v"].to_numpy())
        sims = np.round(m @ m.T, _DIGITS)
        # prior[i, j] == True: i < j (id order) and sims >= threshold
        prior = np.triu(sims >= threshold, k=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["c"].to_numpy(dtype=np.int64),
                "kept": ~prior.any(axis=0),
            }
        )

    base = assigned.select(
        F.col("vec_id").alias("vid"),
        F.col("cluster").alias("c"),
        F.col(vec_col).alias("v"),
    )
    return base.groupBy("c").applyInPandas(kernel, out_schema)


def mmr_greedy_col(cands: Column, k: int, lam: float, one_minus: float) -> Column:
    """Full greedy-MMR trajectory as ONE map-side expression over a
    collected shortlist array — no per-step jobs, joins or windows.

    ``cands`` is ``array<struct<vec_id,e,rel>>`` (one query's shortlist;
    ``rel`` already rounded to 6 digits). Returns
    ``array<struct<sel_rank,vec_id,e,rel,mmr_score>>`` of the ``k``
    greedy picks: first pick is pure relevance, each later pick is
    argmax ``lam*rel - one_minus*max-sim-to-selected`` with the score
    rounded to 6 digits BEFORE the argmax and ties broken on vec_id —
    bit-identical to the per-step join/window form this replaces
    (pinned by ``tests/test_walks_mmr_textrank.py``):

    - every argmax is ``array_sort`` over ``(-score, vec_id, ...)``
      structs + take-first; struct comparison is field-lexicographic
      and Spark's double ordering treats ±0.0 as equal, so negation
      cannot reorder ties (the same discipline as the kmeans argmin);
    - the max-sim over the selected set is ``array_max`` over the SAME
      ``round(cosine, 6)`` doubles the join form aggregated with
      ``F.max`` — max is comparison-based, so the fold order cannot
      change the value;
    - each step's scored array is evaluated exactly once: the pick is
      rebuilt from the sorted array's first element via ``transform``
      over a 1-element ``slice`` (a lambda variable is a bound VALUE,
      so the cosines are not re-evaluated per field access — the
      CollapseProject per-element re-evaluation trap);
    - an exhausted shortlist contributes an empty slice, so the
      trajectory simply stops growing (the join form's empty-pick
      behavior).

    Scale shape: the rerank is per-query LOCAL work — one row in, one
    row out, zero shuffles, and queries parallelize embarrassingly;
    cost per row is O(k * |cands| * |selected| * dims) scalar ops on
    a <= |cands|-element array.
    """

    def _ranked(items: Column, score_neg) -> Column:
        return F.array_sort(
            F.transform(
                items,
                lambda c: F.struct(
                    score_neg(c).alias("neg"),
                    c["vec_id"].alias("vec_id"),
                    c["e"].alias("e"),
                    c["rel"].alias("rel"),
                ),
            )
        )

    first = F.transform(
        F.slice(_ranked(cands, lambda c: -c["rel"]), 1, 1),
        lambda b: F.struct(
            F.lit(1).cast("long").alias("sel_rank"),
            b["vec_id"].alias("vec_id"),
            b["e"].alias("e"),
            b["rel"].alias("rel"),
            b["rel"].alias("mmr_score"),
        ),
    )

    def step(acc: Column, i: Column) -> Column:
        remaining = F.filter(
            cands,
            lambda c: ~F.exists(acc, lambda s: s["vec_id"] == c["vec_id"]),
        )
        ranked = _ranked(
            remaining,
            lambda c: -F.round(
                F.lit(lam) * c["rel"]
                - F.lit(one_minus)
                * F.array_max(
                    F.transform(
                        acc, lambda s: F.round(cosine_col(c["e"], s["e"]), 6)
                    )
                ),
                6,
            ),
        )
        return F.concat(
            acc,
            F.transform(
                F.slice(ranked, 1, 1),
                lambda b: F.struct(
                    i.cast("long").alias("sel_rank"),
                    b["vec_id"].alias("vec_id"),
                    b["e"].alias("e"),
                    b["rel"].alias("rel"),
                    (-b["neg"]).alias("mmr_score"),
                ),
            ),
        )

    return F.aggregate(F.sequence(F.lit(2), F.lit(k)), first, step)
