"""Distributed linear algebra over embedding columns: Gram-matrix PCA
via power iteration, and product-quantization code assignment.

Everything is computed in EXACT integer/decimal arithmetic (micro-unit
fixed point) so results are bit-identical across engines — the same
discipline the repo's verify notes mandate for float aggregates, taken
to its conclusion: no float aggregation at all. ``FLOOR(x*1e6 + 0.5)``
of an IEEE double is deterministic (multiply, add, floor are all
exactly-rounded single operations), integer sums/products are exact in
Spark DECIMAL(38,0) and DuckDB HUGEINT alike, and division appears
only as integer division of non-negative operands (sign carried
separately), where truncation and floor coincide.

Scale design:

- The Gram matrix is the classic d² reduction: one pass over the data
  producing d² partial products per partition (map-side combined), so
  the shuffle moves O(d² × partitions) rows no matter how many input
  vectors exist. Power iteration then runs on the d×d frame — constant
  size, independent of corpus scale.
- PQ assignment broadcasts the (m × k × d/m)-row codebook and makes
  one pass over the vectors; the argmin is a lexicographic struct MIN,
  not a window, so no second wide shuffle.

Reference parity: the reference engine has no linear-algebra surface;
these extend the similarity-search family (SURVEY §2 extensions) the
way ``operators/similarity.py`` does for ANN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..runtime import materialize

#: fixed-point scale for embedding components.
MICRO = 1_000_000
#: the vector id column every index and search operator reads
_ID_COL = "vec_id"


def micro_array(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, xs) with xs[k] = FLOOR(v[k]*1e6 + 0.5) as array<long> — the
    exact fixed-point view of an array<float> column, computed map-only
    (multiply, add, floor are each single exactly-rounded IEEE ops, so
    the integers are engine-independent)."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda v: F.floor(v * MICRO + F.lit(0.5)).cast("long"),
        ).alias("xs"),
    )


def micro_components(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, pos, xi) exploded view of :func:`micro_array`. ``pos`` is
    1-based to match SQL ``generate_subscripts``."""
    return micro_array(df, id_col, vec_col).select(
        id_col,
        F.posexplode("xs").alias("pos0", "xi"),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "xi")


def gram_matrix(xs: DataFrame) -> DataFrame:
    """Exact Gram matrix G[i,j] = Σ_v xs_v[i]·xs_v[j] over a micro-unit
    array frame (:func:`micro_array` output), as (i, j, g) with g
    DECIMAL(38,0).

    Each vector expands to its d² product terms MAP-SIDE — the i-side
    is exploded while the full component array rides along for the
    j-side, so there is no self-join and zero shuffle before the
    aggregate (a join-on-id form would exchange data that is already
    row-local). The aggregate is map-side combinable, so the shuffle
    carries at most d² rows per task — the standard "tall matrix →
    tiny Gram" reduction that makes PCA a one-pass distributed job.
    Products are exact in BIGINT (|xi| ≲ 1e7 micro-units → |xi·xj| ≲
    1e14) and summed as DECIMAL(38,0), good to ~1e23 vectors."""
    i_side = xs.select(F.posexplode("xs").alias("i0", "xa"), F.col("xs").alias("_ys"))
    both = i_side.select(
        (F.col("i0") + 1).alias("i"),
        "xa",
        F.posexplode("_ys").alias("j0", "xb"),
    )
    return (
        both.groupBy("i", (F.col("j0") + 1).alias("j"))
        .agg(
            F.sum((F.col("xa") * F.col("xb")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("g")
        )
    )


def power_iteration(gram: DataFrame, rounds: int) -> DataFrame:
    """Fixed-round power iteration v ← G·v over the exact Gram frame,
    renormalized to micro-units each round by INTEGER division:
    v'[i] = sign(u[i]) · (|u[i]|·1e6 div max|u|), u = G·v.

    Every operation is exact (decimal products/sums, non-negative
    integer division), so after a fixed number of rounds the integer
    vector is a pure function of the input — oracle-checkable like the
    repo's other fixed-round iteratives (PageRank, CC, BPE). The frame
    is d rows; each round is a broadcast-scale join, cost independent
    of corpus size. Returns (pos, vi) with vi BIGINT micro-units."""
    # The (expensive, corpus-scale) Gram subtree feeds EVERY round's
    # plan plus the node derivation: materialize it once, coalesced to
    # a single task — it is d² rows, metadata-sized.
    gram = gram.coalesce(1).transform(materialize)
    d_rows = gram.select(F.col("i").alias("pos")).distinct()
    v = d_rows.select("pos", F.lit(MICRO).cast("long").alias("vi"))
    for r in range(rounds):
        u = (
            gram.join(v.withColumnRenamed("pos", "j"), "j")
            .groupBy(F.col("i").alias("pos"))
            .agg(
                F.sum(F.col("g") * F.col("vi").cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias("u")
            )
        )
        mx = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        v = (
            u.crossJoin(F.broadcast(mx))
            .select(
                "pos",
                (
                    # nullif + coalesce: a degenerate all-zero corpus
                    # makes max|u| = 0 (then every u = 0 too) — define
                    # the result as the zero vector instead of an ANSI
                    # division-by-zero error; the DuckDB oracle carries
                    # the same NULLIF so both engines agree.
                    F.signum(F.col("u")).cast("long")
                    * F.coalesce(
                        F.expr(f"CAST((abs(u) * {MICRO}) DIV nullif(m, 0) AS BIGINT)"),
                        F.lit(0).cast("long"),
                    )
                ).alias("vi"),
            )
        )
        if r < rounds - 1:
            v = v.transform(materialize)
    return v


def pca_project(x: DataFrame, v: DataFrame) -> DataFrame:
    """Projection of each micro-unit vector onto the (micro-unit)
    dominant direction: proj = Σ_i x[i]·v[i], exact BIGINT. One
    broadcast join + aggregate — map-side combinable, no wide shuffle."""
    return (
        x.join(F.broadcast(v), "pos")
        .groupBy(_ID_COL)
        .agg(F.sum(F.col("xi") * F.col("vi")).cast("long").alias("proj"))
    )


def pq_codes(
    x: DataFrame,
    codebook_ids: int,
    sub_dims: int,
) -> DataFrame:
    """Product-quantization code assignment with an exact integer
    metric: dims are split into ``d/sub_dims`` subspaces; the vectors
    with id < ``codebook_ids`` serve as the (deterministic) codebook;
    each (vector, subspace) is assigned the codebook entry minimizing
    the exact squared L2 distance in micro-units, ties broken by
    smaller code.

    The argmin is ``MIN(struct(dist, code))`` — lexicographic struct
    min — so the plan is two partial-aggregatable groupBys and zero
    window functions. The codebook side is broadcast (m·k·sub_dims
    rows). Returns (id, subspace, code, dist_sq)."""
    xs = x.select(
        _ID_COL,
        ((F.col("pos") - 1) / sub_dims).cast("long").alias("subspace"),
        "pos",
        "xi",
    )
    cb = (
        xs.filter(F.col(_ID_COL) < codebook_ids)
        .select(F.col(_ID_COL).alias("code"), "subspace", "pos", F.col("xi").alias("ci"))
    )
    diff = xs.join(F.broadcast(cb), ["subspace", "pos"])
    per_code = (
        diff.groupBy(_ID_COL, "subspace", "code")
        .agg(F.sum((F.col("xi") - F.col("ci")) * (F.col("xi") - F.col("ci"))).alias("dist_sq"))
    )
    best = (
        per_code.groupBy(_ID_COL, "subspace")
        .agg(F.min(F.struct("dist_sq", "code")).alias("best"))
        .select(
            _ID_COL,
            "subspace",
            F.col("best.code").alias("code"),
            F.col("best.dist_sq").alias("dist_sq"),
        )
    )
    return best


def ivfpq_index(
    xs: DataFrame,
    n_cells: int,
    codebook_ids: int,
    sub_dims: int,
) -> DataFrame:
    """IVF-PQ index build — the FAISS-style composite: a coarse
    quantizer assigns each vector to its nearest cell, then the
    RESIDUAL (vector − cell centroid) is product-quantized. Encoding
    residuals instead of raw vectors is the IVF-PQ trick: residual
    energy is much smaller than vector energy, so the same code budget
    quantizes far more precisely.

    Deterministic setup mirroring ``sim_ann_ivf_bucketed``: cell
    centroids are the vectors with id < ``n_cells``; the PQ codebook
    entries are the residuals of the ``codebook_ids`` lowest-id
    members. All distances are exact integer squared-L2 in micro
    units, so the index is bit-identical across engines.

    Plan shape (the 100 TB story): centroids and codebook are
    broadcast; cell assignment is a JVM ``zip_with``/``aggregate``
    fold over the broadcast pair (no explode, no shuffle); the only
    shuffles are the two partial-aggregatable groupBys of the PQ
    argmin, exactly as :func:`pq_codes`. Returns
    (id, centroid_id, subspace, code, dist_sq)."""
    _, _, codes = _ivfpq_parts(xs, n_cells, codebook_ids, sub_dims)
    return codes


def _sq_l2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two micro-unit arrays, as a
    JVM zip_with/aggregate fold — no explode, no shuffle."""
    return F.aggregate(
        F.zip_with(a, b, lambda p, q: (p - q) * (p - q)),
        F.lit(0).cast("long"),
        lambda acc, y: acc + y,
    )


def _assign_and_explode(
    members: DataFrame, cents: DataFrame, sub_dims: int
) -> DataFrame:
    """Cell assignment + residual explosion shared by the bulk build
    and the incremental add path — ONE definition of the broadcast
    argmin tie-break, the residual arithmetic, and the pos/subspace
    derivation, so the two paths cannot drift and break the
    add-equals-rebuild bit-identity the incremental oracle depends
    on. Returns (id, centroid_id, pos, subspace, ri)."""
    scored = members.crossJoin(F.broadcast(cents)).select(
        _ID_COL, "centroid_id", _sq_l2(F.col("xs"), F.col("cs")).alias("d")
    )
    assigned = (
        scored.groupBy(_ID_COL)
        .agg(F.min(F.struct("d", "centroid_id")).alias("b"))
        .select(_ID_COL, F.col("b.centroid_id").alias("centroid_id"))
    )
    resid = (
        members.join(assigned, _ID_COL)
        .join(F.broadcast(cents), "centroid_id")
        .select(
            _ID_COL,
            "centroid_id",
            F.zip_with("xs", "cs", lambda a, b: a - b).alias("rs"),
        )
    )
    return resid.select(
        _ID_COL,
        "centroid_id",
        F.posexplode("rs").alias("pos0", "ri"),
    ).select(
        _ID_COL,
        "centroid_id",
        (F.col("pos0") + 1).alias("pos"),
        (F.col("pos0") / sub_dims).cast("long").alias("subspace"),
        "ri",
    )


def _ivfpq_parts(
    xs: DataFrame,
    n_cells: int,
    codebook_ids: int,
    sub_dims: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared IVF-PQ build pieces: returns ``(cents, cb, codes)`` —
    cell centroids (centroid_id, cs), the residual codebook
    (code, subspace, pos, bi), and the code table
    (id, centroid_id, subspace, code, dist_sq). :func:`ivfpq_index`
    returns ``codes``; :func:`ivfpq_adc_search` consumes all three."""
    cents = xs.filter(F.col(_ID_COL) < n_cells).select(
        F.col(_ID_COL).alias("centroid_id"), F.col("xs").alias("cs")
    )
    members = xs.filter(F.col(_ID_COL) >= n_cells)
    # materialized: the residual-component frame feeds BOTH the
    # codebook slice and the code-assignment join, and Spark replans
    # the whole corpus-scale assign+explode subtree per consumer
    # (2 scans + 2 broadcast argmins without the checkpoint). The
    # frame is members×dims rows — the same exploded micro-unit shape
    # the workload already checkpoints for ``xs``.
    rcomp = materialize(_assign_and_explode(members, cents, sub_dims))
    cb = rcomp.filter(F.col(_ID_COL) < n_cells + codebook_ids).select(
        F.col(_ID_COL).alias("code"), "subspace", "pos", F.col("ri").alias("bi")
    )
    codes = _argmin_codes(rcomp, cb)
    return cents, cb, codes


def _argmin_codes(rcomp: DataFrame, cb: DataFrame) -> DataFrame:
    """PQ code assignment over exploded residual components: broadcast
    codebook join, per-(id, subspace, code) exact distance sum, then
    the lexicographic struct-MIN argmin — two partial-aggregatable
    groupBys, no window. Shared by the bulk build and the incremental
    encode so the two paths cannot drift."""
    per = (
        rcomp.join(F.broadcast(cb), ["subspace", "pos"])
        .groupBy(_ID_COL, "centroid_id", "subspace", "code")
        .agg(F.sum((F.col("ri") - F.col("bi")) * (F.col("ri") - F.col("bi"))).alias("dist_sq"))
    )
    return (
        per.groupBy(_ID_COL, "centroid_id", "subspace")
        .agg(F.min(F.struct("dist_sq", "code")).alias("b"))
        .select(
            _ID_COL,
            "centroid_id",
            "subspace",
            F.col("b.code").alias("code"),
            F.col("b.dist_sq").alias("dist_sq"),
        )
    )


def ivfpq_encode_increment(
    new_xs: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    sub_dims: int,
) -> DataFrame:
    """Incremental index maintenance — the FAISS ``add()`` path: encode
    NEW vectors against a FROZEN index (cells + residual codebook from
    the base build) without touching existing codes. Each new vector
    is assigned its nearest frozen cell (broadcast argmin), its
    residual is coded against the frozen codebook, and the rows union
    onto the existing code table.

    Stability invariant (the surrogate-id discipline applied to the
    index): because cells and codebook are deterministic functions of
    the LOW-id base vectors, base-build ∪ increment-encode is
    bit-identical to a full rebuild over base+increment — which is
    exactly how the registry query ``emb_ivfpq_incremental`` is
    oracle-checked (its oracle IS the full-rebuild SQL). At 100 TB
    this is the difference between encoding a day's new embeddings
    (one broadcast pass) and re-clustering the corpus."""
    rcomp = _assign_and_explode(new_xs, cents, sub_dims)
    return _argmin_codes(rcomp, cb)


def ivfpq_adc_search(
    xs: DataFrame,
    queries: DataFrame,
    n_cells: int,
    codebook_ids: int,
    sub_dims: int,
    k: int,
    nprobe: int,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """ADC (asymmetric-distance) search over the IVF-PQ index — the
    query path that makes :func:`ivfpq_index` worth building: neighbors
    are ranked from their PQ CODES alone, never their raw vectors, so
    at 100 TB the scan side is the byte-sized code table (RAM-resident
    per executor) while full vectors stay cold.

    Per query: (1) probe the ``nprobe`` nearest cells by exact squared
    L2 against the broadcast centroids; (2) form the query residual
    per probed cell and build the m×k distance TABLE — the exact
    squared L2 from the residual's each-subspace slice to every
    codebook entry (Q·nprobe·m·k rows total, broadcast); (3) score
    each member of a probed cell as Σ_subspace dt[cell, s, code[s]] —
    a broadcast-hash join of the code table against the distance
    table plus one partial-aggregatable sum; (4) rank top-``k`` per
    query (window PARTITIONED by query — never global).

    All arithmetic is exact micro-unit integers, so the ADC distances
    and ranks hash-match the SQL oracle (ties break by neighbor id).
    In a deployment where the code table is written partitioned by
    ``centroid_id``, step (3)'s cell restriction becomes partition
    pruning — only nprobe/n_cells of the index is read.

    ``queries`` is a micro-array frame (vec_id, xs). ``allowed``
    (optional, a frame with a ``vec_id`` column) PRE-filters the code
    table with a semi-join before scoring — filtered vector search
    with the production pre-filter semantics: the top-k is taken AMONG
    allowed neighbors (a post-filter of an unfiltered top-k can return
    fewer than k), and the restriction lands on the cheap code-table
    side of the plan, never the raw vectors. Returns
    (query_id, neighbor_id, adc_dist, rank); self-matches excluded.
    """
    cents, cb, codes = _ivfpq_parts(xs, n_cells, codebook_ids, sub_dims)
    return adc_search_on_index(
        cents, cb, codes, queries, sub_dims, k, nprobe, allowed
    )


def adc_search_on_index(
    cents: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    sub_dims: int,
    k: int,
    nprobe: int,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """The SEARCH stage of :func:`ivfpq_adc_search`, taking a prebuilt
    index (``cents``/``cb``/``codes`` — e.g. read back from a
    centroid-partitioned parquet write) — the production split where
    the build is amortized across many query batches and only this
    stage runs per request. ``scripts/scale_probe.py ann`` times
    exactly this stage against brute force on a prebuilt index."""
    from pyspark.sql.window import Window

    if allowed is not None:
        codes = codes.join(allowed.select(_ID_COL), _ID_COL, "leftsemi")
    qscored = queries.crossJoin(F.broadcast(cents)).select(
        F.col(_ID_COL).alias("query_id"),
        "centroid_id",
        "xs",
        "cs",
        _sq_l2(F.col("xs"), F.col("cs")).alias("d"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("centroid_id"))
    probes = (
        qscored.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select(
            "query_id",
            "centroid_id",
            F.zip_with("xs", "cs", lambda a, b: a - b).alias("rq"),
        )
    )
    rq = probes.select(
        "query_id",
        "centroid_id",
        F.posexplode("rq").alias("pos0", "rqi"),
    ).select(
        "query_id",
        "centroid_id",
        (F.col("pos0") + 1).alias("pos"),
        (F.col("pos0") / sub_dims).cast("long").alias("subspace"),
        "rqi",
    )
    dt = (
        rq.join(F.broadcast(cb), ["subspace", "pos"])
        .groupBy("query_id", "centroid_id", "subspace", "code")
        .agg(
            F.sum((F.col("rqi") - F.col("bi")) * (F.col("rqi") - F.col("bi"))).alias(
                "dt"
            )
        )
    )
    adc = (
        codes.join(F.broadcast(dt), ["centroid_id", "subspace", "code"])
        .filter(F.col(_ID_COL) != F.col("query_id"))
        .groupBy("query_id", F.col(_ID_COL).alias("neighbor_id"))
        .agg(F.sum("dt").cast("long").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", F.col("rank").cast("long").alias("rank"))
    )


def ivfpq_adc_rerank(
    xs: DataFrame,
    queries: DataFrame,
    n_cells: int,
    codebook_ids: int,
    sub_dims: int,
    k: int,
    nprobe: int,
    shortlist: int,
) -> DataFrame:
    """Two-stage IVF-PQ search — the production FAISS deployment shape:
    stage 1 shortlists the ADC top-``shortlist`` per query from codes
    alone (:func:`ivfpq_adc_search`), stage 2 re-scores ONLY those
    Q×shortlist candidates against their raw vectors with the exact
    integer squared L2 and returns the top-``k``.

    This is the recall repair for PQ quantization loss: ADC ranks from
    a 16-entry-per-subspace approximation, so its top-k can miss true
    neighbors that ARE in its top-R; the exact rerank recovers every
    true neighbor the shortlist contains, at the cost of fetching
    shortlist raw vectors per query (a broadcast semi-join against the
    vector table — one columnar scan in Spark; point lookups in a
    serving deployment). Recall regimes are pinned in
    tests/test_factorization.py: adc ≤ rerank ≤ probed-cell ceiling.

    Returns (query_id, neighbor_id, dist_sq, rank), exact integers.
    """
    from pyspark.sql.window import Window

    short = ivfpq_adc_search(
        xs, queries, n_cells, codebook_ids, sub_dims,
        k=shortlist, nprobe=nprobe,
    )
    qv = queries.select(F.col(_ID_COL).alias("query_id"), F.col("xs").alias("qxs"))
    nv = xs.select(F.col(_ID_COL).alias("neighbor_id"), F.col("xs").alias("nxs"))
    exact = (
        F.broadcast(short.select("query_id", "neighbor_id"))
        .join(nv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _sq_l2(F.col("qxs"), F.col("nxs")).alias("dist_sq"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.asc("dist_sq"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist_sq", F.col("rank").cast("long").alias("rank"))
    )
