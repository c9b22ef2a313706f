"""Similarity-search workload over the ``embeddings`` table
(array<float> column, 64-dim): brute-force cosine top-k baseline,
IVF-bucketed approximate variant, and threshold near-dup pairs.

Oracles use DuckDB list arithmetic cast to DOUBLE[] so the float math
is bit-identical (same fold order); cosines are rounded to 6 digits on
both sides before ranking/filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.similarity import (
    as_double_array,
    brute_force_topk,
    cosine_col,
    dot_col,
    mmr_greedy_col,
    norm_col,
    cosine_pairs_above,
)
from ..tables import load_tuned
from . import register
from ..runtime import materialize

_COS_SQL = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "sim_cosine_topk_bruteforce",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.e", b="v.e")} AS cosine
  FROM v CROSS JOIN q
  WHERE v.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
)
def sim_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors — the ANN baseline."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 10)
    return brute_force_topk(embeddings, queries, k=5)


_IVF_CENTROIDS = 8
_IVF_QUERY_LO, _IVF_QUERY_HI = 8, 18


@register(
    "sim_ann_ivf_bucketed",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < {_IVF_CENTROIDS}),
member AS (SELECT vec_id, e FROM v WHERE vec_id >= {_IVF_CENTROIDS}),
assigned AS (
  SELECT vec_id, centroid_id, e FROM (
    SELECT m.vec_id, c.centroid_id, m.e,
           ROW_NUMBER() OVER (PARTITION BY m.vec_id
                              ORDER BY {_COS_SQL.format(a="m.e", b="c.ce")} DESC,
                                       c.centroid_id ASC) AS rn
    FROM member m CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, centroid_id, e AS qe FROM assigned
      WHERE vec_id >= {_IVF_QUERY_LO} AND vec_id < {_IVF_QUERY_HI}),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.qe", b="a.e")} AS cosine
  FROM q JOIN assigned a ON a.centroid_id = q.centroid_id AND a.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
)
def sim_ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: vectors assigned to nearest of 8 'centroids'
    (deterministically: the first 8 vectors), queries probe only their
    own cell — the bucketed scale path (nprobe=1)."""
    from ..operators.similarity import _assign_with_vec

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    centroids = embeddings.filter(F.col("vec_id") < _IVF_CENTROIDS)
    members = embeddings.filter(F.col("vec_id") >= _IVF_CENTROIDS)
    # map-side cell assignment CARRYING the member vector+norm — the
    # previous ivf_assign⋈members form re-joined the member table on
    # vec_id just to re-attach the vector the assignment had already
    # read (operators/similarity.py r16 argmin discipline)
    assigned = _assign_with_vec(members, centroids)
    q = assigned.filter(
        (F.col("vec_id") >= _IVF_QUERY_LO) & (F.col("vec_id") < _IVF_QUERY_HI)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("centroid_id").alias("qc"),
        F.col("nv").alias("qe"),
        F.col("nn").alias("qn"),
    )
    scored = (
        assigned.join(
            F.broadcast(q),
            (F.col("centroid_id") == F.col("qc")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot_col(F.col("qe"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


@register(
    "sim_ann_ivf_nprobe2",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < {_IVF_CENTROIDS}),
member AS (SELECT vec_id, e FROM v WHERE vec_id >= {_IVF_CENTROIDS}),
assigned AS (
  SELECT vec_id, centroid_id, e FROM (
    SELECT m.vec_id, c.centroid_id, m.e,
           ROW_NUMBER() OVER (PARTITION BY m.vec_id
                              ORDER BY {_COS_SQL.format(a="m.e", b="c.ce")} DESC,
                                       c.centroid_id ASC) AS rn
    FROM member m CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, e AS qe FROM member
      WHERE vec_id >= {_IVF_QUERY_LO} AND vec_id < {_IVF_QUERY_HI}),
probes AS (
  SELECT query_id, centroid_id, qe FROM (
    SELECT q.query_id, c.centroid_id, q.qe,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS_SQL.format(a="q.qe", b="c.ce")} DESC,
                                       c.centroid_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_COS_SQL.format(a="p.qe", b="a.e")} AS cosine
  FROM probes p JOIN assigned a
    ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
)
def sim_ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2 — the recall/cost dial of the bucketed
    scale path: each query is scored exactly against its TWO nearest
    cells' members. tests/test_properties.py proves the recall
    guarantees (exact over probed cells, recall monotone in nprobe,
    measured 0.275 → 0.512 recall@5 going nprobe 1→2 at sf0.001)."""
    from ..operators.similarity import ivf_search

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    centroids = embeddings.filter(F.col("vec_id") < _IVF_CENTROIDS)
    members = embeddings.filter(F.col("vec_id") >= _IVF_CENTROIDS)
    queries = members.filter(
        (F.col("vec_id") >= _IVF_QUERY_LO) & (F.col("vec_id") < _IVF_QUERY_HI)
    )
    return ivf_search(members, centroids, queries, k=3, nprobe=2)


_HN_SOURCES = 7     # synthetic domain label: vec_id % 7
_HN_CAP = 0.95      # semi-hard cap: exclude probable duplicates/positives
_HN_K = 3


@register(
    "sim_hard_negative_mining",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < {_IVF_CENTROIDS}),
member AS (SELECT vec_id, e FROM v WHERE vec_id >= {_IVF_CENTROIDS}),
assigned AS (
  SELECT vec_id, centroid_id, e FROM (
    SELECT m.vec_id, c.centroid_id, m.e,
           ROW_NUMBER() OVER (PARTITION BY m.vec_id
                              ORDER BY {_COS_SQL.format(a="m.e", b="c.ce")} DESC,
                                       c.centroid_id ASC) AS rn
    FROM member m CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, e AS qe FROM member
      WHERE vec_id >= {_IVF_QUERY_LO} AND vec_id < {_IVF_QUERY_HI}),
probes AS (
  SELECT query_id, centroid_id, qe FROM (
    SELECT q.query_id, c.centroid_id, q.qe,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS_SQL.format(a="q.qe", b="c.ce")} DESC,
                                       c.centroid_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_COS_SQL.format(a="p.qe", b="a.e")} AS cosine
  FROM probes p JOIN assigned a
    ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
),
neg AS (
  SELECT * FROM scored
  WHERE query_id % {_HN_SOURCES} <> neighbor_id % {_HN_SOURCES}
    AND cosine < {_HN_CAP}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM neg
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_HN_K}
""",
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor, the top-{k} MOST-similar vectors carrying a DIFFERENT
    domain label (vec_id % {s} — the stand-in for source/topic), with
    a semi-hard cap (cosine < {cap}) excluding probable duplicates
    and unlabeled positives — the triplet-loss negative selection
    recipe (high-similarity, wrong-label). Plan: the SAME bucketed
    IVF nprobe=2 search as ``sim_ann_ivf_nprobe2``, with the
    anti-label + cap predicate applied BEFORE the per-anchor top-k
    rank (``ivf_search(pair_predicate=...)``) — so the result is the
    exact top-k of the restricted pool, not a lossy post-filter of
    the unrestricted top-k, and candidate volume stays nprobe-bounded
    (never corpus × corpus). At 100 TB the mined pairs feed training
    batches directly; the label can be any metadata column."""
    from ..operators.similarity import ivf_search

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    centroids = embeddings.filter(F.col("vec_id") < _IVF_CENTROIDS)
    members = embeddings.filter(F.col("vec_id") >= _IVF_CENTROIDS)
    queries = members.filter(
        (F.col("vec_id") >= _IVF_QUERY_LO) & (F.col("vec_id") < _IVF_QUERY_HI)
    )
    return ivf_search(
        members,
        centroids,
        queries,
        k=_HN_K,
        nprobe=2,
        pair_predicate=(
            (F.col("query_id") % _HN_SOURCES != F.col("neighbor_id") % _HN_SOURCES)
            & (F.col("cosine") < _HN_CAP)
        ),
    )


sim_hard_negative_mining.__doc__ = sim_hard_negative_mining.__doc__.format(
    k=_HN_K, s=_HN_SOURCES, cap=_HN_CAP
)


_KM_K = 8

# squared distance as the same left-to-right fold Spark uses:
# dot(diff, diff) over the element-wise difference list
_KM_D = (
    "ROUND(list_dot_product("
    "list_transform(list_zip({a}, {b}), p -> p[1] - p[2]), "
    "list_transform(list_zip({a}, {b}), p -> p[1] - p[2])), 6)"
)


def _kmeans_oracle(iterations: int = 2) -> str:
    """Unroll ``iterations`` Lloyd rounds as a CTE chain — the same
    fixed-iteration unrolling trick as the connected-components oracle
    (``_cc_oracle``). Both engines round distances and centroid means
    to 6 digits, so argmin and AVG agree despite different float
    summation orders; ties break by cluster id on both sides."""
    parts = [
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"""c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
         e AS c
  FROM v ORDER BY vec_id LIMIT {_KM_K}
)""",
    ]
    prev_cent = "c0"
    for i in range(1, iterations + 1):
        d = _KM_D.format(a="v.e", b=f"{prev_cent}.c")
        parts.append(f"""a{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT v.vec_id, {prev_cent}.cluster,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {d} ASC, {prev_cent}.cluster ASC) AS rn
    FROM v CROSS JOIN {prev_cent}
  ) WHERE rn = 1
)""")
        if i < iterations:
            parts.append(f"""mem{i} AS (
  SELECT a{i}.cluster,
         unnest(range(1, len(v.e) + 1)) AS pos,
         unnest(v.e) AS val
  FROM a{i} JOIN v USING (vec_id)
)""")
            parts.append(f"""m{i} AS (
  SELECT cluster, pos, ROUND(AVG(val), 6) AS m
  FROM mem{i} GROUP BY cluster, pos
)""")
            parts.append(f"""c{i} AS (
  SELECT cluster, list(m ORDER BY pos) AS c FROM m{i} GROUP BY cluster
)""")
            prev_cent = f"c{i}"
    return (
        ",\n".join(parts)
        + f"\nSELECT vec_id, cluster FROM a{iterations}"
    )


@register("sim_kmeans_assignments", oracle=_kmeans_oracle(iterations=2))
def sim_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 rounds of Lloyd's k-means (k=8) over the embeddings — the
    iterative-algorithm representative. The oracle unrolls both rounds
    as a CTE chain (assign → per-position AVG centroid → assign), with
    distances and centroid means rounded to 6 digits on BOTH engines so
    the argmin is order-insensitive. Convergence/quality is asserted in
    tests/test_kmeans.py.

    Known fragility: exact parity relies on no distance/mean straddling
    a 1e-6 rounding boundary differently under each engine's float
    summation order. That holds for this fixture (verified across
    rounds at sf0.01/sf0.1); if the fixture grows, compare with a
    tolerance or a rank-stability check instead of exact equality."""
    from ..operators.kmeans import lloyd

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    return lloyd(embeddings, k=8, iterations=2, round_digits=6)


_IVT_ROUNDS = 2
_IVT_NPROBE = 2
_IVT_K = 5
_IVT_QUERIES = 10


def _lloyd_train_parts(
    src: str, rounds: int, k: int, p: str = ""
) -> tuple[list[str], str]:
    """CTE parts training ``k`` centroids over CTE ``src`` (columns
    vec_id, e) for ``rounds`` full assign+update Lloyd rounds — the
    ``_kmeans_oracle`` chain extended one step to the centroid MEANS
    after the final assignment (``lloyd_train``'s contract). ``p``
    prefixes every CTE name so two independent unrolls (e.g. the
    k=8 and k=32 tiers of ``sim_ann_recall_audit``) compose in one
    statement. Returns (parts, trained-centroid CTE name)."""
    parts = [f"""{p}c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
         e AS c
  FROM {src} ORDER BY vec_id LIMIT {k}
)"""]
    prev = f"{p}c0"
    for i in range(1, rounds + 1):
        d = _KM_D.format(a=f"{src}.e", b=f"{prev}.c")
        parts.append(f"""{p}a{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT {src}.vec_id, {prev}.cluster,
           ROW_NUMBER() OVER (PARTITION BY {src}.vec_id
                              ORDER BY {d} ASC, {prev}.cluster ASC) AS rn
    FROM {src} CROSS JOIN {prev}
  ) WHERE rn = 1
)""")
        parts.append(f"""{p}mem{i} AS (
  SELECT {p}a{i}.cluster,
         unnest(range(1, len({src}.e) + 1)) AS pos,
         unnest({src}.e) AS val
  FROM {p}a{i} JOIN {src} USING (vec_id)
)""")
        parts.append(f"""{p}m{i} AS (
  SELECT cluster, pos, ROUND(AVG(val), 6) AS m
  FROM {p}mem{i} GROUP BY cluster, pos
)""")
        parts.append(f"""{p}c{i} AS (
  SELECT cluster, list(m ORDER BY pos) AS c FROM {p}m{i} GROUP BY cluster
)""")
        prev = f"{p}c{i}"
    return parts, prev


def _cohesion_oracle() -> str:
    parts, cent = _lloyd_train_parts("v", 2, _KM_K, p="qa")
    d = _KM_D.format(a="v.e", b=f"{cent}.c")
    dcc = _KM_D.format(a="a.c", b="b.c")
    chain = ",\n".join(
        ["WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"]
        + parts
    )
    return f"""{chain},
asg AS (
  SELECT vec_id, cluster, d FROM (
    SELECT v.vec_id, {cent}.cluster, {d} AS d,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {d} ASC, {cent}.cluster ASC) AS rn
    FROM v CROSS JOIN {cent}
  ) WHERE rn = 1
),
intra AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
         ROUND(AVG(d), 6) AS intra_msd
  FROM asg GROUP BY 1
),
sep AS (
  SELECT a.cluster, MIN({dcc}) AS nearest_other_sq
  FROM {cent} a JOIN {cent} b ON a.cluster <> b.cluster
  GROUP BY 1
)
SELECT s.cluster, COALESCE(i.n_members, 0) AS n_members, i.intra_msd,
       s.nearest_other_sq,
       ROUND(i.intra_msd / NULLIF(s.nearest_other_sq, 0), 6) AS cohesion
FROM sep s LEFT JOIN intra i USING (cluster)
"""


@register("sim_kmeans_cohesion_audit", oracle=_cohesion_oracle())
def sim_kmeans_cohesion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality AUDIT — the ``sim_ann_recall_audit`` /
    ``er_blocking_quality`` discipline applied to the k-means stage
    every cluster-dependent operator sits on (SemDeDup's within-
    cluster pruning, the IVF coarse quantizer, cluster-diversity
    sampling): per trained cluster, member count, mean squared
    distance to own centroid (intra_msd), squared distance to the
    nearest OTHER centroid (separation), and their ratio (cohesion —
    a per-cluster Davies–Bouldin-style score; low = tight and well-
    separated, >= 1 means members sit as far from their own centroid
    as the neighboring centroid is). A quality regression in the
    quantizer now fails a parity row instead of living in prose.

    One plan: 2 trained Lloyd rounds (the SAME ``lloyd_train`` the
    production IVF tier uses), one broadcast-argmin assignment
    KEEPING the member distance, a k-sized per-cluster aggregate, and
    a k×k centroid table (64 rows — both sides broadcast-tiny). The
    oracle unrolls the training chain (``_lloyd_train_parts``) and
    replays the same rounded-distance algebra. Scale: the only
    corpus-sized stages are the per-round argmin and the audit
    assignment — identical shape to training itself; the audit adds
    a k-row aggregate, not a pass."""
    from ..operators.kmeans import (
        _cent_arr,
        _nearest_struct,
        _sq_dist,
        lloyd_train,
    )

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    v = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = lloyd_train(embeddings, k=_KM_K, iterations=2, round_digits=6)
    cent = materialize(cent)  # feeds the assignment AND the k×k table
    # map-side argmin KEEPING the member distance (operators/kmeans.py
    # array_min discipline — same rounded distance, same (d ASC,
    # cluster ASC) tie-break the row_number window evaluated, minus
    # that window's n×k Exchange+Sort)
    asg = (
        v.crossJoin(F.broadcast(_cent_arr(cent)))
        .select("vec_id", _nearest_struct(6).alias("_b"))
        .select(
            "vec_id",
            F.col("_b.cluster").alias("cluster"),
            F.col("_b.d").alias("d"),
        )
    )
    intra = asg.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.avg("d"), 6).alias("intra_msd"),
    )
    a = cent.select("cluster", F.col("c").alias("ca"))
    b = cent.select(F.col("cluster").alias("cl_b"), F.col("c").alias("cb"))
    sep = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("cluster") != F.col("cl_b"))
        .select(
            "cluster",
            F.round(_sq_dist(F.col("ca"), F.col("cb")), 6).alias("d2"),
        )
        .groupBy("cluster")
        .agg(F.min("d2").alias("nearest_other_sq"))
    )
    return sep.join(intra, "cluster", "left").select(
        "cluster",
        F.coalesce(F.col("n_members"), F.lit(0)).alias("n_members"),
        "intra_msd",
        "nearest_other_sq",
        F.round(
            F.col("intra_msd")
            / F.expr("NULLIF(nearest_other_sq, CAST(0.0 AS DOUBLE))"),
            6,
        ).alias("cohesion"),
    )


def _ivf_search_parts(
    src: str, cent: str, qcte: str, nprobe: int, p: str = ""
) -> tuple[list[str], str]:
    """CTE parts replaying ``operators.similarity.ivf_search`` against
    centroid CTE ``cent`` (cluster, c): cosine cell assignment of the
    ``src`` members, nprobe probe selection for ``qcte`` (query_id,
    qe), exact scoring within probed cells, rank. Returns (parts,
    ranked CTE name) — the caller filters ``rank <= k``."""
    cos_vc = _COS_SQL.format(a=f"{src}.e", b=f"{cent}.c")
    cos_qc = _COS_SQL.format(a=f"{qcte}.qe", b=f"{cent}.c")
    parts = [f"""{p}assigned AS (
  SELECT vec_id, cluster, e FROM (
    SELECT {src}.vec_id, {cent}.cluster, {src}.e,
           ROW_NUMBER() OVER (PARTITION BY {src}.vec_id
                              ORDER BY {cos_vc} DESC, {cent}.cluster ASC) AS rn
    FROM {src} CROSS JOIN {cent}
  ) WHERE rn = 1
)""", f"""{p}probes AS (
  SELECT query_id, cluster, qe FROM (
    SELECT {qcte}.query_id, {cent}.cluster, {qcte}.qe,
           ROW_NUMBER() OVER (PARTITION BY {qcte}.query_id
                              ORDER BY {cos_qc} DESC, {cent}.cluster ASC) AS rn
    FROM {qcte} CROSS JOIN {cent}
  ) WHERE rn <= {nprobe}
)""", f"""{p}scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_COS_SQL.format(a="p.qe", b="a.e")} AS cosine
  FROM {p}probes p JOIN {p}assigned a
    ON a.cluster = p.cluster AND a.vec_id <> p.query_id
)""", f"""{p}ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM {p}scored
)"""]
    return parts, f"{p}ranked"


def _ivf_trained_oracle(
    rounds: int = _IVT_ROUNDS,
    nprobe: int = _IVT_NPROBE,
    topk: int = _IVT_K,
    n_queries: int = _IVT_QUERIES,
    k: int = _KM_K,
) -> str:
    """Trained-IVF oracle: unroll ``rounds`` Lloyd rounds
    (``_lloyd_train_parts``), then replay the cosine cell assignment
    and the nprobe search against those trained centroids
    (``_ivf_search_parts``). Distances, means and cosines are rounded
    to 6 digits on both engines; all ties break by cluster /
    neighbor id."""
    lp, cent = _lloyd_train_parts("v", rounds, k)
    q = (
        f"q AS (SELECT vec_id AS query_id, e AS qe FROM v "
        f"WHERE vec_id < {n_queries})"
    )
    sp, ranked = _ivf_search_parts("v", cent, "q", nprobe)
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),\n"
        + ",\n".join(lp + [q] + sp)
        + f"\nSELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank"
        f"\nFROM {ranked} WHERE rank <= {topk}"
    )


@register("sim_ann_ivf_trained", oracle=_ivf_trained_oracle())
def sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with TRAINED centroids — the production quality tier
    the r14 ANN probe named: the fixed-first-8-vectors coarse
    quantizer of ``sim_ann_ivf_bucketed`` is a demonstration (measured
    recall@3 0.20–0.38 at nprobe=1); this query composes the SAME
    bucketed search plan with k-means-trained centroids
    (``operators/kmeans.py lloyd_train``, {r} Lloyd rounds, k={k}) and
    nprobe={np} — the two dials that move recall, at UNCHANGED
    join/window plan shape (centroids broadcast, members bucketed by
    cell, exact top-{tk} over the probed cells). Queries are the same
    {q} vectors as the brute-force baseline, so recall@k against
    ``sim_cosine_topk_bruteforce`` is a direct row comparison —
    ``scripts/ann_decade_probe.py`` measures it at 200k vectors
    (SCALING.md). The oracle unrolls the Lloyd rounds as the
    ``sim_kmeans_assignments`` CTE chain extended to the trained
    centroid MEANS, then replays assignment + probe + search — every
    distance/mean/cosine rounded to 6 digits on both engines.

    Scale: training is per-round one broadcast-argmin + one partial-
    aggregated mean (k ≪ n); search is the ``sim_ann_ivf_bucketed``
    shape — at 100 TB the member side is stored bucketed by cell id
    and a query touches nprobe buckets."""
    from ..operators.kmeans import lloyd_train
    from ..operators.similarity import ivf_search

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    cent = lloyd_train(
        embeddings, k=_KM_K, iterations=_IVT_ROUNDS, round_digits=6
    ).select(
        F.col("cluster").cast("bigint").alias("vec_id"),
        F.col("c").alias("embedding"),
    )
    cent = materialize(cent)
    queries = embeddings.filter(F.col("vec_id") < _IVT_QUERIES)
    return ivf_search(
        embeddings, cent, queries, k=_IVT_K, nprobe=_IVT_NPROBE
    )


sim_ann_ivf_trained.__doc__ = sim_ann_ivf_trained.__doc__.format(
    r=_IVT_ROUNDS, k=_KM_K, np=_IVT_NPROBE, tk=_IVT_K, q=_IVT_QUERIES
)


_IVS_K = 32
_IVS_NPROBE = 4


@register(
    "sim_ann_ivf_scaled",
    oracle=_ivf_trained_oracle(nprobe=_IVS_NPROBE, k=_IVS_K),
)
def sim_ann_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION trained-IVF operating point the r14/r15 fleet
    probes identified (SCALING.md, 200k-vector/2,000-query fleet):
    cells ∝ corpus — k={k} trained centroids here vs the k=8 demo —
    with nprobe={np} keeping the probed fraction at {np}/{k} of the
    index. Measured at the fleet shape: k=32/nprobe=4 matches
    k=8/nprobe=2's recall@3 (0.756 vs 0.759) at HALF the wall
    (24.1 s vs 51.9 s), and nprobe=8 reaches 0.885 probing 1/4 of
    the index where k=8 needed 1/2 and 648.9 s. Registering this
    point pins the production dial to the oracle every round instead
    of leaving it as SCALING.md prose (r15 verdict #1).

    Same composition as ``sim_ann_ivf_trained`` — ``lloyd_train``
    ({r} rounds) + ``operators.similarity.ivf_search`` — only the two
    dials move; the oracle is the same Lloyd-unroll + probe replay
    with k/nprobe substituted (``_lloyd_train_parts`` /
    ``_ivf_search_parts``). Scale: training cost is one broadcast
    argmin + one partial-agg mean per round (k ≪ n); at 100 TB the
    members live bucketed by cell and a query touches nprobe buckets,
    so cells-∝-corpus keeps per-bucket size (and thus probe cost)
    CONSTANT as the corpus grows."""
    from ..operators.kmeans import lloyd_train
    from ..operators.similarity import ivf_search

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    cent = lloyd_train(
        embeddings, k=_IVS_K, iterations=_IVT_ROUNDS, round_digits=6
    ).select(
        F.col("cluster").cast("bigint").alias("vec_id"),
        F.col("c").alias("embedding"),
    )
    cent = materialize(cent)
    queries = embeddings.filter(F.col("vec_id") < _IVT_QUERIES)
    return ivf_search(
        embeddings, cent, queries, k=_IVT_K, nprobe=_IVS_NPROBE
    )


sim_ann_ivf_scaled.__doc__ = sim_ann_ivf_scaled.__doc__.format(
    r=_IVT_ROUNDS, k=_IVS_K, np=_IVS_NPROBE
)


#: (tier label, trained cells, nprobe) — the registered demo tier and
#: the production tier, both audited against the same exact answer
_RECALL_TIERS = (
    ("trained_k8_np2", _KM_K, _IVT_NPROBE),
    ("scaled_k32_np4", _IVS_K, _IVS_NPROBE),
)


def _ann_recall_oracle() -> str:
    """Recall-audit oracle: ONE statement containing the exact brute
    top-k, two prefixed Lloyd unrolls (k=8, k=32) + their probe
    replays, and the intersection counts — recall@k is computed
    inside the oracle, so the quality dial itself is parity-pinned."""
    cos_qv = _COS_SQL.format(a="q.qe", b="v.e")
    parts = [
        f"q AS (SELECT vec_id AS query_id, e AS qe FROM v "
        f"WHERE vec_id < {_IVT_QUERIES})",
        f"""exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, v.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {cos_qv} DESC, v.vec_id ASC) AS rank
    FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id
  ) WHERE rank <= {_IVT_K}
)""",
        "extot AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs FROM exact)",
    ]
    selects = []
    for name, k, nprobe in _RECALL_TIERS:
        p = f"x{k}_"
        lp, cent = _lloyd_train_parts("v", _IVT_ROUNDS, k, p=p)
        sp, ranked = _ivf_search_parts("v", cent, "q", nprobe, p=p)
        parts += lp + sp
        parts.append(f"""{p}hits AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS hit_pairs
  FROM (SELECT query_id, neighbor_id FROM {ranked}
        WHERE rank <= {_IVT_K}) r
  JOIN exact USING (query_id, neighbor_id)
)""")
        selects.append(
            f"SELECT '{name}' AS tier, exact_pairs, hit_pairs,\n"
            f"       ROUND(CAST(hit_pairs AS DOUBLE) / exact_pairs, 6)"
            f" AS recall_at_k\n"
            f"FROM {p}hits CROSS JOIN extot"
        )
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),\n"
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


@register("sim_ann_recall_audit", oracle=_ann_recall_oracle())
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a REGISTERED number — the a5/a7 sketch-vs-exact
    discipline applied to ANN (r15 verdict #2): recall@{tk} of each
    trained-IVF tier against the exact brute-force answer, computed in
    ONE plan, so a regression in training, assignment or probing
    surfaces as a parity failure instead of drifting silently in
    SCALING.md prose. One row per tier: the registered demo
    (k={k8}, nprobe={np8}) and the production point
    (k={k32}, nprobe={np32}).

    Both legs are the existing operators — ``brute_force_topk`` is the
    exact denominator, ``lloyd_train`` + ``ivf_search`` the measured
    tier — joined on (query_id, neighbor_id) and counted; recall@k =
    hit_pairs / exact_pairs, one IEEE division at the edge. Scale:
    run over a fixed audit SAMPLE of queries (here: the {q} baseline
    queries); the brute leg is one corpus scan with the queries
    broadcast, each IVF leg touches nprobe buckets — the audit costs
    one extra corpus scan however large the index."""
    from ..operators.kmeans import lloyd_train
    from ..operators.similarity import ivf_search

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < _IVT_QUERIES)
    exact = materialize(
        brute_force_topk(embeddings, queries, k=_IVT_K).select(
            "query_id", "neighbor_id"
        )
    )
    extot = exact.agg(F.count(F.lit(1)).alias("exact_pairs"))
    tiers = []
    for name, k, nprobe in _RECALL_TIERS:
        cent = materialize(
            lloyd_train(
                embeddings, k=k, iterations=_IVT_ROUNDS, round_digits=6
            ).select(
                F.col("cluster").cast("bigint").alias("vec_id"),
                F.col("c").alias("embedding"),
            )
        )
        approx = ivf_search(
            embeddings, cent, queries, k=_IVT_K, nprobe=nprobe
        ).select("query_id", "neighbor_id")
        hits = approx.join(exact, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("hit_pairs")
        )
        tiers.append(
            hits.crossJoin(F.broadcast(extot)).select(
                F.lit(name).alias("tier"),
                "exact_pairs",
                "hit_pairs",
                F.round(
                    F.col("hit_pairs").cast("double") / F.col("exact_pairs"),
                    6,
                ).alias("recall_at_k"),
            )
        )
    return tiers[0].unionByName(tiers[1])


sim_ann_recall_audit.__doc__ = sim_ann_recall_audit.__doc__.format(
    tk=_IVT_K,
    k8=_KM_K,
    np8=_IVT_NPROBE,
    k32=_IVS_K,
    np32=_IVS_NPROBE,
    q=_IVT_QUERIES,
)


_SEMDEDUP_TAU = 0.3

_SEMDEDUP_ORACLE = f"""
WITH km AS ({{km}}),
nv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                       embedding::DOUBLE[]))) AS e
  FROM embeddings
),
j AS (SELECT km.vec_id, km.cluster, nv.e FROM km JOIN nv USING (vec_id)),
pruned AS (
  SELECT DISTINCT a.vec_id
  FROM j a JOIN j b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e), 6) >= {_SEMDEDUP_TAU}
)
SELECT j.vec_id, j.cluster, (p.vec_id IS NULL) AS kept
FROM j LEFT JOIN pruned p ON j.vec_id = p.vec_id
"""


@register(
    "sim_semdedup_prune",
    oracle=_SEMDEDUP_ORACLE.format(km=_kmeans_oracle(iterations=2)),
)
def sim_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space with k-means, then inside each cluster prune every
    vector that has a semantic near-duplicate (cosine >= {tau}) with a
    SMALLER id — the deterministic keep-first variant of the paper's
    within-cluster pruning. Returns every vector with its cluster and
    a ``kept`` flag ({tau} prunes ~40% of this fixture — a realistic
    web-corpus rate).

    This is the semantic member of the dedup family: MinHash/SimHash/
    suffix-array catch lexical duplication; SemDeDup catches
    paraphrases and templated rewrites that share no n-grams. Scale
    shape: clustering bounds the quadratic — pairwise cosine runs only
    WITHIN a cluster (the paper's core trick), as a cluster-keyed
    self-equi-join, so the shuffle key is the cluster id and per-task
    work is cluster_size², never corpus². At 100 TB, k grows with the
    corpus to hold cluster sizes constant; assignments come from the
    same broadcast-argmin Lloyd as ``sim_kmeans_assignments``. The
    prune itself is ``operators/similarity.py semdedup_keep_first`` —
    one cluster-keyed shuffle, one BLAS GEMM per cell inside
    ``applyInPandas`` (a per-pair JVM fold was measured 4x slower:
    higher-order functions are interpreted per element). Oracle
    unrolls the identical rounded Lloyd rounds, normalize-then-dot in
    the same fold order, NOT-EXISTS prune."""
    from ..operators.kmeans import lloyd
    from ..operators.similarity import normalized_col, semdedup_keep_first

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    assigns = lloyd(embeddings, k=_KM_K, iterations=2, round_digits=6)
    nv = embeddings.select(
        "vec_id", normalized_col(as_double_array(F.col("embedding"))).alias("e")
    )
    j = assigns.join(nv, "vec_id").select("vec_id", "cluster", "e")
    return semdedup_keep_first(j, threshold=_SEMDEDUP_TAU, vec_col="e")


sim_semdedup_prune.__doc__ = sim_semdedup_prune.__doc__.format(tau=_SEMDEDUP_TAU)


#: docs kept per semantic cluster by the diversity sampler
_DIVERSITY_PER_CLUSTER = 5

_CLUSTER_DIVERSITY_ORACLE = f"""
WITH km AS ({_kmeans_oracle(iterations=2)}),
picked AS (
  SELECT km.cluster, d.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY km.cluster
                            ORDER BY d.n_chars DESC, d.doc_id) AS rnk
  FROM km JOIN documents d ON d.doc_id = km.vec_id
)
SELECT cluster, doc_id, n_chars, CAST(rnk AS BIGINT) AS rnk
FROM picked WHERE rnk <= {_DIVERSITY_PER_CLUSTER}
"""


@register("sample_cluster_diversity", oracle=_CLUSTER_DIVERSITY_ORACLE)
def sample_cluster_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling (the SemDeDup/DBSCAN-prune
    family's selection step): k-means the embedding space into 8
    semantic clusters, then keep the top-{n} documents PER CLUSTER
    (longest first, doc_id tiebreak) — caps any one semantic
    neighborhood's contribution to a training mix, where a global
    top-N would let one dense cluster dominate.

    Scale: the cluster assignment is the {k}-centroid broadcast argmin
    of sim_kmeans_assignments (no pairwise stage); the per-cluster
    top-N is a window PARTITIONED by cluster — k partitions, each
    ranked independently; the doc join is a broadcast-able
    id-equijoin. Deterministic end to end (rounded Lloyd + integer
    keys), so the sample hash-matches the oracle."""
    from ..operators.kmeans import lloyd
    from pyspark.sql.window import Window

    embeddings, docs = load_tuned(spark, sf_dir, "embeddings", "documents")
    assigns = lloyd(embeddings, k=8, iterations=2, round_digits=6)
    joined = assigns.join(
        docs.select("doc_id", "n_chars"),
        assigns["vec_id"] == F.col("doc_id"),
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _DIVERSITY_PER_CLUSTER)
        .select("cluster", "doc_id", "n_chars", F.col("rnk").cast("long").alias("rnk"))
    )


sample_cluster_diversity.__doc__ = sample_cluster_diversity.__doc__.format(
    n=_DIVERSITY_PER_CLUSTER, k=8
)


_NEARDUP_THRESHOLD = 0.4


@register(
    "sim_embedding_neardup",
    oracle=f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                       embedding::DOUBLE[]))) AS e
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.e, b.e), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e), 6) >= {_NEARDUP_THRESHOLD}
""",
)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.4), computed
    as a broadcast-matrix numpy GEMM inside mapInPandas — the oracle
    is the sequential-fold brute force, proving equivalence."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    return cosine_pairs_above(embeddings, threshold=_NEARDUP_THRESHOLD)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (SimHash for embeddings)
# ---------------------------------------------------------------------------

_HP_DIM = 64
_HP_PLANES = 8
_HP_THRESHOLD = 0.4


def _hyperplane(j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j: sin(1 + j*DIM + d).
    Reproducible as plain numeric literals in both engines — no RNG
    state to ship."""
    import math

    return [math.sin(1 + j * _HP_DIM + d) for d in range(_HP_DIM)]


def _lsh_hyperplane_oracle() -> str:
    bucket_terms = []
    for j in range(_HP_PLANES):
        plane = ", ".join(repr(x) for x in _hyperplane(j))
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(e, [{plane}]) > 0 THEN {1 << j} ELSE 0 END)"
        )
    bucket = " + ".join(bucket_terms)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
hashed AS (SELECT vec_id, e, {bucket} AS bucket FROM v)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
       {_COS_SQL.format(a="a.e", b="b.e")} AS cosine
FROM hashed a JOIN hashed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_COS_SQL.format(a="a.e", b="b.e")} >= {_HP_THRESHOLD}
"""


@register("sim_lsh_hyperplane", oracle=_lsh_hyperplane_oracle())
def sim_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH (sign-of-dot sketch, 8 planes): vectors
    sharing an 8-bit sketch bucket are candidates; exact cosine
    reranks within the bucket. The self-join keys on the bucket —
    linear shuffle, never O(n²); P[same bucket] = (1 - θ/π)^8, so the
    candidate mass concentrates on near-parallel vectors. Plane
    coefficients are deterministic literals, identical in the oracle."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    v = embeddings.select(
        "vec_id", as_double_array(F.col("embedding")).alias("e")
    )
    bucket = None
    for j in range(_HP_PLANES):
        plane = F.array(*[F.lit(x) for x in _hyperplane(j)])
        dot = F.aggregate(
            F.zip_with(F.col("e"), plane, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        term = F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    # norm precomputed once per vector (bit-identical to the per-pair
    # form, 3x fewer array folds in the rerank)
    # both self-join sides consume the sketch; materialize the 8-plane
    # fold once instead of once per branch
    hashed = (
        v.withColumn("bucket", bucket)
        .withColumn("n", norm_col(F.col("e")))
        .transform(materialize)
    )
    a = hashed.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("n").alias("na"), "bucket"
    )
    b = hashed.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("n").alias("nb"),
        F.col("bucket").alias("bb"),
    )
    return (
        a.join(b, (F.col("bucket") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
        .withColumn(
            "cosine",
            F.round(dot_col(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= _HP_THRESHOLD)
        .select("id_a", "id_b", "bucket", "cosine")
    )


# ---------------------------------------------------------------------------
# Scalar int8 quantization of embeddings (row-wise min/max)
# ---------------------------------------------------------------------------

@register(
    "sim_embedding_quantize_int8",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
mm AS (
  SELECT vec_id, e,
         list_aggregate(e, 'min') AS mn,
         list_aggregate(e, 'max') AS mx
  FROM v
),
q AS (
  SELECT vec_id, mn, mx,
         CAST(len(e) AS BIGINT) AS n_dims,
         list_transform(e, x -> CAST(LEAST(FLOOR((x - mn) * 255.0 / (mx - mn)), 255)
                                     AS BIGINT)) AS codes
  FROM mm
)
SELECT vec_id, n_dims,
       ROUND(mn, 6) AS vmin, ROUND(mx, 6) AS vmax,
       md5(array_to_string(codes, ',')) AS code_hash
FROM q
""",
)
def sim_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (asymmetric min/max) int8 quantization of the embedding
    column — the standard 4× memory shrink before ANN index build.
    Row-wise, map-only, pure JVM array exprs (transform/array_min/
    array_max); the integer code vector is hash-verified against the
    oracle bit-for-bit, no float tolerance needed. At 100 TB this
    stage has zero shuffle."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    v = embeddings.select(
        "vec_id", as_double_array(F.col("embedding")).alias("e")
    )
    mm = v.select(
        "vec_id",
        "e",
        F.array_min("e").alias("mn"),
        F.array_max("e").alias("mx"),
    )
    codes = F.transform(
        F.col("e"),
        lambda x: F.least(
            F.floor((x - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn"))),
            F.lit(255),
        ).cast("long"),
    )
    return mm.select(
        "vec_id",
        F.size("e").cast("long").alias("n_dims"),
        F.round("mn", 6).alias("vmin"),
        F.round("mx", 6).alias("vmax"),
        F.md5(
            F.array_join(F.transform(codes, lambda c: c.cast("string")), ",")
        ).alias("code_hash"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): LSH bucket -> canonical -> prune
# ---------------------------------------------------------------------------

_SEM_THRESHOLD = 0.3


def _semantic_dedup_oracle() -> str:
    bucket_terms = []
    for j in range(_HP_PLANES):
        plane = ", ".join(repr(x) for x in _hyperplane(j))
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(e, [{plane}]) > 0 THEN {1 << j} ELSE 0 END)"
        )
    bucket = " + ".join(bucket_terms)
    cos = _COS_SQL.format(a="h.e", b="ce.e")
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
hashed AS (SELECT vec_id, e, {bucket} AS bucket FROM v),
canon AS (SELECT bucket, MIN(vec_id) AS canonical_id FROM hashed GROUP BY bucket),
scored AS (
  SELECT h.vec_id, h.bucket, c.canonical_id,
         {cos} AS cos_to_canonical
  FROM hashed h
  JOIN canon c USING (bucket)
  JOIN hashed ce ON ce.vec_id = c.canonical_id
)
SELECT vec_id, bucket, canonical_id, cos_to_canonical,
       (vec_id <> canonical_id AND cos_to_canonical >= {_SEM_THRESHOLD}) AS pruned
FROM scored
"""


@register("dedup_semantic_embedding", oracle=_semantic_dedup_oracle())
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: hyperplane-LSH bucket as the
    cluster proxy, the minimum vec_id in each bucket as the canonical
    survivor, and every other member pruned when its cosine to the
    canonical clears the threshold. One shuffle on the bucket key plus
    a broadcast-sized canonical join — the linear-cost shape of
    cluster-then-prune semantic dedup at corpus scale (swap the LSH
    bucket for k-means cell ids when a trained codebook exists). The
    prune decision compares the ROUNDed cosine on both engines."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    v = embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("e"))
    bucket = None
    for j in range(_HP_PLANES):
        plane = F.array(*[F.lit(x) for x in _hyperplane(j)])
        dot = F.aggregate(
            F.zip_with(F.col("e"), plane, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        term = F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    hashed = v.withColumn("bucket", bucket)
    canon = hashed.groupBy("bucket").agg(F.min("vec_id").alias("canonical_id"))
    canon_vec = hashed.select(
        F.col("vec_id").alias("canonical_id"), F.col("e").alias("ce")
    )
    scored = (
        hashed.join(canon, "bucket")
        .join(canon_vec, "canonical_id")
        .withColumn(
            "cos_to_canonical",
            F.round(
                dot_col(F.col("e"), F.col("ce"))
                / (norm_col(F.col("e")) * norm_col(F.col("ce"))),
                6,
            ),
        )
    )
    return scored.select(
        "vec_id",
        "bucket",
        "canonical_id",
        "cos_to_canonical",
        (
            (F.col("vec_id") != F.col("canonical_id"))
            & (F.col("cos_to_canonical") >= _SEM_THRESHOLD)
        ).alias("pruned"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation: how much ANN recall survives at half dims
# ---------------------------------------------------------------------------

_MRL_DIMS = 32  # keep the first 32 of 64 dims ("matryoshka" prefix)
_MRL_K = 5
_MRL_QUERIES = 10


@register(
    "emb_matryoshka_recall",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
h AS (SELECT vec_id, e[1:{_MRL_DIMS}] AS e FROM v),
qf AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_MRL_QUERIES}),
qh AS (SELECT vec_id AS query_id, e AS qe FROM h WHERE vec_id < {_MRL_QUERIES}),
topf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS_SQL.format(a="q.qe", b="n.e")} DESC,
                                       n.vec_id ASC) AS rnk
    FROM qf q CROSS JOIN v n WHERE n.vec_id <> q.query_id
  ) WHERE rnk <= {_MRL_K}
),
toph AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS_SQL.format(a="q.qe", b="n.e")} DESC,
                                       n.vec_id ASC) AS rnk
    FROM qh q CROSS JOIN h n WHERE n.vec_id <> q.query_id
  ) WHERE rnk <= {_MRL_K}
)
SELECT f.query_id, CAST(COUNT(h.neighbor_id) AS BIGINT) AS n_overlap
FROM topf f LEFT JOIN toph h
  ON h.query_id = f.query_id AND h.neighbor_id = f.neighbor_id
GROUP BY f.query_id
""",
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation check: per query, how many of the
    full-dimension top-{k} cosine neighbors survive when vectors are
    truncated to their first {d} of 64 dims. The practical question
    behind every MRL deployment — how much cheaper storage/compute can
    get before recall breaks — answered with the same brute-force
    scoring plan twice (broadcast queries, one corpus scan each) and a
    per-query overlap count."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    half = embeddings.select(
        "vec_id", F.slice(F.col("embedding"), 1, _MRL_DIMS).alias("embedding")
    )
    qf = embeddings.filter(F.col("vec_id") < _MRL_QUERIES)
    qh = half.filter(F.col("vec_id") < _MRL_QUERIES)
    topf = brute_force_topk(embeddings, qf, k=_MRL_K).select("query_id", "neighbor_id")
    toph = brute_force_topk(half, qh, k=_MRL_K).select(
        F.col("query_id").alias("hq"), F.col("neighbor_id").alias("hn")
    )
    return (
        topf.join(
            toph,
            (F.col("hq") == F.col("query_id")) & (F.col("hn") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count(F.col("hn")).alias("n_overlap"))
    )


emb_matryoshka_recall.__doc__ = emb_matryoshka_recall.__doc__.format(
    k=_MRL_K, d=_MRL_DIMS
)


# ---------------------------------------------------------------------------
# MMR diversified rerank (greedy relevance/diversity trade-off)
# ---------------------------------------------------------------------------

_MMR_QID = 0
_MMR_CAND = 25
_MMR_K = 8
_MMR_LAMBDA = 0.7
#: shared literal (1.0 - 0.7 is 1 ulp off "0.3" — the teleport lesson)
_MMR_ONE_MINUS = 0.3


def _mmr_oracle() -> str:
    cos = _COS_SQL
    parts = [
        f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT e FROM v WHERE vec_id = {_MMR_QID}),
cand AS MATERIALIZED (
  SELECT v.vec_id, v.e,
         {cos.format(a="v.e", b="q.e")} AS rel
  FROM v CROSS JOIN q
  WHERE v.vec_id <> {_MMR_QID}
  ORDER BY rel DESC, v.vec_id ASC LIMIT {_MMR_CAND}
),
sel1 AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, e, rel, rel AS mmr_score
  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
)"""
    ]
    for i in range(2, _MMR_K + 1):
        prev = f"sel{i - 1}"
        parts.append(
            f""",
pick{i} AS MATERIALIZED (
  SELECT CAST({i} AS BIGINT) AS sel_rank, c.vec_id, c.e, c.rel,
         ROUND({_MMR_LAMBDA!r} * c.rel - {_MMR_ONE_MINUS!r} * mx.m, 6)
           AS mmr_score
  FROM cand c JOIN (
    SELECT c2.vec_id, MAX({cos.format(a="c2.e", b="s.e")}) AS m
    FROM cand c2 CROSS JOIN {prev} s
    GROUP BY c2.vec_id
  ) mx ON mx.vec_id = c.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
  ORDER BY mmr_score DESC, c.vec_id ASC LIMIT 1
),
sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{i})"""
        )
    parts.append(
        f"""
SELECT sel_rank, vec_id, rel AS relevance, mmr_score
FROM sel{_MMR_K}"""
    )
    return "".join(parts)


@register("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank — the greedy diversification
    pass retrieval pipelines run AFTER top-k: from the query's
    {c}-candidate shortlist, select {k} items one at a time by
    argmax λ·relevance − (1−λ)·max-similarity-to-already-selected
    (λ={l}), so the result covers the query's neighborhood instead of
    returning {k} near-duplicates of the best hit — the
    retrieval-side sibling of SemDeDup (which prunes the CORPUS; MMR
    diversifies the RESPONSE). First pick is pure relevance.

    Determinism: dot products left-fold in array order on both
    engines (``operators/similarity.py dot_col`` ≡ DuckDB
    ``list_dot_product`` over DOUBLE[]); relevance, pairwise sims and
    the per-step score are all ROUNDed to 6 digits BEFORE every argmax
    and max, ties break on vec_id — the greedy trajectory is
    bit-reproducible. λ and 1−λ are shared literals.

    Scale shape: candidate generation is the brute/IVF top-k's plan
    (its cost story lives there); the rerank itself is per-query LOCAL
    work — the {c}-row shortlist collapses to ONE array row and the
    whole {k}-step greedy trajectory is a single map-side fold
    (``operators/similarity.py mmr_greedy_col``): zero joins, zero
    windows, zero per-step driver actions. Per-query rerank cost is
    O(k·c) sims REGARDLESS of corpus size, and queries parallelize
    embarrassingly — the standard production deployment reranks
    millions of query shortlists per hour on exactly this shape."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    v = embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("e"))
    q = v.filter(F.col("vec_id") == _MMR_QID).select(F.col("e").alias("qe"))
    packed = (
        v.filter(F.col("vec_id") != _MMR_QID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "e",
            F.round(cosine_col(F.col("e"), F.col("qe")), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_CAND)
        .groupBy()
        .agg(F.collect_list(F.struct("vec_id", "e", "rel")).alias("cands"))
    )
    sel = packed.select(
        F.explode(
            mmr_greedy_col(F.col("cands"), _MMR_K, _MMR_LAMBDA, _MMR_ONE_MINUS)
        ).alias("s")
    )
    return sel.select(
        F.col("s.sel_rank").alias("sel_rank"),
        F.col("s.vec_id").alias("vec_id"),
        F.col("s.rel").alias("relevance"),
        F.col("s.mmr_score").alias("mmr_score"),
    )


# ---------------------------------------------------------------------------
# Grouped MMR rerank: N query shortlists advance one greedy step per
# job — k jobs TOTAL, not k per query (r13 advisory)
# ---------------------------------------------------------------------------

_MMRG_QUERIES = 100
_MMRG_CAND = 12
_MMRG_K = 5


def _mmr_grouped_oracle() -> str:
    cos = _COS_SQL
    parts = [
        f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_MMRG_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id, v.e,
         {cos.format(a="v.e", b="q.qe")} AS rel
  FROM v JOIN q ON v.vec_id <> q.query_id
),
cand AS MATERIALIZED (
  SELECT query_id, vec_id, e, rel, rn FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, vec_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {_MMRG_CAND}
),
sel1 AS MATERIALIZED (
  SELECT query_id, CAST(1 AS BIGINT) AS sel_rank, vec_id, e, rel,
         rel AS mmr_score
  FROM cand WHERE rn = 1
)"""
    ]
    for i in range(2, _MMRG_K + 1):
        prev = f"sel{i - 1}"
        parts.append(
            f""",
mx{i} AS MATERIALIZED (
  SELECT c2.query_id, c2.vec_id, MAX({cos.format(a="c2.e", b="s.e")}) AS m
  FROM cand c2 JOIN {prev} s ON s.query_id = c2.query_id
  WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                    WHERE x.query_id = c2.query_id AND x.vec_id = c2.vec_id)
  GROUP BY c2.query_id, c2.vec_id
),
pick{i} AS MATERIALIZED (
  SELECT query_id, CAST({i} AS BIGINT) AS sel_rank, vec_id, e, rel, mmr_score
  FROM (
    SELECT c.query_id, c.vec_id, c.e, c.rel,
           ROUND({_MMR_LAMBDA!r} * c.rel - {_MMR_ONE_MINUS!r} * mx{i}.m, 6)
             AS mmr_score,
           ROW_NUMBER() OVER (
             PARTITION BY c.query_id
             ORDER BY ROUND({_MMR_LAMBDA!r} * c.rel
                            - {_MMR_ONE_MINUS!r} * mx{i}.m, 6) DESC,
                      c.vec_id ASC) AS prn
    FROM cand c
    JOIN mx{i} ON mx{i}.query_id = c.query_id AND mx{i}.vec_id = c.vec_id
  ) WHERE prn = 1
),
sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{i})"""
        )
    parts.append(
        f"""
SELECT query_id, sel_rank, vec_id, rel AS relevance, mmr_score
FROM sel{_MMRG_K}"""
    )
    return "".join(parts)


@register("sim_mmr_rerank_grouped", oracle=_mmr_grouped_oracle())
def sim_mmr_rerank_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification for {q} query shortlists AT ONCE — the
    production shape ``sim_mmr_rerank``'s docstring promises: every
    query's shortlist collapses to one array row and the whole
    {k}-step greedy trajectory runs as a single map-side fold per row
    (``operators/similarity.py mmr_greedy_col``) — ZERO driver-
    coordinated steps regardless of how many shortlists are in
    flight. Semantics per query are identical to the single-query
    operator: first pick is pure relevance, then argmax
    λ·rel − (1−λ)·max-sim-to-selected with 6-digit pre-argmax
    rounding and vec_id tie-breaks — the DuckDB oracle replays all
    {q} greedy trajectories step-locked through the same
    MATERIALIZED-CTE chain.

    Scale: the shortlists ({c} candidates per query) come from one
    broadcast-queries corpus scan + per-query top-k window; the
    rerank itself adds ONE partial-aggregatable collect per query_id
    and no further shuffle — per-query cost is O(k·c·|sel|·dims)
    map-side scalar ops, so adding queries widens partitions instead
    of adding jobs or rounds."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    v = embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("e"))
    q = v.filter(F.col("vec_id") < _MMRG_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "e",
            F.round(cosine_col(F.col("e"), F.col("qe")), 6).alias("rel"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    packed = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMRG_CAND)
        .groupBy("query_id")
        .agg(F.collect_list(F.struct("vec_id", "e", "rel")).alias("cands"))
    )
    out = packed.select(
        "query_id",
        F.explode(
            mmr_greedy_col(F.col("cands"), _MMRG_K, _MMR_LAMBDA, _MMR_ONE_MINUS)
        ).alias("s"),
    )
    return out.select(
        "query_id",
        F.col("s.sel_rank").alias("sel_rank"),
        F.col("s.vec_id").alias("vec_id"),
        F.col("s.rel").alias("relevance"),
        F.col("s.mmr_score").alias("mmr_score"),
    )


sim_mmr_rerank_grouped.__doc__ = sim_mmr_rerank_grouped.__doc__.format(
    q=_MMRG_QUERIES, c=_MMRG_CAND, k=_MMRG_K
)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical + dense legs
# ---------------------------------------------------------------------------

#: RRF smoothing constant (Cormack et al. 2009's k=60 default)
_RRF_K0 = 60
#: per-leg shortlist depth and fused output depth
_RRF_LEG_K = 20
_RRF_TOP = 10
#: query docs: ids below this (they carry both text and an embedding)
_RRF_QUERIES = 5

_RRF_TOKENS_SQL = (
    "list_filter(string_split_regex("
    "regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')"
)

#: head (corpus split + lexical leg) and tail (fusion) shared by the
#: brute-dense and ANN-dense oracles — the fusion algebra is ONE text,
#: so the "dense leg swaps without touching fusion" claim is literal
#: in the oracle too
_RRF_HEAD = f"""
WITH fused AS (
  SELECT d.doc_id AS id, d.text, e.embedding::DOUBLE[] AS emb
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
qset AS (SELECT * FROM fused WHERE id < {_RRF_QUERIES}),
corp AS (SELECT * FROM fused WHERE id >= {_RRF_QUERIES}),
ctok AS (SELECT id, unnest(list_distinct({_RRF_TOKENS_SQL})) AS tok FROM corp),
qtok AS (SELECT id AS query_id, unnest(list_distinct({_RRF_TOKENS_SQL})) AS tok
         FROM qset),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM corp),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM ctok GROUP BY 1),
lexs AS (
  SELECT q.query_id, c.id,
         SUM(CAST(ROUND(LN((CAST(s.n AS DOUBLE) + 1) / (d.df + 1)), 6)
                  AS DECIMAL(18,6))) AS lex_score
  FROM qtok q JOIN ctok c USING (tok) JOIN dfreq d USING (tok)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
lexr AS (
  SELECT query_id, id, rnk FROM (
    SELECT query_id, id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY lex_score DESC, id ASC) AS rnk
    FROM lexs
  ) WHERE rnk <= {_RRF_LEG_K}
)"""

_RRF_TAIL = f""",
pooled AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.id, d.id) AS doc_id,
         CAST(COALESCE(l.rnk, 0) AS BIGINT) AS rnk_lex,
         CAST(COALESCE(d.rnk, 0) AS BIGINT) AS rnk_dense,
         ROUND(COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K0} + l.rnk), 0)
               + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K0} + d.rnk), 0), 9) AS rrf
  FROM lexr l
  FULL OUTER JOIN denser d ON d.query_id = l.query_id AND d.id = l.id
)
SELECT query_id, doc_id, rnk_lex, rnk_dense, rrf, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id ASC) AS rnk
  FROM pooled
) WHERE rnk <= {_RRF_TOP}
"""

_RRF_ORACLE = _RRF_HEAD + f""",
denser AS (
  SELECT query_id, id, rnk FROM (
    SELECT query_id, id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, id ASC) AS rnk
    FROM (
      SELECT q.id AS query_id, c.id,
             {_COS_SQL.format(a="q.emb", b="c.emb")} AS cosine
      FROM qset q CROSS JOIN corp c
    )
  ) WHERE rnk <= {_RRF_LEG_K}
)""" + _RRF_TAIL


def _rrf_ann_oracle() -> str:
    """The ANN-dense RRF oracle: identical head (lexical leg) and tail
    (fusion) text to ``_RRF_ORACLE``; only the ``denser`` CTE swaps —
    a Lloyd unroll over the CORPUS embeddings plus the nprobe probe
    replay (``_lloyd_train_parts`` / ``_ivf_search_parts``, the
    ``sim_ann_ivf_trained`` discipline)."""
    cv = "rcv AS (SELECT id AS vec_id, emb AS e FROM corp)"
    qv = "rqv AS (SELECT id AS query_id, emb AS qe FROM qset)"
    lp, cent = _lloyd_train_parts("rcv", _IVT_ROUNDS, _KM_K, p="rr")
    sp, ranked = _ivf_search_parts("rcv", cent, "rqv", _IVT_NPROBE, p="rr")
    denser = (
        f"denser AS (SELECT query_id, neighbor_id AS id, "
        f"CAST(rank AS BIGINT) AS rnk FROM {ranked} "
        f"WHERE rank <= {_RRF_LEG_K})"
    )
    return _RRF_HEAD + ",\n" + ",\n".join([cv, qv] + lp + sp + [denser]) + _RRF_TAIL


def _rrf_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(qset, corp): docs carrying BOTH text and an embedding, split
    into the query set (id < {q}) and the searched corpus."""
    documents, embeddings = load_tuned(spark, sf_dir, "documents", "embeddings")
    fused = documents.join(
        embeddings, documents["doc_id"] == embeddings["vec_id"]
    ).select(F.col("doc_id").alias("id"), "text", "embedding")
    qset = fused.filter(F.col("id") < _RRF_QUERIES).transform(materialize)
    corp = fused.filter(F.col("id") >= _RRF_QUERIES).transform(materialize)
    return qset, corp


def _rrf_lex_leg(qset: DataFrame, corp: DataFrame) -> DataFrame:
    """Lexical leg: idf-weighted distinct-token overlap, top
    ``_RRF_LEG_K`` per query → (query_id, doc_id, rnk_lex). The
    query-term postings broadcast; corpus postings stream once."""
    from ..operators.dedup import tokens_col

    ctok = corp.select(
        "id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok")
    ).transform(materialize)
    qtok = qset.select(
        F.col("id").alias("query_id"),
        F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok"),
    )
    stats = corp.agg(F.count(F.lit(1)).alias("n"))
    dfreq = ctok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf_w = F.round(
        F.log((F.col("n").cast("double") + 1) / (F.col("df") + 1)), 6
    ).cast("decimal(18,6)")
    lexs = (
        F.broadcast(qtok)
        .join(ctok, "tok")
        .join(dfreq, "tok")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "id", idf_w.alias("w"))
        .groupBy("query_id", "id")
        .agg(F.sum("w").alias("lex_score"))
    )
    wlex = Window.partitionBy("query_id").orderBy(
        F.desc("lex_score"), F.asc("id")
    )
    return (
        lexs.withColumn("rnk", F.row_number().over(wlex))
        .filter(F.col("rnk") <= _RRF_LEG_K)
        .select(
            "query_id", F.col("id").alias("doc_id"), F.col("rnk").alias("rnk_lex")
        )
    )


def _rrf_fuse(lexr: DataFrame, dense: DataFrame) -> DataFrame:
    """RRF fusion over the pooled shortlists — ONE function shared by
    the brute-dense and ANN-dense queries, proving the claimed dense-
    leg swap costs zero fusion changes (fusion is rank-based; it never
    sees a score). ``dense``: (query_id, doc_id, rnk_dense)."""
    pooled = lexr.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce(F.col("rnk_lex"), F.lit(0)).cast("long").alias("rnk_lex"),
        F.coalesce(F.col("rnk_dense"), F.lit(0)).cast("long").alias("rnk_dense"),
        F.round(
            F.coalesce(F.lit(1.0) / (_RRF_K0 + F.col("rnk_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K0 + F.col("rnk_dense")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        pooled.withColumn("rnk", F.row_number().over(wf).cast("long"))
        .filter(F.col("rnk") <= _RRF_TOP)
        .select("query_id", "doc_id", "rnk_lex", "rnk_dense", "rrf", "rnk")
    )


@register("sim_rrf_fusion", oracle=_RRF_ORACLE)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    of a lexical leg and a dense leg, the standard two-tower RAG
    retrieval stack: per query, rank the corpus by idf-weighted
    distinct-token overlap (lexical) and by cosine (dense), keep each
    leg's top {lk}, and fuse the pooled shortlist by
    Σ 1/({k0} + rank) — docs found by both legs rise, docs found by
    one survive. Queries are the {q} docs that carry BOTH text and an
    embedding (doc_id = vec_id); a leg miss contributes 0 and reports
    rank 0.

    Determinism: per-term idf weights are rounded to 6 digits and
    summed as exact DECIMAL (the BM25 discipline — no float summation
    order anywhere); cosines round to 6; the RRF score is two one-op
    IEEE divisions and one add on ranks (integers), identical across
    engines, rounded to 9 at the output edge; every rank ties by id.

    Scale: the lexical leg is a postings semi-join — the query-term
    postings (bounded: |queries| × their vocab) broadcast, the corpus
    postings stream once, and only matching-token rows shuffle into
    the per-(query, doc) partial-agg sum; df/stats are vocabulary-
    sized. The dense leg here is the brute baseline (one corpus scan,
    queries broadcast); at 100 TB swap in ``sim_ann_ivf_trained``'s
    bucketed search — fusion is rank-based, so the fusion stage is
    UNCHANGED by the ANN substitution (that's why RRF, not score
    fusion: ANN scores are not calibrated against BM25's). The fusion
    itself touches ≤ 2·{lk} rows per query."""
    qset, corp = _rrf_corpus(spark, sf_dir)
    lexr = _rrf_lex_leg(qset, corp)
    # dense leg: exact cosine shortlist — sim_rrf_fusion_ann swaps in
    # the trained-IVF search through the SAME _rrf_fuse
    dense = brute_force_topk(
        corp.select(F.col("id").alias("vec_id"), "embedding"),
        qset.select(F.col("id").alias("vec_id"), "embedding"),
        k=_RRF_LEG_K,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rnk_dense"),
    )
    return _rrf_fuse(lexr, dense)


sim_rrf_fusion.__doc__ = sim_rrf_fusion.__doc__.format(
    lk=_RRF_LEG_K, k0=_RRF_K0, q=_RRF_QUERIES
)


@register("sim_rrf_fusion_ann", oracle=_rrf_ann_oracle())
def sim_rrf_fusion_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sim_rrf_fusion`` with the dense leg SWAPPED to the trained-IVF
    search — the substitution that query's docstring promises for
    100 TB, registered so the claim is parity-pinned (r15 verdict #3):
    same ``_rrf_lex_leg``, same ``_rrf_fuse`` (one function, two leg
    sources — fusion is rank-based, so it never sees a score and the
    swap costs ZERO fusion changes), dense leg = ``lloyd_train``
    (k={k}, {r} rounds, over the CORPUS embeddings) +
    ``operators.similarity.ivf_search`` (nprobe={np}, leg depth {lk}).

    The oracle shares ``_RRF_HEAD``/``_RRF_TAIL`` — the lexical-leg
    and fusion SQL are byte-identical to ``sim_rrf_fusion``'s oracle —
    and only the ``denser`` CTE becomes the Lloyd-unroll + probe
    replay. Output differences vs the brute-dense query are exactly
    the ANN leg's recall misses re-ranked by the fusion algebra
    (``tests/test_hybrid_and_caps.py`` asserts the overlap). Scale:
    the leg swap is what makes hybrid retrieval affordable — the
    corpus-scan dense leg becomes nprobe bucket probes while the
    fusion stage still touches ≤ 2·{lk} rows per query."""
    from ..operators.kmeans import lloyd_train
    from ..operators.similarity import ivf_search

    qset, corp = _rrf_corpus(spark, sf_dir)
    lexr = _rrf_lex_leg(qset, corp)
    corp_vec = corp.select(F.col("id").alias("vec_id"), "embedding")
    cent = materialize(
        lloyd_train(
            corp_vec, k=_KM_K, iterations=_IVT_ROUNDS, round_digits=6
        ).select(
            F.col("cluster").cast("bigint").alias("vec_id"),
            F.col("c").alias("embedding"),
        )
    )
    dense = ivf_search(
        corp_vec,
        cent,
        qset.select(F.col("id").alias("vec_id"), "embedding"),
        k=_RRF_LEG_K,
        nprobe=_IVT_NPROBE,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rnk_dense"),
    )
    return _rrf_fuse(lexr, dense)


sim_rrf_fusion_ann.__doc__ = sim_rrf_fusion_ann.__doc__.format(
    k=_KM_K, r=_IVT_ROUNDS, np=_IVT_NPROBE, lk=_RRF_LEG_K
)
