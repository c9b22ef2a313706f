"""Iterative k-means (Lloyd's) in pure DataFrame algebra — the
representative *iterative* algorithm. A fixed iteration count CAN be
checked against ANSI SQL by unrolling each Lloyd round as a CTE chain
(the workload registers exactly that oracle); ``round_digits`` exists
so both engines agree bit-for-bit on argmin ties and centroid means.

Per iteration: assign each vector to its nearest centroid, then
recompute centroids as element-wise means (posexplode →
groupBy(cluster, pos) avg → re-assemble arrays).

Assignment plan (r16): the k centroids are collected into ONE sorted
``array<struct<cluster, c>>`` row and broadcast; each vector computes
its k squared distances with a ``transform`` and takes
``array_min(struct(d, cluster))`` — a MAP-ONLY argmin. The previous
shape (crossJoin to n×k rows + ``row_number`` window on vec_id) paid
an Exchange + Sort of n×k rows per round for the same answer:
``array_min`` over ``struct(d, cluster)`` IS the (d ASC, cluster ASC)
ordering (Spark struct ordering is field-lexicographic and its double
ordering treats ±0.0 as equal, exactly like the sort), and sorting the
centroid array by cluster id makes the first minimal element the
lowest cluster — the identical tie-break. Distances use the same
``zip_with``/``aggregate`` fold in the same order, so the rounded
doubles are bit-identical and the assignment is provably unchanged
(asserted against the window form in ``tests/test_kmeans.py``).

The mean update stays the single partial-aggregatable shuffle
(groupBy(cluster, pos)); inside :func:`lloyd` / :func:`lloyd_train`
the assignment column is fused straight into the update's posexplode,
so a round is ONE exchange total (previously: assignment exchange +
assignments⋈vectors join + mean exchange) and the per-round eager
``persist()+count()`` is replaced by a LAZY k-row checkpoint of the
round's centroids — the plan stays flat without any blocking driver
action per round.

Determinism: init = the k lowest vec_ids; ties in assignment break by
centroid id. Scale: per iteration the only shuffle is the centroid
mean (k·dim partial-aggregated rows); the argmin streams map-side with
the k×dim centroid array broadcast (k ≪ n).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..runtime import materialize
from .topk import ASC, global_topk_ranked


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def _cent_arr(centroids: DataFrame) -> DataFrame:
    """Collapse ``(cluster, c)`` to ONE row holding the centroid set as
    an array of structs sorted by cluster id — the broadcast build for
    the map-side argmin (sorted so the first minimal-distance element
    of ``array_min`` is the lowest cluster id, the window tie-break)."""
    return centroids.agg(
        F.sort_array(F.collect_list(F.struct("cluster", "c"))).alias("_cents")
    )


def _nearest_struct(round_digits: int | None) -> Column:
    """``struct(d, cluster)`` of the nearest centroid for column ``v``
    against the broadcast ``_cents`` array — map-only argmin with the
    (d ASC, cluster ASC) tie-break built into the struct ordering."""

    def scored(s):
        d = _sq_dist(F.col("v"), s["c"])
        if round_digits is not None:
            d = F.round(d, round_digits)
        return F.struct(d.alias("d"), s["cluster"].alias("cluster"))

    return F.array_min(F.transform(F.col("_cents"), scored))


def _assigned_vectors(
    vectors: DataFrame, centroids: DataFrame, round_digits: int | None
) -> DataFrame:
    """(vec_id, v) × centroids → (vec_id, cluster, v), map-side (no
    exchange): the fused assign step :func:`lloyd` / :func:`lloyd_train`
    feed straight into the mean update or return."""
    return vectors.crossJoin(F.broadcast(_cent_arr(centroids))).select(
        "vec_id", _nearest_struct(round_digits)["cluster"].alias("cluster"), "v"
    )


def kmeans_assign(
    vectors: DataFrame, centroids: DataFrame, round_digits: int | None = None
) -> DataFrame:
    """(vec_id, v) × (cluster, c) → (vec_id, cluster) by nearest centroid.

    ``round_digits`` rounds the squared distance before the argmin so an
    engine with a different float summation order (the DuckDB parity
    oracle) ranks identically; ties break by centroid id either way.
    """
    return _assigned_vectors(vectors, centroids, round_digits).select(
        "vec_id", "cluster"
    )


def kmeans_update(vectors: DataFrame, assignments: DataFrame) -> DataFrame:
    """New centroids = element-wise mean of each cluster's members,
    unrounded."""
    member = vectors.join(assignments, "vec_id").select(
        "cluster", F.posexplode("v").alias("pos", "val")
    )
    return _means(member, None)


def _means(member: DataFrame, round_digits: int | None) -> DataFrame:
    """(cluster, pos, val) → (cluster, c): the element-wise mean +
    array re-assembly shared by :func:`kmeans_update` and the fused
    round inside :func:`lloyd` / :func:`lloyd_train`."""
    m = F.avg("val")
    if round_digits is not None:
        m = F.round(m, round_digits)
    means = member.groupBy("cluster", "pos").agg(m.alias("m"))
    return (
        means.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.transform("pm", lambda s: s["m"]).alias("c"))
    )


def _init_centroids(v: DataFrame, k: int) -> DataFrame:
    # Init = the k lowest vec_ids. global_topk_ranked plans the take as
    # a distributed TakeOrderedAndProject (per-partition top-k, merge
    # k*P rows on one reducer) — the unpartitioned row_number() it
    # replaces sorted the ENTIRE vector corpus into a single partition
    # — and numbers the k survivors windowless (sorted-array aggregate).
    return global_topk_ranked(
        v, [(F.col("vec_id"), ASC)], k, ["v"], rank_name="rn"
    ).select(
        (F.col("rn") - 1).cast("int").alias("cluster"), F.col("v").alias("c")
    )


def lloyd(
    vectors: DataFrame,
    k: int,
    iterations: int = 3,
    round_digits: int | None = None,
) -> DataFrame:
    """Run ``iterations`` rounds of Lloyd's; returns final assignments
    (vec_id, cluster). ``vectors`` must have (vec_id, embedding)."""
    v = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = _init_centroids(v, k)
    for it in range(iterations):
        asgv = _assigned_vectors(v, centroids, round_digits)
        if it < iterations - 1:
            # fused round: the assignment column feeds the mean update
            # directly (no assignments⋈vectors join) and the round's
            # k-row centroid frame is LAZILY checkpointed — plan stays
            # flat across rounds with zero eager driver actions (the
            # old per-round persist()+count() pair is gone).
            member = asgv.select("cluster", F.posexplode("v").alias("pos", "val"))
            centroids = _means(member, round_digits).transform(materialize)
    return asgv.select("vec_id", "cluster")


def lloyd_train(
    vectors: DataFrame,
    k: int,
    iterations: int = 3,
    round_digits: int | None = None,
) -> DataFrame:
    """Run ``iterations`` FULL assign+update rounds and return the
    TRAINED centroids ``(cluster, c)`` — the IVF coarse quantizer's
    training step (``sim_ann_ivf_trained`` composes these with
    ``similarity.ivf_search``, the composition the r14 ANN probe named
    as the quality dial). Same init / tie-break / rounding discipline
    as :func:`lloyd`, so a fixed iteration count stays oracle-
    unrollable. Clusters that lose all members simply drop out of the
    mean aggregate (both engines agree — GROUP BY over members).

    Scale: identical per-round plans to :func:`lloyd` — the argmin is
    map-side against the broadcast centroid array (k ≪ n), the mean is
    the round's single partial-aggregated shuffle; each round's k-row
    centroid frame is lazily checkpointed to keep the plan flat."""
    v = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = _init_centroids(v, k)
    for it in range(iterations):
        asgv = _assigned_vectors(v, centroids, round_digits)
        member = asgv.select("cluster", F.posexplode("v").alias("pos", "val"))
        centroids = _means(member, round_digits)
        if it < iterations - 1:
            centroids = centroids.transform(materialize)
    return centroids
