"""Distributed spatial join: nearest neighbor within a radius, via
grid-cell blocking — the composition pattern for operators Spark
lacks natively (SURVEY §7 "custom operators": built-in ops first).

Exactness argument: with square cells of side ``cell_deg`` chosen so
that ``radius_km`` never spans more than one cell in either axis
(cell_deg ≥ radius_km / 111.0 / cos(max|lat|)), any B-point within the
radius of an A-point lies in A's cell or one of its 8 neighbors. The
join therefore explodes each A-point to its 3×3 candidate cells, hash-
joins on the cell key, verifies haversine ≤ radius, and keeps rank 1.

Scale: one shuffle on the cell key; density skew (cities) is AQE
skew-split; candidate count is bounded by local density × 9 instead
of |A|×|B|. This is the standard PostGIS/Sedona grid-join reduced to
pure DataFrame algebra — no UDFs, no spatial library.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: distances are rounded to 0.1 km before the radius filter and the rank
_DIST_DIGITS = 1


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2 * 6371.0088) * F.asin(F.sqrt(a))


def knn_within_radius(
    points: DataFrame,
    candidates: DataFrame,
    k: int,
    radius_km: float,
    cell_deg: float,
    *,
    max_abs_lat_deg: float,
) -> DataFrame:
    """For each row of ``points`` (point_id, lat, lon): the ``k``
    nearest rows of ``candidates`` (cand_id, lat, lon) with haversine
    distance ≤ radius_km (rounded to ``_DIST_DIGITS``), ranked by
    (dist, cand_id). Points with no
    candidate in range are absent (inner semantics). Output adds
    ``rank`` (1-based).

    Radius-bounded kNN keeps the grid expansion EXACT: every candidate
    within the radius lies in the 3×3 neighborhood, so the top-k of
    the verified in-radius set is the true in-radius top-k. That needs
    the cell to span the radius on BOTH axes; a degree of longitude
    shrinks by cos(lat), so the caller must state the data's extreme
    latitude (``max_abs_lat_deg``) and BOTH conditions are validated:
    cell_deg·111 ≥ radius (lat axis) and cell_deg·111·cos(max|lat|) ≥
    radius (lon axis — the one a lat-only guard silently misses at
    high latitude; review-pass catch).
    Unbounded kNN would need expanding-ring search — at scale the
    bounded form is the one an address matcher wants anyway.

    The rank window is PARTITIONED by point_id, so per-task state is
    one point's in-radius candidates — bounded by local density × 9,
    never |B|.
    """
    if not 0.0 <= max_abs_lat_deg < 90.0:
        raise ValueError(f"max_abs_lat_deg={max_abs_lat_deg} must be in [0, 90)")
    lon_km = cell_deg * 111.0 * math.cos(math.radians(max_abs_lat_deg))
    # The in-radius filter compares the ROUNDED distance, which admits
    # true distances up to radius + half an ulp of the rounding grid —
    # the coverage guard must span that effective radius, not the
    # nominal one, or a rounding-admitted candidate at a guard-boundary
    # cell size could sit outside the 3×3 neighborhood.
    effective_radius_km = radius_km + 0.5 * 10.0 ** (-_DIST_DIGITS)
    if min(cell_deg * 111.0, lon_km) < effective_radius_km:
        raise ValueError(
            f"cell_deg={cell_deg}° spans {cell_deg * 111.0:.0f} km of latitude "
            f"and {lon_km:.0f} km of longitude at |lat|={max_abs_lat_deg}° "
            f"< effective radius {effective_radius_km} km (radius {radius_km} "
            f"+ 0.5·10^-{_DIST_DIGITS} rounding slack) — the 3×3 neighbor "
            "expansion would miss in-radius candidates; widen cell_deg or "
            "shrink the radius"
        )
    # A side exploded to its 3x3 neighborhood
    a = (
        points.select("point_id", F.col("lat").alias("a_lat"), F.col("lon").alias("a_lon"))
        .withColumn("_clat", F.floor(F.col("a_lat") / F.lit(cell_deg)).cast("long"))
        .withColumn("_clon", F.floor(F.col("a_lon") / F.lit(cell_deg)).cast("long"))
        .withColumn("_dlat", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("_dlon", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "point_id",
            "a_lat",
            "a_lon",
            (F.col("_clat") + F.col("_dlat")).alias("cell_lat"),
            (F.col("_clon") + F.col("_dlon")).alias("cell_lon"),
        )
    )
    b = candidates.select(
        "cand_id",
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.floor(F.col("lat") / F.lit(cell_deg)).cast("long").alias("cell_lat"),
        F.floor(F.col("lon") / F.lit(cell_deg)).cast("long").alias("cell_lon"),
    )
    scored = (
        a.join(b, ["cell_lat", "cell_lon"])
        .withColumn(
            "dist_km",
            F.round(
                haversine_km(F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon")),
                _DIST_DIGITS,
            ),
        )
        .filter(F.col("dist_km") <= radius_km)
    )
    w = Window.partitionBy("point_id").orderBy(F.asc("dist_km"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("point_id", "cand_id", "dist_km", "rank")
    )


def nearest_within_radius(
    points: DataFrame,
    candidates: DataFrame,
    radius_km: float,
    cell_deg: float,
    *,
    max_abs_lat_deg: float,
) -> DataFrame:
    """k=1 specialization of :func:`knn_within_radius` (original
    nearest-neighbor contract; no rank column)."""
    return knn_within_radius(
        points,
        candidates,
        k=1,
        radius_km=radius_km,
        cell_deg=cell_deg,
        max_abs_lat_deg=max_abs_lat_deg,
    ).select("point_id", "cand_id", "dist_km")
