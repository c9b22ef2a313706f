"""Skew mitigation: salted two-phase aggregation and salted joins.

AQE's skew-join splitting (enabled in session conf) handles most skew
at runtime; these explicit operators are for the cases AQE can't fix:
a single hot grouping key (partial→final salted aggregation) and a
broadcast-infeasible join with a hot probe key (salt replication).

The salt is ``pmod(hash(entire row), n)`` — deterministic per row, no
rand(), so results are reproducible and retries are safe (a task
retry must not re-salt differently).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: salts per hot key: the aggregation's reducers, the join's replicas
_AGG_SALTS = 16
_JOIN_SALTS = 8


def salted_count_sum(
    df: DataFrame,
    key_cols: Sequence[str],
    sum_col: str,
) -> DataFrame:
    """groupBy(key).agg(count, sum) resilient to a hot key: phase 1
    aggregates on (key, salt) — splitting the hot key across ``_AGG_SALTS``
    reducers — phase 2 merges the partials per key."""
    key_cols = list(key_cols)
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(_AGG_SALTS))
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.count(F.lit(1)).alias("_cnt"), F.sum(sum_col).alias("_sum")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_cnt").alias("cnt"), F.sum("_sum").alias("sum_val")
    )


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
) -> DataFrame:
    """Inner equi-join where ``skewed`` has hot values of ``key`` and
    ``dim`` is too large to broadcast outright: the dim side is
    replicated ``_JOIN_SALTS``× (explode), the skewed side gets a deterministic
    salt, and the join key becomes (key, salt) — the hot key's rows
    spread over ``_JOIN_SALTS`` partitions instead of one."""
    skewed_s = skewed.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in skewed.columns]), F.lit(_JOIN_SALTS))
    )
    dim_r = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1)))
    )
    return skewed_s.join(dim_r, on=[key, "_salt"], how="inner").drop("_salt")
