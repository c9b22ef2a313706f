"""Distributed global top-k with ranks — no unpartitioned window.

The naive shape for "top-k rows with their rank" is
``row_number().over(Window.orderBy(...))`` + ``filter(rn <= k)``, which
sorts the ENTIRE frame into a single partition (WindowExec logs its
single-partition warning, and at 100 TB the sort is the job). The scale
shape used here:

1. ``orderBy(...).limit(k)`` — Spark plans this as
   ``TakeOrderedAndProject``: each partition keeps its local top-k with
   a bounded priority queue, and only ``k * numPartitions`` rows ever
   meet at the driver-side merge. The corpus is never globally sorted.
2. Rank the k survivors WITHOUT a window: a global aggregate collects
   them into one ``array_sort``-ed array (partial aggregation keeps
   this distributed; the single reducer touches k rows), then
   ``posexplode`` turns the position back into ``row_number``.

Step 2 exists because a window with an empty partition spec — even over
a k-row frame — plans as the warned single-partition WindowExec, and a
constant partition key (``lit(0)``) is folded away by the optimizer.
The aggregate path has no window at all, so the plan-audit grep for
``WindowExec: No Partition Defined`` stays clean and CANNOT regress to
a corpus-sized sort: ``collect_list`` over more than k rows is caught
by the ``limit`` above it.

Reference parity note: the reference's top-1/LIMIT extracts
(``address_etl/pls/tables.py`` ORDER BY ... LIMIT patterns) need only
step 1; step 2 serves the ranked-output queries (BM25 top-k, skew
profile, triangle leaderboard) this engine adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

#: sort-key direction markers for :func:`global_topk_ranked`
ASC = "asc"
DESC = "desc"


def _check_desc_keys_numeric(df: DataFrame, keys: list[tuple[Column, str]]) -> None:
    """DESC keys are implemented by unary negation inside the sorted
    struct; negating a non-numeric column would silently cast to double
    (all-null) and produce an arbitrary order, so fail loudly instead.
    Analysis-only (``df.select(...).schema``) — no job is triggered."""
    desc_keys = [c for c, d in keys if d == DESC]
    if not desc_keys:
        return
    schema = df.select(*[c.alias(f"_k{i}") for i, c in enumerate(desc_keys)]).schema
    for field, col in zip(schema.fields, desc_keys):
        if not isinstance(field.dataType, NumericType):
            raise TypeError(
                f"DESC sort key {col} has non-numeric type {field.dataType}; "
                "negation-based DESC would silently cast it to double (nulls). "
                "Cast the key to a numeric ordinal first."
            )


def rank_small_frame(
    df: DataFrame,
    keys: list[tuple[Column, str]],
    cols: list[str],
    rank_name: str = "rnk",
) -> DataFrame:
    """Attach ``rank_name`` = row_number by ``keys`` to a SMALL frame
    (the caller guarantees ≤ top-k rows, e.g. via ``limit``).

    ``keys`` is ``[(column, ASC|DESC), ...]``; DESC keys must be
    numeric (they are negated to reuse ``array_sort``'s ascending
    struct comparison — enforced, not just documented). ``cols`` are
    the payload columns to keep, in output order. No window is used —
    see module docstring.
    """
    _check_desc_keys_numeric(df, keys)
    sort_fields = [
        ((-c) if d == DESC else c).alias(f"_s{i}") for i, (c, d) in enumerate(keys)
    ]
    payload = [F.col(c).alias(c) for c in cols]
    arr = F.array_sort(F.collect_list(F.struct(*sort_fields, *payload)))
    return (
        df.agg(arr.alias("_a"))
        .select(F.posexplode("_a").alias("_pos", "_r"))
        .select(
            *[F.col(f"_r.{c}").alias(c) for c in cols],
            (F.col("_pos") + 1).cast("long").alias(rank_name),
        )
    )


def prefix_sum_small_frame(
    df: DataFrame,
    keys: list[tuple[Column, str]],
    cols: list[str],
    sum_col: str,
    sum_name: str,
) -> DataFrame:
    """Running total of ``sum_col`` (a BIGINT column) over a SMALL
    frame ordered by ``keys``, without a window: the same sorted-array
    aggregate as :func:`rank_small_frame`, with each row's total
    computed from its array prefix, the row's own value included.
    O(k²) scalar adds on k rows. Output columns: ``cols`` +
    ``sum_name``. DESC keys must be numeric (enforced, same negation
    caveat as :func:`rank_small_frame`)."""
    _check_desc_keys_numeric(df, keys)
    sort_fields = [
        ((-c) if d == DESC else c).alias(f"_s{i}") for i, (c, d) in enumerate(keys)
    ]
    carried = list(dict.fromkeys([*cols, sum_col]))
    payload = [F.col(c).alias(c) for c in carried]
    arr = F.array_sort(F.collect_list(F.struct(*sort_fields, *payload)))
    inner = ", ".join(f"x.{c} AS {c}" for c in cols)
    return (
        df.agg(arr.alias("_a"))
        .select(
            F.explode(
                F.expr(
                    f"transform(_a, (x, i) -> struct({inner}, "
                    "aggregate(slice(_a, 1, i + 1), 0L, "
                    f"(acc, y) -> acc + y.{sum_col}) AS {sum_name}))"
                )
            ).alias("_r")
        )
        .select(*[F.col(f"_r.{c}").alias(c) for c in cols], f"_r.{sum_name}")
    )


def global_topk_ranked(
    df: DataFrame,
    keys: list[tuple[Column, str]],
    k: int,
    cols: list[str],
    rank_name: str = "rnk",
) -> DataFrame:
    """Global top-``k`` of ``df`` by ``keys`` with a 1-based rank
    column — TakeOrderedAndProject then the windowless k-row rank.

    Deterministic iff ``keys`` is a total order (include a unique
    tiebreaker column).
    """
    order = [c.desc() if d == DESC else c.asc() for c, d in keys]
    return rank_small_frame(df.orderBy(*order).limit(k), keys, cols, rank_name)
