"""Merge as-of join — for each left row, the latest right row with
``right_ts <= left_ts`` on the same key.

Spark has no ASOF JOIN operator (DuckDB/Pandas do); the naive rewrite
is a range join that explodes to O(|L|·|R|) per key. This is the
scalable composition: tag both sides, union, and take
``last(payload, ignorenulls=True)`` over a (key, time)-ordered window
— one shuffle on the key, linear work, no pair blow-up. This mirrors
how pandas.merge_asof works after its sort, but distributed.

Reference context: the reference ETL has no temporal joins (SURVEY.md
§2.3 "Not present: range joins, as-of/interval joins"); this operator
is part of the large-scale-pipeline extension surface (event
attribution, feature backfill at training time).

Scale notes: one shuffle on ``on``; within a partition the window is
a linear scan. Skewed keys degrade like any window — for that case
``merge_asof_salted`` pre-salts by time bucket and stitches boundary
rows, so no task ever holds a hot key's full timeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..runtime import materialize


def merge_asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_seq: str,
    payload: list[str],
) -> DataFrame:
    """Left as-of join: every ``left`` row, enriched with ``payload``
    columns from the latest ``right`` row at or before ``left_ts``
    (ties on ``right_ts`` broken by highest ``right_seq``); NULLs when
    no right row precedes.

    Output columns: all of ``left``'s, then ``asof_ts`` (the matched
    right timestamp) and one ``asof_<c>`` per payload col.
    """
    pay_struct = F.struct(
        F.col(right_ts).alias("ts"), *[F.col(c).alias(c) for c in payload]
    )
    r2 = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.col(right_seq).cast("long").alias("_seq"),
        pay_struct.alias("_pay"),
    )
    pay_type = r2.schema["_pay"].dataType
    lrow = F.struct(*[F.col(c) for c in left.columns])
    l2 = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_seq"),
        F.lit(None).cast(pay_type).alias("_pay"),
        lrow.alias("_lrow"),
    )
    lrow_type = l2.schema["_lrow"].dataType
    r2 = r2.withColumn("_lrow", F.lit(None).cast(lrow_type))

    # Right rows sort BEFORE left rows at equal timestamps (_side 0 < 1)
    # so the match is inclusive (right_ts <= left_ts); among right ties,
    # the highest _seq lands last in the frame and wins.
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_seq").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        l2.unionByName(r2)
        .withColumn("_last", F.last("_pay", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    out = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    out.append(F.col("_last.ts").alias("asof_ts"))
    out.extend(F.col(f"_last.{c}").alias(f"asof_{c}") for c in payload)
    return matched.select(*out)


def merge_asof_salted(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_seq: str,
    payload: list[str],
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """Skew-hardened ``merge_asof``: identical output, but the window
    partitions on (key, time-bucket) instead of the bare key, so a hot
    key's timeline is split across ``timeline_span / bucket_ms`` tasks.

    Stitch: the winning right row of each (key, bucket) is reduced to
    one summary row, a *tiny* per-key window (one row per non-empty
    bucket, never per event) computes the cumulative latest right row
    among strictly earlier buckets, and that carry-in is injected into
    each bucket as a boundary row sorting before the bucket's own rows
    (its timestamp is from an earlier bucket, hence strictly smaller).
    Two shuffles — (key, bucket) for events, key for the bucket
    summaries — but the second moves only summary rows.
    """
    bucket = lambda c: F.floor(F.unix_millis(c) / F.lit(bucket_ms))  # noqa: E731
    pay_struct = F.struct(
        F.col(right_ts).alias("ts"), *[F.col(c).alias(c) for c in payload]
    )
    r2 = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.col(right_seq).cast("long").alias("_seq"),
        pay_struct.alias("_pay"),
    ).withColumn("_b", bucket(F.col("_t")))
    pay_type = r2.schema["_pay"].dataType
    lrow = F.struct(*[F.col(c) for c in left.columns])
    l2 = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_seq"),
        F.lit(None).cast(pay_type).alias("_pay"),
        lrow.alias("_lrow"),
    ).withColumn("_b", bucket(F.col("_t")))
    lrow_type = l2.schema["_lrow"].dataType
    r2 = r2.withColumn("_lrow", F.lit(None).cast(lrow_type))

    # winner per (key, right-bucket): struct max orders by (_t, _seq).
    # Materialized: it feeds BOTH the timeline union leg and the join
    # below, and without a checkpoint the right-side scan + aggregate
    # subtree executes once per branch.
    bucket_best = (
        r2.groupBy("_k", "_b")
        .agg(F.max(F.struct("_t", "_seq", "_pay")).alias("_m"))
        .transform(materialize)
    )
    # every bucket that needs a carry-in: all left buckets + all right
    # buckets (a left bucket with no right rows still needs the carry)
    timeline = (
        l2.select("_k", "_b")
        .distinct()
        .unionByName(bucket_best.select("_k", "_b"))
        .distinct()
        .join(bucket_best, ["_k", "_b"], "left")
    )
    w_carry = (
        Window.partitionBy("_k").orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    )
    boundary = (
        timeline.withColumn("_cm", F.max("_m").over(w_carry))
        .filter(F.col("_cm").isNotNull())
        .select(
            "_k",
            "_b",
            F.col("_cm._t").alias("_t"),
            F.lit(-1).alias("_side"),
            F.col("_cm._seq").alias("_seq"),
            F.col("_cm._pay").alias("_pay"),
            F.lit(None).cast(lrow_type).alias("_lrow"),
        )
    )

    w = (
        Window.partitionBy("_k", "_b")
        .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_seq").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        l2.unionByName(r2)
        .unionByName(boundary)
        .withColumn("_last", F.last("_pay", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    out = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    out.append(F.col("_last.ts").alias("asof_ts"))
    out.extend(F.col(f"_last.{c}").alias(f"asof_{c}") for c in payload)
    return matched.select(*out)
