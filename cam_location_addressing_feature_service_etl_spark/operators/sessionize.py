"""Gap-based sessionization, including a skew-hardened time-salted
variant.

The plain form (one window per user; ``workload/events.py
ev_sessionize_gap30``, oracle-checked) puts a user's ENTIRE history on
one task — fine for organic users, fatal for a bot key with 10^8
events. ``sessionize_time_salted`` is the 100 TB-safe twin: local
sessionization within (user, time-bucket) partitions, then a
boundary-stitch pass over per-bucket summaries (one row per non-empty
bucket, never per event) that renumbers local sessions into exactly
the global numbering the unsalted form produces.

Stitch algebra: bucket b has n_b local sessions (the first one opens
unconditionally because the lag cannot see across the partition);
m_b = 1 when bucket b's first event is within ``gap_ms`` of the
previous non-empty bucket's last event (that first local session is
really a continuation). With offset O_b = Σ_{b'<b} (n_b' − m_b'),
the global index of local session s in bucket b is O_b + s − m_b —
chains of merges telescope through the sum.

Reference context: the reference has no sessionization (SURVEY §2.10);
this is the large-scale-pipeline extension surface, with equivalence
to the unsalted oracle-checked form property-tested on a hot-key
fixture (tests/test_salted_time_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize_time_salted(
    events: DataFrame,
    gap_ms: int = 30 * 60_000,
    bucket_ms: int = 6 * 3_600_000,
) -> DataFrame:
    """Events + ``session_idx`` (1-based per ``user_id``, ordered by
    ``(ts, event_id)``, identical to the unsalted lag/cumsum
    numbering), with no per-task state larger than one (user, bucket)
    slice."""
    e = events.withColumn("_ms", F.unix_millis(F.col("ts"))).withColumn(
        "_b", F.floor(F.col("_ms") / F.lit(bucket_ms))
    )
    w_local = Window.partitionBy("user_id", "_b").orderBy("ts", "event_id")
    flagged = e.withColumn("_prev", F.lag("_ms").over(w_local)).withColumn(
        "_new",
        F.when(
            F.col("_prev").isNull() | (F.col("_ms") - F.col("_prev") > gap_ms), 1
        ).otherwise(0),
    )
    local = flagged.withColumn(
        "_lsid",
        F.sum("_new").over(w_local.rowsBetween(Window.unboundedPreceding, 0)),
    )

    # per-(user, bucket) summaries: session count + edge timestamps.
    # All subsequent windows run over THESE rows — bounded by the
    # number of non-empty buckets, not by event count.
    summ = local.groupBy("user_id", "_b").agg(
        F.max("_lsid").alias("_n"),
        F.min("_ms").alias("_first"),
        F.max("_ms").alias("_last"),
    )
    w_seq = Window.partitionBy("user_id").orderBy("_b")
    merged = summ.withColumn("_prev_last", F.lag("_last").over(w_seq)).withColumn(
        "_m",
        F.when(
            F.col("_prev_last").isNotNull()
            & (F.col("_first") - F.col("_prev_last") <= gap_ms),
            1,
        ).otherwise(0),
    )
    w_off = w_seq.rowsBetween(Window.unboundedPreceding, -1)
    offsets = merged.withColumn(
        "_off",
        F.coalesce(F.sum(F.col("_n") - F.col("_m")).over(w_off), F.lit(0)),
    ).select("user_id", "_b", "_m", "_off")

    return (
        local.join(offsets, ["user_id", "_b"])
        .withColumn("session_idx", F.col("_off") + F.col("_lsid") - F.col("_m"))
        .drop("_ms", "_b", "_prev", "_new", "_lsid", "_m", "_off")
    )
