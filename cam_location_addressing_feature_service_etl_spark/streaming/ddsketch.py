"""Streaming DDSketch quantile monitor — the standing twin of the
batch ``workload/events.py a16_ddsketch_quantiles``: per-batch
(event_type, log-γ bucket) counts fold into versioned state (exact
mergeable integers — the PSI/Benford discipline), and the read walks
the cumulative histogram to the same rank crossing as the batch
query, returning the bucket-midpoint estimate per requested quantile.

The sketch property that makes this free: DDSketch's state IS its
merge — bucket counts add, so any batching reconciles exactly with
the one-shot histogram, and the state stays a few hundred rows per
event type at ANY ingest volume (the fold is metadata-priced).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..workload.events import _DD_GAMMA, _DD_LN_GAMMA, _DD_QS
from .versioned import Fold


def bucket_counts(events: DataFrame) -> DataFrame:
    """Exact per-(type, bucket) counts of a batch — the mergeable
    form; bucket(v) = ceil(ln v / ln γ) over the shared literals."""
    return (
        events.filter(F.col("value") > 0)
        .select(
            "event_type",
            F.ceil(F.log(F.col("value")) / F.lit(_DD_LN_GAMMA))
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        state.unionByName(bucket_counts(delta))
        .groupBy("event_type", "bucket")
        .agg(F.sum("n").alias("n"))
    )


DDSKETCH_FOLD = Fold("event_type string, bucket bigint, n bigint", _merge)
#: fold one event micro-batch's bucket counts into the state
apply_value_batch = DDSKETCH_FOLD.apply
#: run the quantile monitor over an event stream
monitor_stream = DDSKETCH_FOLD.stream


def read_quantiles(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-type quantile estimates from the folded histogram — the
    batch query's rank-crossing rule (smallest bucket whose cumulative
    count reaches ceil(q·n)), estimate = 2γ^i/(γ+1), rounded to 4.
    Empty before any batch folds."""
    hist = DDSKETCH_FOLD.read(spark, state_dir)
    w = Window.partitionBy("event_type").orderBy("bucket")
    cum = hist.select(
        "event_type",
        "bucket",
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("total"),
    )
    out = None
    for q in _DD_QS:
        hit = (
            cum.filter(F.col("cum") >= F.ceil(F.col("total") * q / 100.0))
            .groupBy("event_type")
            .agg(F.min("bucket").alias("b"))
            .select(
                "event_type",
                F.round(
                    2.0 * F.pow(F.lit(_DD_GAMMA), F.col("b"))
                    / (F.lit(_DD_GAMMA) + 1.0),
                    4,
                ).alias(f"est_p{q}"),
            )
        )
        out = hit if out is None else out.join(hit, "event_type")
    return out
