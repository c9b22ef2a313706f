"""Streaming seasonal-baseline anomaly monitor — the standing twin of
the batch ``workload/events.py ev_seasonal_baseline_zscore``: the
event stream folds per-(event_type, hour-of-day) EXACT moments
(n, Σx, Σx²) into versioned state, and arriving batches are z-scored
against the accumulated profile with the identical integer-rational
formula. Because the moments are an abelian group aggregate, any
batching folds to the same state as the one-shot, so scoring the full
corpus against the final state reconciles bit-for-bit with the batch
query (asserted in ``tests/test_streaming_seasonal.py``).

Two deployment modes, both exposed:

- ``apply_baseline_batch``/``monitor_stream`` — the baseline LEARNS
  continuously (every batch folds in);
- ``score_batch`` — z-score a frame against the current state WITHOUT
  folding it (frozen-profile scoring, e.g. score today against last
  month's profile).

Per fold the state write is ≤ |types|×24 rows of three integers — a
metadata-priced standing monitor (the ``streaming/psi.py``
discipline); scoring is a broadcast hash join of that tiny profile
onto the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload.events import _SEASONAL_Z
from .versioned import Fold


def _cells(events: DataFrame) -> DataFrame:
    x = F.floor(F.col("value") * 1000000 + 0.5).cast("decimal(38,0)")
    return events.select(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        x.alias("x"),
    )


def moment_counts(events: DataFrame) -> DataFrame:
    """Per-cell exact moments of a batch — the mergeable form."""
    return (
        _cells(events)
        .groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        state.unionByName(moment_counts(delta))
        .groupBy("event_type", "hod")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sx").alias("sx"),
            F.sum("sxx").alias("sxx"),
        )
    )


SEASONAL_FOLD = Fold(
    "event_type string, hod bigint, "
    "n decimal(38,0), sx decimal(38,0), sxx decimal(38,0)",
    _merge,
)
#: fold one event micro-batch's cell moments into the baseline
apply_baseline_batch = SEASONAL_FOLD.apply
#: run the learning-baseline loop over an event stream
monitor_stream = SEASONAL_FOLD.stream


def score_batch(
    events: DataFrame, spark: SparkSession, state_dir: str
) -> DataFrame:
    """z-score a frame against the CURRENT folded baseline (the frame
    is NOT folded in) — the batch query's exact output shape
    (event_id, event_type, hod, z), flagged at |z| > the shared
    threshold; zero-variance and never-seen cells are excluded
    exactly, as in the batch form."""
    base = SEASONAL_FOLD.read(spark, state_dir)
    q = events.select(
        "event_id",
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("decimal(38,0)").alias("x"),
    )
    j = q.join(F.broadcast(base), ["event_type", "hod"])
    num = (F.col("n") * F.col("x") - F.col("sx")).cast("double")
    den2 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    z = num / F.sqrt(den2)
    return (
        j.filter((den2 > 0) & (F.abs(z) > _SEASONAL_Z))
        .select("event_id", "event_type", "hod", F.round(z, 6).alias("z"))
    )
