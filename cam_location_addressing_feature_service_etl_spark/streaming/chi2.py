"""Streaming chi-squared categorical-drift monitor — the standing
twin of the batch ``workload/events.py dq_chi2_drift``: an event
stream folds per-batch (category, ref/cur) counts into versioned
state, and the read derives the identical per-category chi² table
(Laplace-smoothed expected counts, one fixed expression tree) from
the folded counts.

Counts are exact mergeable integers keyed on the category (the
``streaming/ks.py`` discipline): state is category-sized, a fold
touches the batch's map-side-combined counts plus those rows, and any
batching reconciles bit-for-bit with the one-shot query — both sides
call the SAME ``chi2_category_counts`` / ``chi2_table_from_counts``
definitions, so the split boundary or the smoothing can never drift
between the oracle-checked batch query and the standing monitor.
Exactly-once from the versioned-fold replay discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload.events import chi2_category_counts, chi2_table_from_counts
from .versioned import Fold


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        state.unionByName(chi2_category_counts(delta))
        .groupBy("event_type")
        .agg(
            F.sum("n_ref").cast("long").alias("n_ref"),
            F.sum("n_cur").cast("long").alias("n_cur"),
        )
    )


CHI2_FOLD = Fold("event_type string, n_ref bigint, n_cur bigint", _merge)
#: fold one event micro-batch's per-category counts into the state
apply_event_batch = CHI2_FOLD.apply
#: run the chi² drift monitor over an (event_type, value, ts) stream
monitor_stream = CHI2_FOLD.stream


def read_chi2(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing chi² drift table — the batch query's exact output
    shape from the folded counts; empty before any batch folds."""
    return chi2_table_from_counts(CHI2_FOLD.read(spark, state_dir))
