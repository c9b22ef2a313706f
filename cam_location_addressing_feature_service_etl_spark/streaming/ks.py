"""Streaming Kolmogorov–Smirnov drift monitor — the standing twin of
the batch ``workload/events.py dq_ks_drift``: an event stream folds
per-batch (event_type, centi-value) ref/cur counts into versioned
state, and the read derives the identical per-type KS table (exact
integer ECDF numerator, one division + one sqrt at the end) from the
folded counts.

Counts are exact mergeable integers keyed on the centi-value grid
(the ``streaming/psi.py`` discipline): state is distinct-value-sized,
a fold touches the batch's map-side-combined counts plus those rows,
and any batching reconciles bit-for-bit with the one-shot query —
both sides call the SAME ``ks_value_counts`` / ``ks_table_from_counts``
definitions, so the grid or the split boundary can never drift
between the oracle-checked batch query and the standing monitor.
Exactly-once from the versioned-fold replay discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload.events import ks_table_from_counts, ks_value_counts
from .versioned import Fold


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        state.unionByName(ks_value_counts(delta))
        .groupBy("event_type", "v")
        .agg(
            F.sum("n_ref").cast("long").alias("n_ref"),
            F.sum("n_cur").cast("long").alias("n_cur"),
        )
    )


KS_FOLD = Fold("event_type string, v bigint, n_ref bigint, n_cur bigint", _merge)
#: fold one event micro-batch's (type, value-grid) counts into the state
apply_event_batch = KS_FOLD.apply
#: run the KS drift monitor over an (event_type, value, ts) stream
monitor_stream = KS_FOLD.stream


def read_ks(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing KS drift table — the batch query's exact output
    shape from the folded counts; empty before any batch folds."""
    return ks_table_from_counts(KS_FOLD.read(spark, state_dir))
