"""Streaming materialized-view maintenance — the production loop
around ``workload/events.py mv_retractable_agg_maintenance``: a
continuous CDC stream of SIGNED delta rows (inserts +1/+v, deletes
-1/-v) maintains a per-key (count, sum) view stored as parquet,
without ever rescanning the base table.

Exactly-once comes from the shared idempotent-versioning discipline
(``streaming/versioned.py``): each batch folds into ``view_dir/v=
<batch_id>`` after reading the latest smaller version, so replayed
batches overwrite their own version with identical content.

Scale: per batch the maintenance input is the standing view (|keys|
rows) plus the batch's delta — map-side-combined to one row per key
per side — and the write is |keys| rows. The base fact table is never
read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import Fold, parquet_stream

DELTA_SCHEMA = "user_id bigint, dn bigint, dv bigint"


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The current (max committed version) state of the view; empty
    frame with the view schema when no version exists yet. Keys whose
    live count is non-positive are filtered HERE, at read time — the
    stored state keeps them (see ``_merge``)."""
    return VIEW_FOLD.read(spark, view_dir).filter(
        F.col("n_events") > 0
    )


def _merge(view: DataFrame, delta: DataFrame) -> DataFrame:
    # Non-positive keys STAY in the stored state: under cross-batch
    # CDC disorder (a delete folded before its matching insert) the
    # negative carry must survive to cancel the late insert — dropping
    # it here would pin the key at count 1 forever. Readers filter
    # n_events > 0 (read_view); zero-count keys are garbage-collected
    # only when exactly balanced (no information lost).
    return (
        view.select(
            "user_id",
            F.col("n_events").alias("dn"),
            F.col("total_centi").alias("dv"),
        )
        .unionByName(delta.select("user_id", "dn", "dv"))
        .groupBy("user_id")
        .agg(F.sum("dn").alias("n_events"), F.sum("dv").alias("total_centi"))
        .filter((F.col("n_events") != 0) | (F.col("total_centi") != 0))
    )


VIEW_FOLD = Fold("user_id bigint, n_events bigint, total_centi bigint", _merge)
#: apply one signed-delta micro-batch: merge into the latest prior view
#: version (union + one groupBy) and write ``v=<batch_id>``. The STORED
#: state may carry non-positive keys (negative carries from CDC
#: disorder; only exactly-balanced (0, 0) keys are garbage-collected) —
#: consumers read through ``read_view``, which filters to live keys,
#: never ``VIEW_FOLD.read`` directly
apply_delta_batch = VIEW_FOLD.apply
#: run the maintenance loop over a signed-delta stream (``DELTA_SCHEMA``)
maintain_view_stream = VIEW_FOLD.stream


def read_delta_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of signed delta rows — the test stand-in for
    a CDC topic."""
    return parquet_stream(spark, path, DELTA_SCHEMA, max_files_per_trigger)
