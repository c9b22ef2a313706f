"""Streaming PSI drift monitor — the standing-monitor loop the batch
query ``workload/events.py dq_psi_drift`` prices: a REFERENCE band
distribution is frozen once (exact integer counts), then the monitored
event stream folds per-batch band counts into versioned state
(``streaming/versioned.py`` exactly-once discipline — counts are a
group aggregate, so the fold is the mv.py count-merge), and the PSI
read derives each band's contribution against the frozen reference
with the SAME Laplace-smoothed formula as the batch query.

Per batch the fold touches ``bands`` rows of state plus the batch's
map-side-combined band counts — a metadata-priced standing monitor;
the reference distribution is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload.events import _PSI_BANDS, psi_band_col as band_col
from .versioned import Fold


def freeze_reference(events: DataFrame, ref_dir: str) -> None:
    """Write the frozen reference band distribution (exact integer
    counts) once; the monitor never rescans the reference window."""
    events.select(band_col()).groupBy("band").agg(
        F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").parquet(ref_dir)


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        state.unionByName(delta.select(band_col(), F.lit(1).alias("n")))
        .groupBy("band")
        .agg(F.sum("n").alias("n"))
    )


PSI_FOLD = Fold("band bigint, n bigint", _merge)
#: fold one monitored micro-batch's band counts into the state
apply_psi_batch = PSI_FOLD.apply
#: run the monitor over an event stream carrying a ``value`` column
monitor_stream = PSI_FOLD.stream


def read_psi(spark: SparkSession, state_dir: str, ref_dir: str) -> DataFrame:
    """Per-band PSI contributions of the monitored counts vs the
    frozen reference — the identical Laplace-smoothed formula as the
    batch query (band, n_ref, n_cur, psi_part)."""
    grid = spark.range(_PSI_BANDS).select(F.col("id").alias("band"))
    ref = spark.read.parquet(ref_dir).select(
        "band", F.col("n").alias("r")
    )
    cur = PSI_FOLD.read(spark, state_dir).select(
        "band", F.col("n").alias("c")
    )
    cnt = (
        grid.join(ref, "band", "left")
        .join(cur, "band", "left")
        .select(
            "band",
            F.coalesce(F.col("r"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("c"), F.lit(0)).alias("n_cur"),
        )
    )
    tot = cnt.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + _PSI_BANDS)
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.col("tr") + _PSI_BANDS)
    return cnt.crossJoin(F.broadcast(tot)).select(
        "band",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_part"),
    )
