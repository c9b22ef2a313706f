"""Streaming calibration monitor — the standing twin of the batch
``workload/llm_text.py dq_calibration_ece`` audit: a stream of SCORED
documents (confidence + gold flag, e.g. the output of
``streaming/classify.py`` scoring batches against a hot-swapped model)
folds per-batch reliability-bin counts into versioned state, and the
read derives the identical per-bin table the batch query emits —
avg confidence, empirical positive rate, |gap| — from the folded
counts.

Why this folds exactly: the bin statistics are three EXACT integers
per bin (n, Σ conf_micro, Σ pos) — an abelian group aggregate, so
per-batch counts merge by addition in any order and any batching
reconciles bit-for-bit with the one-shot audit (the
``streaming/psi.py`` / ``streaming/fsem.py`` mergeable-counts
discipline). State is ≤ ``_ECE_BINS`` rows; a fold touches the
batch's map-side-combined bin counts plus bins-many state rows — a
metadata-priced standing monitor at any corpus size.

Exactly-once comes from the versioned-fold discipline
(``streaming/versioned.py``): replayed batches recompute identical
state content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload.llm_text import _ECE_BINS
from .versioned import Fold

#: scored-document stream contract: the batch query's scoring output
SCORED_SCHEMA = "doc_id bigint, p_quality double, gold boolean"


def bin_counts(scored: DataFrame) -> DataFrame:
    """Exact per-bin integer counts of a scored frame — the mergeable
    form. Bin assignment is integer division on the 6-digit-pinned
    confidence (the batch query's discipline), never a float compare."""
    return (
        scored.select(
            F.floor(F.col("p_quality") * 1000000 + 0.5)
            .cast("long")
            .alias("conf_micro"),
            F.when(F.col("gold"), 1).otherwise(0).alias("pos"),
        )
        .select(
            F.least(F.expr("conf_micro DIV 100000"), F.lit(_ECE_BINS - 1)).alias(
                "bin"
            ),
            "conf_micro",
            "pos",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conf_micro").cast("long").alias("s"),
            F.sum("pos").cast("long").alias("pos"),
        )
    )


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        state.unionByName(bin_counts(delta))
        .groupBy("bin")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.sum("pos").alias("pos"),
        )
    )


#: state (bin, n, sum_conf_micro, n_pos) — all exact integers
CALIBRATION_FOLD = Fold("bin bigint, n bigint, s bigint, pos bigint", _merge)
#: fold one scored micro-batch's bin counts into the state
apply_scored_batch = CALIBRATION_FOLD.apply
#: run the monitor over a scored-document stream (``SCORED_SCHEMA``)
monitor_stream = CALIBRATION_FOLD.stream


def read_reliability(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing reliability table — the batch query's exact output
    shape (bin, n_docs, avg_conf, frac_pos, abs_gap) derived from the
    folded integer counts; empty before any batch folds."""
    st = CALIBRATION_FOLD.read(spark, state_dir)
    return st.select(
        "bin",
        F.col("n").alias("n_docs"),
        F.round(F.col("s") * 1.0 / (F.col("n") * 1000000.0), 6).alias("avg_conf"),
        F.round(F.col("pos") * 1.0 / F.col("n"), 6).alias("frac_pos"),
        F.round(
            F.abs(F.col("s") - F.col("pos") * 1000000)
            * 1.0
            / (F.col("n") * 1000000.0),
            6,
        ).alias("abs_gap"),
    )
