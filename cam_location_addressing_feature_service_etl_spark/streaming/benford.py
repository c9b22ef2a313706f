"""Streaming Benford first-digit monitor — the standing twin of the
batch ``workload/relational.py dq_benford_audit``: a stream of amounts
folds per-batch first-digit counts into versioned state, and the read
derives the identical per-digit table (observed, expected, χ²
contribution) from the folded counts against the shared Benford
probability literals.

Digit counts are exact mergeable integers (the ``streaming/psi.py``
discipline) — state is ≤ 9 rows, a fold touches the batch's map-side-
combined digit counts plus those rows, and any batching reconciles
bit-for-bit with the one-shot audit. Exactly-once from the
versioned-fold replay discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload.relational import _BENFORD_CASE
from .versioned import Fold

#: amount-stream contract: any frame with a positive money column
AMOUNT_COLUMN = "o_totalprice"


def digit_counts(amounts: DataFrame) -> DataFrame:
    """Exact first-digit counts of a batch — the mergeable form. The
    digit comes from exact integer cents, as in the batch audit."""
    cents = F.floor(F.col(AMOUNT_COLUMN) * 100 + 0.5).cast("long")
    return (
        amounts.select(cents.alias("c"))
        .filter(F.col("c") > 0)
        .select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        state.unionByName(digit_counts(delta))
        .groupBy("digit")
        .agg(F.sum("n_obs").alias("n_obs"))
    )


BENFORD_FOLD = Fold("digit bigint, n_obs bigint", _merge)
#: fold one amount micro-batch's digit counts into the state
apply_amount_batch = BENFORD_FOLD.apply
#: run the Benford monitor over an amount stream
monitor_stream = BENFORD_FOLD.stream


def read_benford(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing audit table — the batch query's exact output shape
    (digit, n_obs, expected_n, chi2_part) from the folded counts and
    the SAME probability literals; empty before any batch folds."""
    cnt = BENFORD_FOLD.read(spark, state_dir)
    tot = cnt.agg(F.sum("n_obs").alias("big_n"))
    p = F.expr(_BENFORD_CASE)
    exp_n = F.col("big_n") * p
    return cnt.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(exp_n, 6).alias("expected_n"),
        F.round(
            (F.col("n_obs") - exp_n) * (F.col("n_obs") - exp_n) / exp_n, 6
        ).alias("chi2_part"),
    )
