"""Streaming Fellegi–Sunter EM training — the standing-trainer loop of
``workload/geo.py er_fs_em_train``, exploiting the same reduction: the
candidate pairs enter EM only through their 8 integer agreement-pattern
counts, and counts are MERGEABLE, so a stream of scored candidate
batches folds into a versioned 8-row count state
(``streaming/versioned.py`` exactly-once discipline) and the EM rounds
re-run at READ time on that 1-row-equivalent state — training is
always up to date with everything seen, at zero per-batch cost beyond
one map-side-combined groupBy (the ``text_nb_incremental_train``
mergeable-sufficient-statistics shape, applied to linkage).

Reconciliation is exact by construction: fold(batches).counts ==
one-shot counts (integer sums), and the read-time EM is the SAME
generated float program (``_fs_em_layers``) the batch query and its
DuckDB oracle run — pinned in tests/test_streaming_fsem.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload.geo import (
    _fs_decision_layers,
    _fs_decision_select,
    _fs_em_layers,
    _FS_EM_ROUNDS,
)
from .versioned import Fold

#: incoming candidate batches carry the agreement vector
GAMMA_SCHEMA = "a_first boolean, a_last boolean, a_close boolean"


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    k = (
        F.col("a_first").cast("long") * 4
        + F.col("a_last").cast("long") * 2
        + F.col("a_close").cast("long")
    )
    return (
        state.unionByName(
            delta.select(k.alias("k"), F.lit(1).cast("long").alias("n"))
        )
        .groupBy("k")
        .agg(F.sum("n").alias("n"))
    )


#: state: one row per agreement pattern k = a_first*4 + a_last*2 + a_close
FSEM_FOLD = Fold("k bigint, n bigint", _merge)
#: fold one batch of agreement vectors into the pattern counts
apply_gamma_batch = FSEM_FOLD.apply
#: run the trainer over a stream of agreement vectors (``GAMMA_SCHEMA``)
train_stream = FSEM_FOLD.stream


def _trained_frame(spark: SparkSession, state_dir: str) -> DataFrame:
    """The 1-row trained frame (counts + every EM layer) from the
    folded state — the streaming analogue of ``_fs_em_trained``.
    Empty (zero rows) when no pairs were ever folded: EM on all-zero
    counts is a 0/0 posterior whose NaN the M-step clamp would
    silently coerce to 1-1e-9, handing the consumer plausible-looking
    parameters with n_pairs=0. The guard is a lazy filter on the one
    aggregated row — no extra action."""
    counts = FSEM_FOLD.read(spark, state_dir)
    # widen the ≤8 count rows to the one n0..n7 row the EM program
    # references — disjoint-singleton sums, order-irrelevant, exact
    df = counts.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("k") == k, F.col("n"))), F.lit(0))
            .cast("double")
            .alias(f"n{k}")
            for k in range(8)
        ]
    )
    # empty-state short-circuit: drop the row before EM when no pairs
    # were ever folded (empty dir or all-zero counts both sum to 0)
    df = df.filter(sum(F.col(f"n{k}") for k in range(8)) > 0)
    for layer in _fs_em_layers():
        df = df.selectExpr("*", *[f"{e} AS {nm}" for nm, e in layer])
    return df


def read_decision_table(spark: SparkSession, state_dir: str) -> DataFrame:
    """The λ/μ decision table trained on everything folded so far —
    the batch ``er_fs_decision_rule`` output shape from the standing
    counts, via the SAME generated layers, so a stream whose folded
    counts equal the batch candidate counts yields the identical
    8-row table (pinned in tests/test_streaming_fsem.py). Empty when
    nothing was folded."""
    df = _trained_frame(spark, state_dir)
    for layer in _fs_decision_layers():
        df = df.selectExpr("*", *[f"{e} AS {nm}" for nm, e in layer])
    pat = df.select(
        "*",
        F.explode(F.array(*[F.lit(k) for k in range(8)])).alias("k"),
    )
    return pat.selectExpr(*_fs_decision_select())


def read_trained_params(spark: SparkSession, state_dir: str) -> DataFrame:
    """Run the EM rounds on the folded counts and return the trained
    parameters — the batch query's output shape (n_pairs, p_match,
    m_*/u_* per field), from the identical generated float program.
    Empty when nothing was folded (see ``_trained_frame``)."""
    df = _trained_frame(spark, state_dir)
    r = _FS_EM_ROUNDS
    n_pairs = "(((((((n0 + n1) + n2) + n3) + n4) + n5) + n6) + n7)"
    return df.selectExpr(
        f"CAST({n_pairs} AS BIGINT) AS n_pairs",
        f"ROUND(p_{r}, 6) AS p_match",
        *[
            e
            for i, f_ in enumerate(("first", "last", "close"))
            for e in (
                f"ROUND(m{i}_{r}, 6) AS m_{f_}",
                f"ROUND(u{i}_{r}, 6) AS u_{f_}",
            )
        ],
    )
