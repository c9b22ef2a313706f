"""Streaming quality-funnel monitor — the standing twin of the batch
``workload/llm_text.py text_quality_funnel``: a document stream folds
per-batch cumulative survival counters (lang → length → repetition →
quality, every predicate doc-local) into versioned state, and the
read derives the identical 4-row funnel table from the folded
counters.

Counters are exact mergeable integers (the ``streaming/chi2.py``
discipline): the funnel's sufficient statistics are ADDITIVE over
disjoint batches because every stage predicate depends only on the
doc itself, so state is ONE row, a fold touches the batch's map-side-
combined counts plus that row, and any batching reconciles bit-for-
bit with the one-shot query — both sides call the SAME
``funnel_doc_flags`` / ``funnel_counts`` / ``funnel_table_from_counts``
definitions, so a stage threshold can never drift between the
oracle-checked batch audit and the standing monitor. Exactly-once
from the versioned-fold replay discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload.llm_text import (
    funnel_counts,
    funnel_doc_flags,
    funnel_table_from_counts,
)
from .versioned import Fold

_COUNTERS = ("n_total", "k1", "k2", "k3", "k4")


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    return (
        state.unionByName(funnel_counts(funnel_doc_flags(delta)))
        .agg(
            *[
                F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c)
                for c in _COUNTERS
            ]
        )
    )


FUNNEL_FOLD = Fold(", ".join(f"{c} bigint" for c in _COUNTERS), _merge)
#: fold one document micro-batch's survival counters into the state
apply_document_batch = FUNNEL_FOLD.apply
#: run the funnel monitor over a (doc_id, lang, text) document stream
monitor_stream = FUNNEL_FOLD.stream


def read_funnel(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing funnel table — the batch query's exact output
    shape from the folded counters; empty before any batch folds."""
    return funnel_table_from_counts(FUNNEL_FOLD.read(spark, state_dir))
