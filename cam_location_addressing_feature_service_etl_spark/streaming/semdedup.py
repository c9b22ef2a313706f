"""Streaming SemDeDup — online semantic deduplication of a continuous
embedding stream (the streaming twin of ``sim_semdedup_prune``, and
the semantic member of the incremental-dedup family next to
``dedup_incremental_minhash``).

The production shape: cluster assignment is a stateless codebook
lookup (broadcast argmin against trained k-means centroids) done
upstream, so the stream arriving here is (vec_id, cluster, nv) with
``nv`` unit-normalized. The stateful part is the within-cluster prune:
a new vector is kept unless its cosine to SOME prior vector of the
same cluster clears the threshold — prior meaning smaller vec_id,
whether or not that vector was itself kept (the keep-first variant the
batch leg pins). That needs exactly the cluster's seen vectors as
state, so the operator is ``applyInPandasWithState`` keyed by cluster.

Why per-key state is bounded: SemDeDup's own premise (Abbas et al.
2023) is that k grows with the corpus so CELL SIZES STAY CONSTANT —
the state per cluster key is one cell, the same bound that makes the
batch GEMM a single task. The state store holds k cells of
constant size; a cell that outgrows its budget means the codebook is
due for retraining, not that the operator leaks.

Ordering contract (same discipline as ``streaming/geofence.py``, but
ENFORCED here): keep-first is defined by vec_id order, so exact
reconciliation with the batch query requires vec_ids to arrive
INCREASING per cluster across micro-batches (within a batch the
kernel sorts). The state carries the max id seen and the kernel
raises on a violation rather than emitting silently-divergent flags —
an out-of-order feed needs an upstream reorder buffer, which exists:
``streaming/reorder.py reorder_stream`` (event-time-watermarked,
releases in id order, flags beyond-lateness arrivals; the composed
pipeline reconciles with the batch flags in
``tests/test_streaming_reorder.py``).

Per batch and cluster the kernel is two numpy/BLAS GEMMs (new×state,
new×new upper triangle) with the SAME 6-digit rounding as the batch
kernel — BLAS-vs-fold float drift is ~1e-15 relative, absorbed by the
rounding on both legs (see ``operators/similarity.py``).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .versioned import parquet_stream

ASSIGNED_SCHEMA = "vec_id bigint, cluster bigint, nv array<double>"

OUTPUT_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("cluster", LongType(), False),
        StructField("kept", BooleanType(), False),
    ]
)

#: all seen vectors of the cluster (row-major flattened matrix) plus
#: the max vec_id seen — kept to ENFORCE the ordering contract, not
#: for the prune itself (individual ids are never needed again: a new
#: vector is checked against the whole matrix).
STATE_SCHEMA = StructType(
    [
        StructField("max_id", LongType(), False),
        StructField("flat", ArrayType(DoubleType()), False),
        StructField("dim", LongType(), False),
    ]
)

_ROUND_DIGITS = 6


def _make_update(threshold: float):
    def _update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (cluster,) = key
        chunks = list(pdfs)
        if not chunks:
            # a timed-out key arrives with no data; today the op runs
            # NoTimeout, but pd.concat([]) would raise if that changes
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        new = np.vstack(pdf["nv"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy(np.int64)
        dim = new.shape[1]
        if state.exists:
            prev_max, prev_flat, prev_dim = state.get
            prev = np.asarray(prev_flat, dtype=np.float64).reshape(
                -1, int(prev_dim)
            )
            if int(ids[0]) <= int(prev_max):
                # keep-first flags already emitted for later ids would
                # be wrong retroactively — fail fast, don't emit
                # silently-divergent flags (see module docstring)
                raise ValueError(
                    f"semdedup_stream ordering contract violated in "
                    f"cluster {cluster}: vec_id {int(ids[0])} arrived "
                    f"after {int(prev_max)}; feed an id-ordered stream "
                    f"or add an upstream reorder buffer"
                )
        else:
            prev_max = -1
            prev = np.zeros((0, dim), dtype=np.float64)
        # prune vs all PRIOR vectors: the already-seen cell, then the
        # in-batch upper triangle (smaller vec_id first)
        vs_prev = (
            (np.round(new @ prev.T, _ROUND_DIGITS) >= threshold).any(axis=1)
            if prev.shape[0]
            else np.zeros(len(ids), dtype=bool)
        )
        self_sims = np.round(new @ new.T, _ROUND_DIGITS)
        vs_batch = np.triu(self_sims >= threshold, k=1).any(axis=0)
        kept = ~(vs_prev | vs_batch)
        state.update(
            (
                int(ids[-1]),
                np.concatenate([prev.ravel(), new.ravel()]).tolist(),
                int(dim),
            )
        )
        yield pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": np.full(len(ids), np.int64(cluster)),
                "kept": kept,
            }
        )

    return _update


def semdedup_stream(assigned: DataFrame, threshold: float) -> DataFrame:
    """Online keep-first semantic dedup over a pre-assigned,
    unit-normalized embedding stream (vec_id, cluster, nv). Emits each
    vector's final (vec_id, cluster, kept) exactly once, in the batch
    that delivered it (append semantics — keep-first flags never
    change retroactively under the ordering contract)."""
    from ..session import _ship_package

    _ship_package(assigned.sparkSession)
    return (
        assigned.select("vec_id", "cluster", "nv")
        .groupBy("cluster")
        .applyInPandasWithState(
            _make_update(threshold),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def read_assigned_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of assigned vectors — the test stand-in for
    the Kafka embedding feed of a live ingest pipeline."""
    return parquet_stream(spark, path, ASSIGNED_SCHEMA, max_files_per_trigger)
