"""Streaming per-user EWMA — the stateful twin of the batch
``ev_ewma_value`` window convolution, for live engagement trend lines.

The batch leg formulates EWMA as a finite {lags}-lag convolution with
micro-quantized integer weights (``workload/events.py`` — exact BIGINT
arithmetic, no float fold order). The streaming twin keeps, per user,
only the LAST {lags}-1 quantized values as state (the convolution's
entire memory — state is O(lags) per key, independent of stream
length) and emits each arriving event's exact convolution value. Both
legs share the same weight vector ``_EWMA_W`` and the same value
quantization, so the stream reconciles with the batch query
bit-for-bit (``tests/test_streaming_ewma.py``).

Ordering contract (same discipline as ``streaming/semdedup.py``, and
the same remedy): the convolution window is defined by (ts, event_id)
order, so per-user events must arrive in nondecreasing (ts, event_id)
across micro-batches — the kernel sorts within a batch and RAISES on a
cross-batch violation rather than emitting silently-wrong smoothed
values; an out-of-order transport needs a reorder stage in front —
``streaming/reorder.py`` IS that operator (generic over key/seq/
payload columns; the composed out-of-order feed → reorder keyed by
user → ewma pipeline reconciles bit-for-bit with the batch query in
``tests/test_streaming_reorder.py``).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from ..workload.events import _EWMA_LAGS, _EWMA_W

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("user_id", LongType(), False),
        StructField("ewma_micro", LongType(), False),
    ]
)

#: the convolution's memory: last lags-1 quantized values (oldest
#: first) + the (ts ns, event_id) high-water mark for the ordering gate
STATE_SCHEMA = StructType(
    [
        StructField("last_ts", LongType(), False),
        StructField("last_eid", LongType(), False),
        StructField("tail", ArrayType(LongType()), False),
    ]
)

_W = np.asarray(_EWMA_W, dtype=np.int64)


def _update_ewma(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    chunks = [c for c in pdfs if len(c)]
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True).sort_values(
        ["ts", "event_id"], ignore_index=True
    )
    ts_ns = pd.to_datetime(pdf["ts"]).to_numpy().astype("datetime64[ns]").astype(np.int64)
    eids = pdf["event_id"].to_numpy(np.int64)
    if state.exists:
        last_ts, last_eid, tail = state.get
        tail = np.asarray(tail, dtype=np.int64)
        if (int(ts_ns[0]), int(eids[0])) <= (int(last_ts), int(last_eid)):
            raise ValueError(
                f"ewma_stream ordering contract violated for user "
                f"{user_id}: event ({int(ts_ns[0])}, {int(eids[0])}) "
                f"arrived after ({int(last_ts)}, {int(last_eid)}); feed a "
                f"(ts, event_id)-ordered stream or add an upstream "
                f"reorder buffer (streaming/reorder.py pattern)"
            )
    else:
        tail = np.zeros(0, dtype=np.int64)
    xi = np.floor(pdf["value"].to_numpy(np.float64) * 100 + 0.5).astype(np.int64)
    seq = np.concatenate([tail, xi])
    # exact integer convolution; positions len(tail).. are this batch's
    conv = np.convolve(seq, _W)[len(tail) : len(seq)]
    state.update(
        (
            int(ts_ns[-1]),
            int(eids[-1]),
            seq[-(_EWMA_LAGS - 1) :].tolist(),
        )
    )
    yield pd.DataFrame(
        {
            "event_id": eids,
            "user_id": np.full(len(eids), np.int64(user_id)),
            "ewma_micro": conv,
        }
    )


def ewma_stream(events: DataFrame) -> DataFrame:
    """Per-user streaming EWMA over an (event_id, ts, user_id, value)
    stream: emits each event's exact integer convolution value once,
    in the batch that delivered it (append semantics — under the
    ordering contract a value never changes retroactively)."""
    from ..session import _ship_package

    _ship_package(events.sparkSession)
    return (
        events.select("event_id", "ts", "user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_ewma,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


__doc__ = __doc__.format(lags=_EWMA_LAGS)
