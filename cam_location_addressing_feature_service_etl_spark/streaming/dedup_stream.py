"""At-least-once transport deduplication with BOUNDED state —
``dropDuplicatesWithinWatermark``: redelivered events (same event_id,
possibly a different arrival time, the Kafka at-least-once shape) are
emitted once, and the dedup state for an id is EVICTED once the
watermark passes its event time plus the delay — unlike plain
``dropDuplicates`` on a stream, whose key state grows forever.

The contract is exactly the at-least-once window: a redelivery
arriving within the watermark delay of the first copy is suppressed;
a redelivery later than that MAY be emitted again (its state is gone)
— which is the right trade, because a transport that redelivers
beyond its own delivery timeout needs end-to-end idempotence anyway
(the versioned-fold discipline of ``streaming/versioned.py``), not
unbounded dedup state. State is bounded by (arrival rate × delay),
the same bound as the reorder buffer's.

The batch twin is first-occurrence dedup (``d2_first_wins_dedup``'s
semantics on the event feed); ``tests/test_streaming_dedup.py``
reconciles the stream against it for in-window redeliveries and pins
the beyond-window re-emission honestly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .versioned import parquet_stream

EVENT_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, value double"


def dedup_within_watermark(events: DataFrame, delay: str) -> DataFrame:
    """Emit each event_id once per watermark window: watermark on
    ``ts`` with ``delay``, then ``dropDuplicatesWithinWatermark`` on
    the id — Spark evicts an id's dedup state when the watermark
    passes (event time + delay)."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of event rows, possibly redelivered — the
    test stand-in for the Kafka event feed the dedup, EWMA and CUSUM
    twins read."""
    return parquet_stream(spark, path, EVENT_SCHEMA, max_files_per_trigger)
