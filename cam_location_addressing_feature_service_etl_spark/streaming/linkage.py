"""Streaming feed→master fuzzy linkage — the production addressing
shape: a continuous stream of dirty address records probed against a
STATIC master index (the streaming twin of ``workload.geo
geo_fuzzy_link_feed``, closing the one pipeline family that had no
streaming leg).

Linkage is stateless per feed record — a record's best master depends
only on the master list, never on other feed records or earlier
batches — so the right streaming operator is ``foreachBatch`` over the
exact batch plan, not a stateful map: each micro-batch runs
``workload.geo.link_feed_to_masters`` (the SAME function the batch
query uses, so the two legs cannot drift) against the persisted master
frame and appends its links to the sink. The union of per-batch
outputs over any micro-batch split equals the batch query on the whole
feed, proven split-insensitively in ``tests/test_streaming_linkage.py``.

Scale shape: the master side is the big, fixed relation (persist it
once — the PassJoin segment index is recomputed per batch from the
cached frame, which is the cheap, linear part of the plan; the
expensive part, candidate verification, is proportional to the BATCH),
and per-batch work is ∝ batch size × match density — the probe
direction ``SCALING.md``'s fuzzy_link row measures at x1.29 per
doubling. At 100 TB the feed is a Kafka source and the sink a
transactional table; the parquet-append sink here keeps the same
at-least-once contract (a retried batch re-appends — dedupe on
(feed_key) downstream or write batch-id-partitioned files for
exactly-once, the standard foreachBatch discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..workload.geo import link_feed_to_masters
from .versioned import parquet_stream, run_fold_stream

FEED_SCHEMA = "fk bigint, fn string"


def read_feed_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of dirty feed records (fk, fn) — the test
    stand-in for the Kafka feed of a live addressing service."""
    return parquet_stream(spark, path, FEED_SCHEMA, max_files_per_trigger)


def link_feed_stream(
    feed_stream: DataFrame,
    masters: DataFrame,
    tau: int,
    out_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    block_keys: tuple[str, ...] = ("first_token",),
) -> StreamingQuery:
    """Start the linkage stream: every micro-batch of ``feed_stream``
    (fk, fn) is linked against ``masters`` (mk, mn) with the
    batch core and appended to ``out_dir`` as parquet. The caller
    should ``persist()`` the master frame — it is reused by every
    batch. ``trigger`` passes through to ``writeStream.trigger`` —
    the default ``availableNow`` drains what exists and FINISHES
    (tests, catch-up runs); a live feed that keeps receiving records
    needs ``{"processingTime": "..."}`` or the query stops after the
    initial drain. ``block_keys`` passes through to the shared core —
    the recall/cost dial (single block / token union / whole-name full
    recall) is the SAME dial in both legs because the keys are
    computed inside ``link_feed_to_masters`` from the names."""
    m = masters

    def _link_batch(batch: DataFrame, _batch_id: int) -> None:
        out = link_feed_to_masters(m, batch, tau, block_keys=block_keys)
        out.write.mode("append").parquet(out_dir)

    return run_fold_stream(feed_stream, _link_batch, checkpoint_dir, trigger)
