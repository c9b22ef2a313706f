"""Streaming event aggregation: watermarked tumbling windows and
session windows over a file-source stream of the ``events`` table.

Design notes for the real deployment:

- source: ``readStream.format("kafka")`` (or files landing in object
  storage); here a parquet file source stands in — same plan shape.
- watermark bounds state: 1 hour of late data is tolerated, older
  state is evicted — this is what keeps a 100 TB/day stream's state
  finite.
- session windows use the built-in ``session_window`` (gap-based),
  the streaming twin of the batch lag/cumsum sessionization in
  ``workload/events.py`` (which carries the DuckDB oracle check).
- sinks in tests use ``availableNow`` + memory sink so the streaming
  plans are exercised end-to-end without a broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.upsert import upsert_by_key
from ..workload.events import (
    _CMS_DEPTH,
    _CMS_WIDTH,
    _GAP_MIN,
    _KLL_K,
    _SLD_BUCKET_MS,
    _SLD_LGK,
    _THETA_LGK,
    _cms_bucket,
)
from .versioned import Fold

#: physical schema of events.parquet when ts is TIMESTAMP(NANOS) read
#: as long under nanosAsLong (older generator); newer data carries a
#: real µs timestamp — read_event_stream probes the footer and adapts.
EVENTS_FILE_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", LongType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events, schema-adaptive on ts like
    tables.load: nanos-as-long footers get the ns→µs conversion,
    native timestamp footers stream as-is. A streaming source needs
    the schema up front, so probe it with a batch footer read (driver
    metadata only — no data scan). ``max_files_per_trigger`` caps each
    micro-batch (tests use 1 so a multi-file replay actually crosses
    micro-batch boundaries — availableNow would otherwise drain every
    file in one batch and never exercise cross-batch state)."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ts_type = spark.read.parquet(path).schema["ts"].dataType
    if isinstance(ts_type, LongType):
        raw = reader.schema(EVENTS_FILE_SCHEMA).format("parquet").load(path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    schema = StructType(
        [
            f if f.name != "ts" else StructField("ts", ts_type, True)
            for f in EVENTS_FILE_SCHEMA.fields
        ]
    )
    raw = reader.schema(schema).format("parquet").load(path)
    # session tz is pinned UTC, so NTZ→LTZ keeps the same instant;
    # watermarks and window() need the LTZ type.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of ``ev_tumbling_window_hourly``: watermarked
    tumbling-window counts/sums per event type."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_events(events: DataFrame) -> DataFrame:
    """Gap-based session windows per user (stateful streaming agg),
    with the batch sessionization's gap."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", f"{_GAP_MIN} minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,8)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (availableNow trigger) into a memory sink; returns the result as a
    batch DataFrame. Used by tests; a real deployment writes to
    Kafka/Delta with checkpointing instead. ``output_mode`` must be
    ``append`` for stream-stream joins and streaming dedup (no
    result-set retraction), ``complete`` for running aggregates."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return stream_df.sparkSession.table(query_name)


def deduped_event_stream(events: DataFrame) -> DataFrame:
    """Streaming exactly-once-per-id dedup: drop replayed event_ids
    within the 1-hour watermark horizon (``dropDuplicatesWithinWatermark``
    keys the state store on event_id and evicts ids older than the
    watermark — bounded state, unlike a plain dropDuplicates which
    grows forever on a stream)."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def click_purchase_stream_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join: each click paired with the same
    user's purchases in the preceding hour. Both sides are
    watermarked so the join state (buffered unmatched rows) is
    evicted once the time-range condition can no longer match —
    the canonical bounded-state stream-stream join shape.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", "1 hour")
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", "1 hour")
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 hour")),
    ).select("click_id", "user_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value")


def upsert_snapshot_sink(schema: str, key_cols: list[str]) -> Fold:
    """foreachBatch upsert sink: a ``Fold`` over the stream's
    ``schema`` that MERGEs every micro-batch into the keyed state with
    last-write-wins semantics (``operators.upsert`` — the streaming
    twin of the reference's per-page ESRI upsert, SURVEY §2.9 M1/M2).
    Within a batch one row per key survives. ``.stream(events,
    state_dir, checkpoint_dir)`` runs it, ``.read(spark, state_dir)``
    returns the current state. Each batch commits a new version, so a
    reader always sees a whole state and a replayed batch folds
    exactly once (``streaming/versioned.py``)."""
    return Fold(
        schema,
        lambda prior, batch: upsert_by_key(prior, batch.dropDuplicates(key_cols), key_cols),
    )


def tumbling_distinct_sketches(
    events: DataFrame, bucket: str = f"{_SLD_BUCKET_MS // 60_000} minutes"
) -> DataFrame:
    """Streaming leg of the sliding-distinct pattern (the twin of the
    batch ``ev_sliding_distinct_hll`` query): maintain one MERGEABLE
    HLL sketch, of the batch query's size, per tumbling bucket —
    (bucket_start, sk: binary). A
    sliding window is then a sketch-sized ``hll_union_agg`` over the
    span's buckets BATCH-side (the dashboard/rollup query), so raw
    events are aggregated exactly once in the stream and the slide
    never re-touches them — the production division of labor that a
    native sliding-window agg (which explodes every event into
    window/slide copies inside the state store) cannot match.

    HLL sketches are order-insensitive (register maxima), so the
    streaming result is bit-identical to a batch ``hll_sketch_agg``
    over the same events — asserted in tests/test_streaming_hll.py.
    State per bucket is one kilobyte-scale sketch; the watermark
    bounds how many buckets stay open."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", bucket).alias("w"))
        .agg(F.hll_sketch_agg(F.col("user_id"), F.lit(_SLD_LGK)).alias("sk"))
        .select(F.col("w.start").alias("bucket_start"), "sk")
    )


def enriched_event_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream is joined against a STATIC dimension (here any (user_id,
    ...) frame — segment tables, account metadata). Spark re-plans the
    static side per batch, so a small dimension is broadcast every
    batch with no state store involved — the cheapest join a stream
    can do, and the first choice before reaching for stream-stream
    joins. Left join keeps events with no dimension row (label NULL)."""
    return events.join(dim, "user_id", "left")


def streaming_type_theta_sketches(events: DataFrame) -> DataFrame:
    """Streaming leg of ``a10_theta_audience_overlap``: one mergeable
    theta sketch per event type, maintained incrementally across
    micro-batches (complete-mode global aggregate — state is T
    sketches, kilobytes). The pair algebra (intersection/union
    estimates) stays a batch rollup over this T-row state frame,
    exactly as the batch query does it.

    A theta sketch retains the k smallest hashes of the input SET —
    an order-insensitive, duplicate-insensitive function — so the
    streaming state is bit-identical to a batch ``theta_sketch_agg``
    over the same events no matter where micro-batch boundaries fall
    (asserted in tests/test_streaming_hll.py), and updating on RAW
    events equals the batch build over distinct (type, user) pairs."""
    return events.groupBy("event_type").agg(
        F.theta_sketch_agg(F.col("user_id"), lgNomEntries=_THETA_LGK).alias("sk")
    )


def tumbling_value_quantile_sketches(events: DataFrame) -> DataFrame:
    """Streaming leg of ``a11_kll_quantile_rollup``: one KLL sketch of
    event value per tumbling day, maintained incrementally; the fold
    into an overall sketch (``kll_sketch_merge_double``) stays a
    batch-side rollup over the days-count state frame.

    Unlike HLL/theta, KLL compaction IS order-sensitive — a different
    micro-batch split can yield a byte-different sketch — so the
    split-insensitive contract is rank-space, not bit-space: the
    retained-count n is always exact, and value-at-rank-q of the
    folded sketch lands within the same q±tol band the batch query
    verifies against its oracle (asserted in
    tests/test_streaming_hll.py). Watermark bounds open-bucket state."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.kll_sketch_agg_double(F.col("value"), F.lit(_KLL_K)).alias("sk"))
        .select(F.col("w.start").alias("bucket_start"), "sk")
    )


def tumbling_cms_cells(events: DataFrame) -> DataFrame:
    """Streaming leg of ``a12_cms_heavy_hitters`` — completing the
    four-sketch maintenance family (HLL buckets, theta types, KLL
    days, CMS cells): maintain the (depth × width) count-min counter
    matrix PER tumbling bucket as a windowed aggregate over hashed
    cells. Count-min cells are PLAIN ADDITIVE COUNTERS, so unlike KLL
    (order-sensitive compaction) and like HLL/theta, the streamed
    state is EXACTLY the batch state for any micro-batch split — and
    the rollup merge (cellwise SUM across buckets) plus min-over-depth
    estimation are ordinary batch aggregates over d·w-row frames.
    State per bucket is d·w longs (kilobytes); watermark bounds open
    buckets. Asserted bit-exact against the batch build and the
    registry query's estimates in tests/test_streaming_hll.py."""
    # the geometry is the BATCH constants', so a retune in
    # workload/events.py cannot silently diverge the streamed sketch
    depth_rows = F.explode(
        F.array(*[F.lit(i).cast("long") for i in range(_CMS_DEPTH)])
    )
    return (
        events.withWatermark("ts", "1 day")
        .select("ts", "user_id")
        .withColumn("row", depth_rows)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            "row",
            _cms_bucket(F.col("user_id"), F.col("row"), _CMS_WIDTH).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("bucket_start"), "row", "bucket", "c")
    )
