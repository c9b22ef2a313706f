"""Structured Streaming plans exercised end-to-end (availableNow →
memory sink) and cross-checked against the batch equivalents that
carry the DuckDB oracle."""

from __future__ import annotations

import pytest

from cam_location_addressing_feature_service_etl_spark.streaming.events import (
    read_event_stream,
    run_stream_to_memory,
    sessionized_events,
    windowed_event_counts,
)
from cam_location_addressing_feature_service_etl_spark.workload.events import (
    ev_sessionize_gap30,
    ev_tumbling_window_hourly,
)

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # file-source streams read a DIRECTORY of files landing over time
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_windowed_counts_match_batch(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    got = run_stream_to_memory(windowed_event_counts(stream), "win_counts")
    batch = ev_tumbling_window_hourly(spark, SF_SMOKE)
    key = lambda r: (r["window_start"], r["event_type"])
    got_rows = {key(r): (r["n_events"], r["sum_value"]) for r in got.collect()}
    batch_rows = {key(r): (r["n_events"], r["sum_value"]) for r in batch.collect()}
    assert got_rows == batch_rows


def test_streaming_sessionization_runs_stateful(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    got = run_stream_to_memory(sessionized_events(stream), "sessions")
    batch = ev_sessionize_gap30(spark, SF_SMOKE)
    # session_window and the lag/cumsum formulation agree on session
    # COUNT per user (same 30-min gap rule).
    got_n = got.count()
    batch_n = batch.count()
    assert got_n == batch_n > 0


def test_stream_stream_join_matches_batch(spark, events_dir):
    from pyspark.sql import functions as F

    from cam_location_addressing_feature_service_etl_spark.streaming.events import (
        click_purchase_stream_join,
    )
    from cam_location_addressing_feature_service_etl_spark.tables import load

    stream = read_event_stream(spark, events_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    got = run_stream_to_memory(
        click_purchase_stream_join(clicks, purchases), "ss_join", output_mode="append"
    )

    ev = load(spark, SF_SMOKE, "events")
    c = ev.filter(F.col("event_type") == "click")
    p = ev.filter(F.col("event_type") == "purchase")
    batch = c.alias("c").join(
        p.alias("p"),
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") <= F.col("c.ts"))
        & (F.col("p.ts") >= F.col("c.ts") - F.expr("INTERVAL 1 hour")),
    )
    assert got.count() == batch.count() > 0


def test_streaming_dedup_within_watermark(spark, events_dir, tmp_path):
    # land the same file twice: every event_id is replayed once
    import shutil

    from cam_location_addressing_feature_service_etl_spark.streaming.events import (
        deduped_event_stream,
    )

    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(f"{events_dir}/part-000.parquet", d / "a.parquet")
    shutil.copy(f"{events_dir}/part-000.parquet", d / "b.parquet")
    stream = read_event_stream(spark, str(d))
    got = run_stream_to_memory(
        deduped_event_stream(stream).select("event_id"), "dedup_stream",
        output_mode="append",
    )
    n_unique = spark.read.parquet(f"{events_dir}/part-000.parquet").count()
    assert got.count() == n_unique


def test_foreach_batch_upsert_sink(spark, tmp_path):
    from cam_location_addressing_feature_service_etl_spark.streaming.events import (
        upsert_snapshot_sink,
    )

    schema = "k long, v string, batch int"
    src = tmp_path / "src"
    src.mkdir()
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema)
    upd = spark.createDataFrame([(2, "B", 2), (3, "c", 2)], schema)
    # plain parquet FILES (not spark output dirs): the file stream
    # source lists files, it does not recurse into part-dirs
    base.toPandas().to_parquet(str(src / "f1.parquet"))
    upd.toPandas().to_parquet(str(src / "f2.parquet"))

    def stream():
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(src))

    sink = upsert_snapshot_sink(schema, key_cols=["k"])
    sink.stream(stream(), snap, ckpt).awaitTermination(120)

    final = {r["k"]: (r["v"]) for r in sink.read(spark, snap).collect()}
    # last-write-wins per key; both batches' keys present
    assert final[1] == "a" and final[3] == "c"
    assert final[2] in ("b", "B")  # whichever file landed second wins
    # deterministically: maxFilesPerTrigger processes files in discovery
    # order, so f2 (updates) lands in a later batch than f1 iff two
    # batches ran; with one batch, dropDuplicates keeps one of them.

    # a restart from the same checkpoint folds only the new file onto
    # the committed state
    spark.createDataFrame([(4, "d", 3)], schema).toPandas().to_parquet(str(src / "f3.parquet"))
    sink.stream(stream(), snap, ckpt).awaitTermination(120)
    later = {r["k"]: r["v"] for r in sink.read(spark, snap).collect()}
    assert later == {**final, 4: "d"}


def test_stream_static_enrichment_join(spark, tmp_path):
    import shutil

    from pyspark.sql import functions as F

    from cam_location_addressing_feature_service_etl_spark.streaming.events import (
        enriched_event_stream,
    )
    from cam_location_addressing_feature_service_etl_spark.tables import load
    from tests.conftest import SF_SMOKE

    d = tmp_path / "in"
    d.mkdir()
    batch = load(spark, SF_SMOKE, "events")
    batch.coalesce(1).write.parquet(str(tmp_path / "flat"))
    import glob

    (part,) = glob.glob(str(tmp_path / "flat" / "part-*.parquet"))
    shutil.copy(part, d / "a.parquet")

    dim = batch.select("user_id").distinct().withColumn(
        "segment",
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"),
    ).filter(F.col("user_id") % 3 != 0)  # leave some users unmatched

    stream = spark.readStream.schema(batch.schema).format("parquet").load(str(d))
    q = (
        enriched_event_stream(stream, dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("enriched")
    assert got.count() == batch.count()  # left join keeps all events
    matched = got.filter(F.col("segment").isNotNull()).select("user_id").distinct()
    assert matched.filter(F.col("user_id") % 3 == 0).count() == 0
    # enrichment values correct per parity with the batch join
    batch_join = batch.join(dim, "user_id", "left")
    assert sorted(map(tuple, got.select("event_id", "segment").collect())) == sorted(
        map(tuple, batch_join.select("event_id", "segment").collect())
    )
