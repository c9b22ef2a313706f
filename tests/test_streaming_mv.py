"""Streaming MV maintenance reconciles with the batch query and is
idempotent under batch replay: the signed CDC deltas of
mv_retractable_agg_maintenance stream through the versioned view loop
and the final view equals the batch result; re-applying a batch (the
foreachBatch at-least-once case) changes nothing."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from cam_location_addressing_feature_service_etl_spark.streaming.mv import (
    apply_delta_batch,
    maintain_view_stream,
    read_delta_stream,
    read_view,
)
from cam_location_addressing_feature_service_etl_spark.tables import load
from cam_location_addressing_feature_service_etl_spark.workload import QUERIES

from tests.conftest import SF_SMOKE


def _signed_deltas(spark):
    """The exact CDC rows the batch query applies: base rows as
    inserts (batch 1), then increment inserts + base deletes
    (batch 2)."""
    events = load(spark, SF_SMOKE, "events")
    v = F.floor(F.col("value") * 100 + 0.5).cast("long")
    is_base = F.col("event_id") % 10 < 8
    is_delete = is_base & (F.col("event_id") % 7 == 0)
    b1 = events.filter(is_base).select(
        "user_id", F.lit(1).cast("long").alias("dn"), v.alias("dv")
    )
    b2 = (
        events.filter(~is_base)
        .select("user_id", F.lit(1).cast("long").alias("dn"), v.alias("dv"))
        .unionByName(
            events.filter(is_delete).select(
                "user_id", F.lit(-1).cast("long").alias("dn"), (-v).alias("dv")
            )
        )
    )
    return b1, b2


def _rows(df):
    return {
        (r["user_id"], r["n_events"], r["total_centi"]) for r in df.collect()
    }


def test_mv_stream_reconciles_with_batch_query(spark, tmp_path):
    b1, b2 = _signed_deltas(spark)
    d = tmp_path / "cdc"
    d.mkdir()
    now = 1_700_000_000
    for i, b in enumerate((b1, b2)):
        f = d / f"b{i}.parquet"
        pq.write_table(
            pa.Table.from_pandas(b.toPandas(), preserve_index=False), f
        )
        os.utime(f, (now + 60 * i, now + 60 * i))

    view_dir = str(tmp_path / "view")
    q = maintain_view_stream(
        read_delta_stream(spark, str(d), max_files_per_trigger=1),
        view_dir,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    want = _rows(QUERIES["mv_retractable_agg_maintenance"](spark, SF_SMOKE))
    assert _rows(read_view(spark, view_dir)) == want


def test_mv_apply_is_idempotent_under_replay(spark, tmp_path):
    b1, b2 = _signed_deltas(spark)
    view_dir = str(tmp_path / "view")
    apply_delta_batch(b1, 0, view_dir)
    after_first = _rows(read_view(spark, view_dir))
    apply_delta_batch(b1, 0, view_dir)  # replayed batch: same content
    assert _rows(read_view(spark, view_dir)) == after_first
    apply_delta_batch(b2, 1, view_dir)
    final = _rows(read_view(spark, view_dir))
    apply_delta_batch(b2, 1, view_dir)  # replay the second batch too
    assert _rows(read_view(spark, view_dir)) == final
    want = _rows(QUERIES["mv_retractable_agg_maintenance"](spark, SF_SMOKE))
    assert final == want


def test_mv_view_version_pruning(spark, tmp_path):
    from cam_location_addressing_feature_service_etl_spark import store

    b1, _ = _signed_deltas(spark)
    view_dir = str(tmp_path / "view")
    for bid in range(5):
        apply_delta_batch(b1, bid, view_dir, retain_versions=2)
    assert store.committed(spark, view_dir, "v=", "_SUCCESS") == ["3", "4"]


def test_uncommitted_version_is_invisible(spark, tmp_path):
    """A version directory without its _SUCCESS marker (a writer crash
    or an in-flight write) must not be readable as latest; the replayed
    batch overwrites it and commits."""
    import pathlib

    b1, _ = _signed_deltas(spark)
    view_dir = str(tmp_path / "view")
    apply_delta_batch(b1, 0, view_dir)
    committed = _rows(read_view(spark, view_dir))

    partial = pathlib.Path(view_dir) / "v=1"
    partial.mkdir()
    (partial / "part-00000.parquet").write_bytes(b"not parquet")
    assert _rows(read_view(spark, view_dir)) == committed  # ignored

    apply_delta_batch(b1, 1, view_dir)  # the replay commits v=1
    assert len(_rows(read_view(spark, view_dir))) > 0


def test_fold_rejects_non_recoverable_retention(spark, tmp_path):
    """retain_versions must be >= 2: with 1, writing v=b prunes v=b-1,
    so a crash before batch b's checkpoint commit replays b against no
    prior version and silently resets the state. 0 would prune the
    version just written."""
    import pytest

    from cam_location_addressing_feature_service_etl_spark.streaming.versioned import (
        fold_version,
    )

    b1, _ = _signed_deltas(spark)
    for bad in (0, 1):
        with pytest.raises(ValueError, match="retain_versions"):
            fold_version(
                b1, 0, str(tmp_path / "v"),
                "user_id bigint, dn bigint, dv bigint",
                lambda p, d: d, retain_versions=bad,
            )


def test_retention_two_survives_replay_after_prune(spark, tmp_path):
    """The scenario behind the >= 2 floor, executed: fold batches 0..2
    with retain_versions=2, then replay batch 2 (crash-before-commit).
    The predecessor v=1 is still on disk, so the replay reproduces the
    same state instead of resetting to the lone delta."""
    b1, b2 = _signed_deltas(spark)
    view_dir = str(tmp_path / "view")
    apply_delta_batch(b1, 0, view_dir, retain_versions=2)
    apply_delta_batch(b2, 1, view_dir, retain_versions=2)
    apply_delta_batch(b1, 2, view_dir, retain_versions=2)
    committed = _rows(read_view(spark, view_dir))
    apply_delta_batch(b1, 2, view_dir, retain_versions=2)  # the replay
    assert _rows(read_view(spark, view_dir)) == committed


def test_cross_batch_disorder_negative_carry_survives(spark, tmp_path):
    """CDC disorder: a delete folded in an EARLIER batch than its
    matching insert. The stored state must carry the negative count so
    the late insert cancels to zero — dropping non-positive rows at
    merge time would pin the key at count 1 forever. Readers never see
    the intermediate negative (read_view filters n_events > 0)."""
    delete = spark.createDataFrame(
        [(999_999, -1, -500)], "user_id bigint, dn bigint, dv bigint"
    )
    insert = spark.createDataFrame(
        [(999_999, 1, 500)], "user_id bigint, dn bigint, dv bigint"
    )
    view_dir = str(tmp_path / "view")
    apply_delta_batch(delete, 0, view_dir)
    assert _rows(read_view(spark, view_dir)) == set()  # hidden, not lost
    apply_delta_batch(insert, 1, view_dir)
    assert _rows(read_view(spark, view_dir)) == set()  # cancelled exactly


def test_stream_restart_from_checkpoint_continues(spark, tmp_path):
    """A REAL stop/restart, not just batch replay: the maintenance
    stream processes two CDC files and stops (availableNow); two more
    files land; a NEW query restarted on the SAME checkpoint resumes
    past the committed offsets — the final view equals the batch
    aggregate over all four files, with no double-fold of the first
    two."""
    b1, b2 = _signed_deltas(spark)
    halves = [
        b1.filter(F.col("user_id") % 2 == 0),
        b1.filter(F.col("user_id") % 2 == 1),
        b2.filter(F.col("user_id") % 2 == 0),
        b2.filter(F.col("user_id") % 2 == 1),
    ]
    d = tmp_path / "cdc"
    d.mkdir()
    now = 1_700_000_000

    def _land(i):
        f = d / f"b{i}.parquet"
        pq.write_table(
            pa.Table.from_pandas(halves[i].toPandas(), preserve_index=False), f
        )
        os.utime(f, (now + 60 * i, now + 60 * i))

    view_dir = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    _land(0)
    _land(1)
    q = maintain_view_stream(
        read_delta_stream(spark, str(d), max_files_per_trigger=1),
        view_dir,
        ckpt,
    )
    q.awaitTermination(180)
    _land(2)
    _land(3)
    q2 = maintain_view_stream(  # same checkpoint: resumes, not replays
        read_delta_stream(spark, str(d), max_files_per_trigger=1),
        view_dir,
        ckpt,
    )
    q2.awaitTermination(180)
    want = _rows(QUERIES["mv_retractable_agg_maintenance"](spark, SF_SMOKE))
    assert _rows(read_view(spark, view_dir)) == want
