"""The shared fold runner's failure path (``streaming/versioned.py``
``Fold`` + ``run_fold_stream``): a micro-batch whose merge raises
fails the query without committing that batch, the state stays
readable at the last committed version, and a restart from the same
checkpoint folds the failed batch exactly once."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from cam_location_addressing_feature_service_etl_spark.streaming.versioned import (
    Fold,
    parquet_stream,
)

SCHEMA = "k bigint, n bigint"


def _count(state, batch):
    return (
        state.unionByName(batch.select("k", F.lit(1).cast("long").alias("n")))
        .groupBy("k")
        .agg(F.sum("n").alias("n"))
    )


def _rows(spark, fold, state_dir):
    return {(r["k"], r["n"]) for r in fold.read(spark, state_dir).collect()}


def test_failed_batch_replays_exactly_once(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i, ks in enumerate([[1, 1, 2], [2, 3]]):
        pq.write_table(
            pa.Table.from_pydict({"k": pa.array(ks, pa.int64())}),
            src / f"b{i}.parquet",
        )
        # the file source orders a trigger's files by mtime: pin b0 < b1
        os.utime(src / f"b{i}.parquet", (1_000_000 + i, 1_000_000 + i))

    def stream(fold, state_dir, ckpt):
        events = parquet_stream(spark, str(src), "k bigint", max_files_per_trigger=1)
        return fold.stream(events, str(tmp_path / state_dir), str(tmp_path / ckpt))

    merges = []

    def fail_second(state, batch):
        merges.append(1)
        if len(merges) == 2:
            raise RuntimeError("merge failed on the second batch")
        return _count(state, batch)

    good = Fold(SCHEMA, _count)
    with pytest.raises(StreamingQueryException, match="merge failed"):
        stream(Fold(SCHEMA, fail_second), "state", "ckpt").awaitTermination(120)
    # batch 1 never committed: readers still see batch 0's state
    assert _rows(spark, good, str(tmp_path / "state")) == {(1, 2), (2, 1)}

    # restart from the same checkpoint with a working merge: batch 1
    # replays once, landing on the counts of a run that never failed
    stream(good, "state", "ckpt").awaitTermination(120)
    stream(good, "clean", "clean_ckpt").awaitTermination(120)
    want = {(1, 2), (2, 2), (3, 1)}
    assert _rows(spark, good, str(tmp_path / "clean")) == want
    assert _rows(spark, good, str(tmp_path / "state")) == want
