"""Streaming EWMA reconciles BIT-FOR-BIT with the batch window
convolution (both legs share the quantized integer weights), carries
the convolution tail across micro-batches, and refuses out-of-order
feeds per the ordering contract."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cam_location_addressing_feature_service_etl_spark.streaming.dedup_stream import (
    read_event_stream,
)
from cam_location_addressing_feature_service_etl_spark.streaming.ewma import ewma_stream
from cam_location_addressing_feature_service_etl_spark.tables import load
from cam_location_addressing_feature_service_etl_spark.workload import QUERIES

from tests.conftest import SF_SMOKE


def _run(spark, d, name, max_files):
    q = (
        ewma_stream(read_event_stream(spark, str(d), max_files))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return {
        (r["event_id"], r["user_id"], r["ewma_micro"])
        for r in spark.table(name).collect()
    }


def test_ewma_stream_reconciles_with_batch(spark, tmp_path):
    d = tmp_path / "ev_in"
    d.mkdir()
    pdf = (
        load(spark, SF_SMOKE, "events")
        .select("event_id", "ts", "user_id", "value")
        .toPandas()
        .sort_values(["ts", "event_id"])  # global time order → per-user order
    )
    # micros, not pandas' default nanos — Spark reads TIMESTAMP(NANOS)
    # parquet as INT64 (see skill gotchas)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    half = t.num_rows // 2
    b1, b2 = d / "b1.parquet", d / "b2.parquet"
    pq.write_table(t.slice(0, half), b1)
    pq.write_table(t.slice(half), b2)
    now = 1_700_000_000
    os.utime(b1, (now, now))
    os.utime(b2, (now + 60, now + 60))

    want = {
        (r["event_id"], r["user_id"], r["ewma_micro"])
        for r in QUERIES["ev_ewma_value"](spark, SF_SMOKE).collect()
    }
    assert len(want) == t.num_rows

    got_split = _run(spark, d, "ewma_split", max_files=1)
    assert got_split == want  # tail carried across the batch boundary

    got_single = _run(spark, d, "ewma_single", max_files=None)
    assert got_single == want


def test_ewma_stream_rejects_out_of_order_feed(spark, tmp_path):
    import numpy as np
    import pandas as pd

    d = tmp_path / "ev_ooo"
    d.mkdir()

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            {
                "event_id": np.int64([r[0] for r in rows]),
                "ts": pd.to_datetime(
                    [r[1] for r in rows], unit="s"
                ).astype("datetime64[us]"),
                "user_id": np.int64([7] * len(rows)),
                "value": [1.0] * len(rows),
            }
        )
        f = d / name
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), f)
        os.utime(f, (mtime, mtime))

    base, m = 1_700_000_000, 1_700_000_000
    write("b1.parquet", [(10, base + 100), (11, base + 200)], m)
    write("b2.parquet", [(5, base + 50)], m + 60)  # time goes backward

    q = (
        ewma_stream(read_event_stream(spark, str(d), 1))
        .writeStream.format("memory")
        .queryName("ewma_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ordering contract violated"):
        q.awaitTermination(180)
