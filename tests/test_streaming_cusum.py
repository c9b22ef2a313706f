"""Streaming CUSUM reconciles BIT-FOR-BIT with the batch two-window
reflection form over any micro-batch split (the O(1) two-integer state
carries the recurrence across boundaries), replays a re-delivered
batch identically, and refuses out-of-order feeds per the ordering
contract."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cam_location_addressing_feature_service_etl_spark.streaming.cusum import (
    cusum_stream,
)
from cam_location_addressing_feature_service_etl_spark.streaming.dedup_stream import (
    read_event_stream,
)
from cam_location_addressing_feature_service_etl_spark.tables import load
from cam_location_addressing_feature_service_etl_spark.workload import QUERIES

from tests.conftest import SF_SMOKE


def _run(spark, d, name, max_files):
    q = (
        cusum_stream(read_event_stream(spark, str(d), max_files))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return {
        (r["event_id"], r["user_id"], r["cusum_centi"], r["alarm"])
        for r in spark.table(name).collect()
    }


def test_cusum_stream_reconciles_with_batch_over_splits(spark, tmp_path):
    d = tmp_path / "ev_in"
    d.mkdir()
    pdf = (
        load(spark, SF_SMOKE, "events")
        .select("event_id", "ts", "user_id", "value")
        .toPandas()
        .sort_values(["ts", "event_id"])  # global time order → per-user order
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    third = t.num_rows // 3
    now = 1_700_000_000
    for i, (lo, n) in enumerate(
        [(0, third), (third, third), (2 * third, t.num_rows - 2 * third)]
    ):
        f = d / f"b{i}.parquet"
        pq.write_table(t.slice(lo, n), f)
        os.utime(f, (now + 60 * i, now + 60 * i))

    want = {
        (r["user_id"], r["event_id"], r["cusum_centi"], r["alarm"])
        for r in QUERIES["ev_cusum_drift"](spark, SF_SMOKE).collect()
    }
    want = {(e, u, c, a) for (u, e, c, a) in want}
    assert len(want) == t.num_rows
    assert any(a for (_, _, _, a) in want)  # some alarms actually fire

    got_split = _run(spark, d, "cusum_split", max_files=1)
    assert got_split == want  # state carried across batch boundaries

    got_single = _run(spark, d, "cusum_single", max_files=None)
    assert got_single == want


def test_cusum_stream_rejects_out_of_order_feed(spark, tmp_path):
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
        cusum_stream(read_event_stream(spark, str(d), 1))
        .writeStream.format("memory")
        .queryName("cusum_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ordering contract violated"):
        q.awaitTermination(180)


def test_cusum_kernel_matches_textbook_recursion_across_any_split(spark):
    """Property: for a random value sequence the emitted statistic
    equals the textbook S_t = max(0, S_(t-1) + x_t − k) recursion, with
    the kernel fed in two chunks at every possible split point (state
    carries (cum, floor) exactly)."""
    from cam_location_addressing_feature_service_etl_spark.streaming.cusum import (
        _update_cusum,
    )
    from cam_location_addressing_feature_service_etl_spark.workload.events import (
        _CUSUM_K,
    )

    rng = np.random.default_rng(13)
    n = 40
    values = np.round(rng.uniform(0, 250, n), 2)
    ts = pd.to_datetime(1_700_000_000 + np.arange(n), unit="s")

    # textbook recursion on exact centi integers
    s, want = 0, []
    for v in values:
        s = max(0, s + int(np.floor(v * 100 + 0.5)) - _CUSUM_K)
        want.append(s)

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    for split in range(1, n):
        st = FakeState()
        got = []
        for lo, hi in ((0, split), (split, n)):
            pdf = pd.DataFrame(
                {
                    "event_id": np.arange(lo, hi, dtype=np.int64),
                    "ts": ts[lo:hi],
                    "user_id": np.int64([1] * (hi - lo)),
                    "value": values[lo:hi],
                }
            )
            for out in _update_cusum((1,), iter([pdf]), st):
                got.extend(out["cusum_centi"].tolist())
        assert got == want, f"split at {split}"
