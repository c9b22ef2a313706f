"""Crafted-frame semantics tests for the analytics tranche:
attribution window join (strict [t-30m, t) boundaries, cross-bucket
candidates), dyadic EWMA (exact tap weights, 8-tap truncation),
equi-width histogram (edge and overflow clamping), label propagation
(self-vote damping on a star), and the Zipf fit (numpy replica)."""

from __future__ import annotations

import math
from datetime import datetime

from cam_location_addressing_feature_service_etl_spark.operators.labelprop import (
    label_propagation,
)
from cam_location_addressing_feature_service_etl_spark.workload import QUERIES

_EV_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, ts, uid, etype, val, "{}") for i, (ts, uid, etype, val) in enumerate(rows)],
        _EV_SCHEMA,
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _t(day, h=0, m=0, s=0):
    return datetime(2024, 1, day, h, m, s)


def test_attribution_window_boundaries(spark, tmp_path):
    sf = _write_events(
        spark,
        tmp_path,
        [
            (_t(1, 12, 0, 0), 1, "purchase", 5.0),
            # exactly t-30m: INCLUDED (>=)
            (_t(1, 11, 30, 0), 1, "click", None),
            # strictly inside
            (_t(1, 11, 59, 59), 1, "click", None),
            # exactly t: EXCLUDED (<)
            (_t(1, 12, 0, 0), 1, "click", None),
            # one second before the window opens: EXCLUDED
            (_t(1, 11, 29, 59), 1, "click", None),
            # same instant, other user: EXCLUDED
            (_t(1, 11, 45, 0), 2, "click", None),
            # other user's purchase with zero clicks -> no row (inner)
            (_t(2, 9, 0, 0), 3, "purchase", 1.0),
        ],
    )
    rows = QUERIES["ev_attribution_window_join"](spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 1 and r["n_clicks"] == 2
    assert r["first_click_ts"] == "2024-01-01 11:30:00"
    assert r["last_click_ts"] == "2024-01-01 11:59:59"


def test_attribution_finds_candidates_across_bucket_boundary(spark, tmp_path):
    # purchase at 12:10 -> bucket floor(ms/30m); a click at 11:55 sits
    # in the PREVIOUS 30-min bucket and must still be attributed
    sf = _write_events(
        spark,
        tmp_path,
        [
            (_t(1, 12, 10, 0), 1, "purchase", 5.0),
            (_t(1, 11, 55, 0), 1, "click", None),
        ],
    )
    rows = QUERIES["ev_attribution_window_join"](spark, sf).collect()
    assert len(rows) == 1 and rows[0]["n_clicks"] == 1


def test_ewma_dyadic_exact_taps(spark, tmp_path):
    sf = _write_events(
        spark,
        tmp_path,
        [
            (_t(1, 9), 1, "purchase", 8.0),
            (_t(2, 9), 1, "purchase", 4.0),
            # click noise never contributes
            (_t(2, 10), 1, "click", 100.0),
        ],
    )
    got = {
        (r["obs_day"], r["day_value"], r["ewma8"])
        for r in QUERIES["ev_ewma_dyadic"](spark, sf).collect()
    }
    # day1: 0.5*8 = 4.0 ; day2: 0.5*4 + 0.25*8 = 4.0
    assert got == {("2024-01-01", 8.0, 4.0), ("2024-01-02", 4.0, 4.0)}


def test_ewma_truncates_at_eight_taps(spark, tmp_path):
    # nine consecutive observed days of value 256; the 9th day's EWMA
    # uses only taps j=0..7: 256 * (2^-1 + ... + 2^-8) = 255.0 — an
    # untruncated zero-init EWMA would give 256*(1 - 2^-9) = 255.5
    sf = _write_events(
        spark, tmp_path, [(_t(d, 9), 1, "purchase", 256.0) for d in range(1, 10)]
    )
    by_day = {
        r["obs_day"]: r["ewma8"]
        for r in QUERIES["ev_ewma_dyadic"](spark, sf).collect()
    }
    assert by_day["2024-01-09"] == 255.0
    assert by_day["2024-01-08"] == 255.0  # 8 taps exactly cover history
    assert by_day["2024-01-01"] == 128.0


def test_histogram_edges_and_overflow_clamp(spark, tmp_path):
    sf = _write_events(
        spark,
        tmp_path,
        [
            (_t(1, 1), 1, "purchase", 0.0),     # bucket 0
            (_t(1, 2), 1, "purchase", 24.99),   # bucket 0
            (_t(1, 3), 2, "purchase", 25.0),    # exact edge -> bucket 1
            (_t(1, 4), 2, "purchase", 499.99),  # bucket 19
            (_t(1, 5), 2, "purchase", 5000.0),  # overflow -> clamped 19
            (_t(1, 6), 3, "click", 10.0),       # wrong type: ignored
        ],
    )
    got = {
        r["bucket"]: (r["lo"], r["hi"], r["n"], r["n_users"])
        for r in QUERIES["ev_value_histogram"](spark, sf).collect()
    }
    assert got == {
        0: (0, 25, 2, 1),
        1: (25, 50, 1, 1),
        19: (475, 500, 2, 1),
    }


def test_label_propagation_star_converges_min_label(spark):
    # bipartite star a--{b,c,d}: pure sync LPA oscillates; the
    # self-vote makes round 1 already converge everything to 'a'
    pairs = [("a", x) for x in ("b", "c", "d")]
    edges = spark.createDataFrame(
        pairs + [(y, x) for x, y in pairs], "src string, dst string"
    )
    got = {r["node"]: r["label"] for r in label_propagation(edges, rounds=3).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_label_propagation_majority_beats_min_label(spark):
    # In round 1 every vote multiset has only count-1 entries (simple
    # graph + identity init), so round 1 is pure min(N(v) ∪ {v});
    # majority can only assert itself from round 2. Triangle {x,y,z}
    # with pendant a--z: round 1 -> a:'a', x:'x', y:'x', z:'a'.
    # Round 2 at x: votes y='x', z='a', self='x' -> 'x' wins 2:1 even
    # though 'a' < 'x' (majority beats min); at z: 'x':2 vs 'a':2 tie
    # -> min 'a' (tie-break still applies).
    und = [("x", "y"), ("y", "z"), ("x", "z"), ("a", "z")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src string, dst string"
    )
    got = {r["node"]: r["label"] for r in label_propagation(edges, rounds=2).collect()}
    assert got == {"a": "a", "x": "x", "y": "x", "z": "a"}


def test_zipf_slope_matches_numpy_replica(spark, tmp_path):
    # freqs: a=4, b=2, c=1 -> ranks 1,2,3
    docs = spark.createDataFrame(
        [(1, "a a a a b b c", "en", "s", 13)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = QUERIES["text_zipf_slope"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_tokens"] == 3
    lnr = [math.log(i) for i in (1, 2, 3)]
    lnf = [math.log(f) for f in (4, 2, 1)]
    mr, mf = sum(lnr) / 3, sum(lnf) / 3
    cov = sum((x - mr) * (y - mf) for x, y in zip(lnr, lnf)) / 3
    var = sum((x - mr) ** 2 for x in lnr) / 3
    assert abs(r["zipf_slope"] - round(cov / var, 6)) <= 1e-6
    assert abs(r["zipf_intercept"] - round(mf - cov / var * mr, 6)) <= 1e-6
