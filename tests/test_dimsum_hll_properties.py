"""Estimator-quality pins for the two sketch/sampling twins added in
rounds 6-7: the DIMSUM-sampled co-purchase cosine must stay close to
its exact oracle twin, and the HLL sliding-distinct window must hold
its 5% contract under timestamps fuzzed across bucket boundaries
(where the tumbling-bucket decomposition is easiest to get wrong)."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cam_location_addressing_feature_service_etl_spark.workload import QUERIES
from cam_location_addressing_feature_service_etl_spark.workload.events import (
    sliding_distinct_hll,
)
from tests.conftest import SF_SMOKE

_SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def test_dimsum_estimator_quality(spark):
    """The deterministic-seed DIMSUM sample is FIXED, so its quality vs
    the exact query is a stable measurement, pinned here the same way
    the MinHash estimator audit pins Jaccard estimates: strong pairs
    (exact cosine >= 0.4) must be recalled at >= 90%, and the
    Horvitz-Thompson estimate must track the exact cosine (MSE and
    conditioned bias bounds measured at gamma=3 with ~25% headroom)."""
    exact = QUERIES["graph_copurchase_cosine"](spark, SF_SMOKE).toPandas()
    est = QUERIES["graph_copurchase_cosine_dimsum"](spark, SF_SMOKE).toPandas()
    m = exact.merge(est[["u", "v", "cosine_est"]], on=["u", "v"], how="left")

    strong = m[m.cosine >= 0.4]
    assert len(strong) >= 20, "threshold no longer selects a meaningful set"
    recall = strong.cosine_est.notna().mean()
    assert recall >= 0.90, f"strong-pair recall {recall:.3f} < 0.90"

    both = m[m.cosine_est.notna()]
    assert len(both) >= 1000
    err = both.cosine_est - both.cosine
    mse = float((err**2).mean())
    bias = float(err.mean())
    # measured at sf0.001, gamma=3: MSE 0.0147, bias +0.075 (the
    # min-sampled-cooc>=2 gate conditions on upward fluctuations)
    assert mse <= 0.03, f"estimator MSE {mse:.4f} > 0.03"
    assert abs(bias) <= 0.15, f"estimator bias {bias:.4f} outside ±0.15"


def test_split_leakfree_no_straddle(spark):
    """The group-aware split's whole point: no near-dup pair may
    straddle train/heldout. Checked over the ACTUAL Jaccard pair list
    (not just the group labels), plus both splits must be non-empty
    so the coin threshold stays meaningful."""
    from cam_location_addressing_feature_service_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from cam_location_addressing_feature_service_etl_spark.tables import load_tuned
    from cam_location_addressing_feature_service_etl_spark.workload.llm_text import (
        _CC_THRESHOLD,
        _NJ_SHINGLE_N,
    )

    split = QUERIES["sample_split_leakfree"](spark, SF_SMOKE).toPandas()
    assert (split.groupby("group_id")["split"].nunique() <= 1).all()
    assert set(split["split"]) == {"train", "heldout"}

    (documents,) = load_tuned(spark, SF_SMOKE, "documents")
    pairs = ngram_jaccard_pairs(
        documents,
        id_col="doc_id",
        text_col="text",
        threshold=_CC_THRESHOLD,
        shingle_n=_NJ_SHINGLE_N,
    ).toPandas()
    side = dict(zip(split.doc_id, split["split"]))
    straddle = [
        (a, b) for a, b in zip(pairs.id_a, pairs.id_b) if side[a] != side[b]
    ]
    assert straddle == [], f"near-dup pairs crossing the split: {straddle[:5]}"


@given(
    # per-user event offsets in ms, deliberately clustered around the
    # 1000 ms bucket edges (0, ±1, ±2 around multiples of the bucket)
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),          # user_id
            st.integers(min_value=0, max_value=6),          # bucket index
            st.sampled_from([-2, -1, 0, 1, 2, 499, 500]),   # edge jitter ms
        ),
        min_size=1,
        max_size=40,
    ),
    pre1970=st.booleans(),
)
@_SET
def test_hll_sliding_window_shifted_buckets(spark, data, pre1970):
    """Fuzz event timestamps across tumbling-bucket edges: the exact
    leg must equal a pure-Python sliding-distinct reference (an event
    at bucket b counts toward windows b..b+span-1 that actually
    exist), and the sketch leg must satisfy the query's own 5%
    contract — at these cardinalities the HLL(14) estimate is exact,
    so the flag must be True for every window. ``pre1970`` anchors the
    events just before epoch 0 so NEGATIVE epoch milliseconds cross
    bucket edges too — floor and truncate-toward-zero disagree there,
    and the engine must floor like the oracle's ``//``."""
    bucket_ms, span = 1000, 3
    base = datetime.datetime(
        1969, 12, 31, 23, 59, 57, tzinfo=datetime.timezone.utc
    ) if pre1970 else datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for uid, bidx, jit in data:
        ms = max(0, bidx * bucket_ms + jit)
        rows.append((uid, base + datetime.timedelta(milliseconds=ms)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    out = {
        r["window_bucket"]: (r["exact_users"], r["sketch_within_5pct"])
        for r in sliding_distinct_hll(df, bucket_ms=bucket_ms, span=span).collect()
    }

    # pure-Python reference on the same (floor-div) bucket assignment
    base_ms = int(base.timestamp() * 1000)
    by_bucket: dict[int, set[int]] = {}
    for (uid, bidx, jit) in data:
        ms = base_ms + max(0, bidx * bucket_ms + jit)
        by_bucket.setdefault(ms // bucket_ms, set()).add(uid)
    expect = {}
    observed = set(by_bucket)
    for wb in observed:
        users: set[int] = set()
        for b in range(wb - span + 1, wb + 1):
            users |= by_bucket.get(b, set())
        expect[wb] = len(users)
    # windows = every bucket reachable from an observed bucket that is
    # itself observed... the query emits one row per observed bucket
    # PLUS buckets covered by the explode that exist in the data; its
    # semi-join restricts to observed buckets exactly:
    assert set(out) == observed
    for wb in observed:
        exact_users, within = out[wb]
        assert exact_users == expect[wb], (wb, exact_users, expect[wb])
        assert within is True


def test_cms_forced_collisions_never_underestimate(spark):
    """Count-min property check with a width small enough (4) to FORCE
    collisions, which the registry corpus doesn't produce at width 256:
    every estimate must be >= the true count (the one-sided CMS
    guarantee), estimates must equal the Python-recomputed
    min-over-depth of the same seeded-md5 bucket sums, and any key
    whose buckets all collide shows a strictly positive overestimate."""
    import hashlib

    from pyspark.sql import functions as F

    from cam_location_addressing_feature_service_etl_spark.workload.events import (
        _CMS_SEED,
        _cms_bucket,
    )

    width, depth = 4, 3
    counts = {"a": 50, "b": 30, "c": 20, "d": 7, "e": 1}
    rows = [(k,) for k, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "k string")

    def py_bucket(key, row):
        h = hashlib.md5(f"{_CMS_SEED}:{key}:{row}".encode()).hexdigest()
        return int(h[:15], 16) % width

    # expected sketch + estimates in plain Python
    cells = {}
    for k, n in counts.items():
        for r in range(depth):
            cells[(r, py_bucket(k, r))] = cells.get((r, py_bucket(k, r)), 0) + n
    expected_est = {
        k: min(cells[(r, py_bucket(k, r))] for r in range(depth)) for k in counts
    }
    assert any(expected_est[k] > counts[k] for k in counts), (
        "width 4 over 5 keys must collide somewhere — test setup broken"
    )

    depth_rows = F.explode(F.array(*[F.lit(i).cast("long") for i in range(depth)]))
    per_key = df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    cms = (
        per_key.select("k", "cnt", depth_rows.alias("row"))
        .groupBy("row", _cms_bucket(F.col("k"), F.col("row"), width).alias("bucket"))
        .agg(F.sum("cnt").alias("c"))
    )
    probes = per_key.select("k", "cnt", depth_rows.alias("row")).withColumn(
        "bucket", _cms_bucket(F.col("k"), F.col("row"), width)
    )
    est = (
        probes.join(F.broadcast(cms), ["row", "bucket"])
        .groupBy("k", "cnt")
        .agg(F.min("c").alias("est"))
    )
    got = {r["k"]: (r["cnt"], r["est"]) for r in est.collect()}
    for k, n in counts.items():
        assert got[k][0] == n
        assert got[k][1] == expected_est[k], (k, got[k], expected_est[k])
        assert got[k][1] >= n


def test_theta_bound_holds_past_exact_mode(spark):
    """Every registry theta flag runs in EXACT mode at test scales
    (< 64k distinct keys per sketch) — this probe pushes two 200k-key
    sets (50% overlap) PAST the k=65536 threshold so the sketches
    actually estimate, and asserts the intersection/union estimates
    land within the 5% contract the a10/a13 docstrings derive from
    the sqrt(|A∪B|/|A∩B|)/sqrt(k) bound. Deterministic: theta is an
    order-insensitive function of the input set."""
    from pyspark.sql import functions as F

    n = 200_000
    a = spark.range(n).select(F.col("id").alias("k"))                # 0 .. 200k
    b = spark.range(n // 2, n + n // 2).select(F.col("id").alias("k"))  # 100k .. 300k
    exact_inter = n // 2
    exact_union = 2 * n - exact_inter
    ska = a.agg(F.theta_sketch_agg("k", lgNomEntries=16).alias("sk"))
    skb = b.agg(F.theta_sketch_agg("k", lgNomEntries=16).alias("sk"))
    row = (
        ska.crossJoin(skb.select(F.col("sk").alias("sk2")))
        .select(
            F.theta_sketch_estimate(F.theta_intersection("sk", "sk2")).alias("i"),
            F.theta_sketch_estimate(F.theta_union("sk", "sk2")).alias("u"),
            F.theta_sketch_estimate("sk").alias("na"),
        )
        .collect()[0]
    )
    assert row["na"] != n, "sketch still in exact mode — raise n"
    assert abs(row["i"] - exact_inter) <= 0.05 * exact_inter, (row["i"], exact_inter)
    assert abs(row["u"] - exact_union) <= 0.05 * exact_union, (row["u"], exact_union)
