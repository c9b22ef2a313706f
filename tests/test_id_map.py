"""Mirrors the reference's surrogate-id tests (``tests/test_id_map.py``
in /root/reference): empty-map and pre-seeded scenarios, dense stable
ids, rewrite postcondition, and the NOT IN (iri UNION id) tolerance.
Also proves the distributed bulk numbering variant, which numbers
several tables in one pass, is equivalent table by table."""

from __future__ import annotations

from pyspark.sql import functions as F

from cam_location_addressing_feature_service_etl_spark.operators import id_map
from cam_location_addressing_feature_service_etl_spark.operators.id_map import (
    assign_surrogate_ids,
    assign_surrogate_ids_bulk,
    new_key_filter,
    rewrite_pk_to_id,
)
from cam_location_addressing_feature_service_etl_spark.runtime import materialize

PARCEL_IRIS = [
    f"https://linked.data.gov.au/dataset/qld-addr/parcel/{i}SP149947" for i in range(10)
]


def _parcels(spark):
    return spark.createDataFrame(
        [(iri, "SP149947", str(i)) for i, iri in enumerate(PARCEL_IRIS)],
        "parcel_id string, plan_no string, lot_no string",
    )


def _empty_map(spark):
    return spark.createDataFrame([], "iri string, id long")


def test_empty_map_assigns_dense_ids_in_key_order(spark):
    parcels = _parcels(spark)
    full_map = assign_surrogate_ids(parcels.select(F.col("parcel_id").alias("iri")), _empty_map(spark))
    rows = sorted(full_map.collect(), key=lambda r: r["id"])
    assert [r["id"] for r in rows] == list(range(1, 11))
    assert [r["iri"] for r in rows] == sorted(PARCEL_IRIS)


def test_preseeded_map_keeps_existing_ids(spark):
    seeded = spark.createDataFrame(
        [(PARCEL_IRIS[0], 1), (PARCEL_IRIS[1], 2)], "iri string, id long"
    )
    parcels = _parcels(spark)
    full_map = assign_surrogate_ids(parcels.select(F.col("parcel_id").alias("iri")), seeded)
    got = {r["iri"]: r["id"] for r in full_map.collect()}
    assert got[PARCEL_IRIS[0]] == 1 and got[PARCEL_IRIS[1]] == 2
    new_ids = sorted(v for k, v in got.items() if k not in PARCEL_IRIS[:2])
    assert new_ids == list(range(3, 11))  # dense continuation of max(id)


def test_assignment_is_stable_across_runs(spark):
    """Run 1 numbers a subset; run 2 adds keys — run-1 ids unchanged."""
    first_half = spark.createDataFrame([(i,) for i in PARCEL_IRIS[:5]], "iri string")
    map1 = assign_surrogate_ids(first_half, _empty_map(spark))
    all_keys = spark.createDataFrame([(i,) for i in PARCEL_IRIS], "iri string")
    map2 = assign_surrogate_ids(all_keys, map1)
    m1 = {r["iri"]: r["id"] for r in map1.collect()}
    m2 = {r["iri"]: r["id"] for r in map2.collect()}
    assert all(m2[k] == v for k, v in m1.items())
    assert sorted(m2.values()) == list(range(1, 11))


def test_rewrite_pk_postcondition(spark):
    """Every parcel_id equals the map id whose iri was the original
    text (reference test_id_map.py:98-112)."""
    parcels = _parcels(spark)
    full_map = assign_surrogate_ids(parcels.select(F.col("parcel_id").alias("iri")), _empty_map(spark))
    rewritten = rewrite_pk_to_id(parcels, full_map, pk_col="parcel_id")
    joined = rewritten.join(full_map, rewritten["parcel_id"] == full_map["id"]).count()
    assert joined == 10
    assert dict(rewritten.dtypes)["parcel_id"] == "bigint"


def _gapped(df):
    """``df``'s partitions moved to the odd partition ids, order kept,
    so an empty partition sits before each non-empty one: the bulk
    numbering indexes its offsets by partition id and must skip them."""
    rdd = df.rdd.mapPartitionsWithIndex(lambda i, rows: ((2 * i + 1, r) for r in rows))
    n = 2 * df.rdd.getNumPartitions() + 1
    spread = rdd.partitionBy(n, lambda k: k).values().mapPartitions(sorted)
    return df.sparkSession.createDataFrame(spread, df.schema)


#: (shuffle partitions, AQE coalescing, SPARK_GRAFT_MATERIALIZE, layout)
BULK_SETTINGS = [
    ("1", "true", "local", None),
    ("200", "false", "local", None),
    ("200", "false", "reliable", None),
    ("8", "true", "local", _gapped),
]


def test_bulk_variant_matches_simple(spark, monkeypatch):
    """The bulk numbering equals the single-reducer reference for every
    table it numbers, whatever the partitioning or materialize mode:
    a seeded map, an empty map (every key new) over the SAME keys (so
    one key sits in two tables and must be numbered in each
    independently), a table with no new keys, and a few thousand skewed
    keys (one hot key repeated, the carried map covering one dense
    block) — all four in one call, and each alone, each also over a
    layout with empty partitions."""
    seeded = spark.createDataFrame(
        [(PARCEL_IRIS[0], 1), (PARCEL_IRIS[1], 2)], "iri string, id long"
    )
    skewed = [f"k/{i:05d}" for i in range(3000)] + ["k/hot"] * 1000
    carried = spark.createDataFrame(
        [(f"k/{i:05d}", i + 1) for i in range(1000, 2000)], "iri string, id long"
    )
    cases = {
        "seeded": (PARCEL_IRIS, seeded),
        "empty_map": (PARCEL_IRIS, _empty_map(spark)),
        "no_new_keys": (PARCEL_IRIS[:2] * 3, seeded),
        "skewed": (skewed, carried),
    }
    keys = {
        name: spark.createDataFrame([(i,) for i in iris], "iri string")
        for name, (iris, _) in cases.items()
    }
    maps = {name: existing for name, (_, existing) in cases.items()}
    simple = {
        name: sorted(assign_surrogate_ids(keys[name], maps[name]).collect()) for name in cases
    }
    calls = [list(cases)] + [[name] for name in cases]
    conf = spark.conf
    saved = {k: conf.get(k) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled"
    )}
    try:
        for parts, coalesce, mode, layout in BULK_SETTINGS:
            conf.set("spark.sql.shuffle.partitions", parts)
            conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
            monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
            if layout is not None:
                monkeypatch.setattr(id_map, "materialize", lambda df: materialize(layout(df)))
            for names in calls:
                bulk = assign_surrogate_ids_bulk(
                    {n: keys[n] for n in names}, {n: maps[n] for n in names}
                )
                assert list(bulk) == names
                for name in names:
                    got = sorted(bulk[name].collect())
                    assert got == simple[name], (name, names, parts, mode, layout)
            monkeypatch.undo()
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_new_key_filter_tolerates_converted_ids(spark):
    """J7: a table whose PK was already rewritten to integer ids must
    not be treated as new keys (id_map.py:36-45)."""
    id_map = spark.createDataFrame([("iri-a", 1), ("iri-b", 2)], "iri string, id long")
    table = spark.createDataFrame(
        [("iri-a",), ("1",), ("2",), ("iri-new",)], "pk string"
    )
    new = new_key_filter(table, id_map, pk_col="pk")
    assert [r["pk"] for r in new.collect()] == ["iri-new"]


def test_oversized_increment_fails_with_clear_error(spark):
    """The INCREMENT-SIZED ONLY contract is enforced: an increment with
    more new keys than the cap raises a clear routing error instead of
    building an unbounded in-memory array (the limit(cap+1) bound means
    collect_list never sees more than cap+1 rows)."""
    import pytest

    keys = spark.createDataFrame([(i,) for i in PARCEL_IRIS], "iri string")
    full_map = assign_surrogate_ids(keys, _empty_map(spark), max_new_keys=3)
    with pytest.raises(Exception, match="assign_surrogate_ids_bulk"):
        full_map.collect()
    # the guard is a FILTER, so it survives column pruning: a key-only
    # projection or a bare count must also fail loudly, never return a
    # silently-truncated map (round-8 review-pass reproduction)
    with pytest.raises(Exception, match="assign_surrogate_ids_bulk"):
        full_map.select("iri").count()
    # at/under the cap the same plan succeeds with identical ids
    ok = assign_surrogate_ids(keys, _empty_map(spark), max_new_keys=10)
    assert sorted(r["id"] for r in ok.collect()) == list(range(1, 11))
