"""Source-layer tests mirroring the reference's schema-adaptation and
pagination tests (``tests/test_geocode_schema.py``,
``tests/test_address_iri_pid_map.py`` in /root/reference)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from cam_location_addressing_feature_service_etl_spark.sources.esri import (
    incremental_where,
    normalize_geocode_features,
    requires_full_refresh,
    resolve_layer_schema,
)
from cam_location_addressing_feature_service_etl_spark.sources.snapshot import (
    COMMIT_MARKER,
    carry_forward_geocodes,
    latest_snapshot,
    list_snapshots,
    read_snapshot_table,
    snapshot_dir,
    write_snapshot,
)


# --- S6 schema adaptation ---------------------------------------------------

def test_resolve_layer_schema_alternative_names():
    s = resolve_layer_schema(["OBJECTID", "pid", "type", "last_edited_date"])
    assert s.fields["address_pid"] == "pid"
    assert s.fields["geocode_type"] == "type"
    assert s.fields["objectid"] == "OBJECTID".lower() or s.fields["objectid"] == "objectid"
    assert s.supports_incremental


def test_resolve_layer_schema_canonical_names_win():
    s = resolve_layer_schema(["objectid", "address_pid", "geocode_type"])
    assert s.fields["address_pid"] == "address_pid"
    assert s.fields["geocode_type"] == "geocode_type"
    assert not s.supports_incremental


def test_incremental_where_and_fallback():
    inc = resolve_layer_schema(["objectid", "pid", "last_edited_date"])
    full = resolve_layer_schema(["objectid", "pid"])
    assert incremental_where(inc, "2026-01-01") == "last_edited_date >= DATE '2026-01-01'"
    assert incremental_where(full, "2026-01-01") == "1=1"
    assert incremental_where(inc, None) == "1=1"
    assert requires_full_refresh(full, incremental_requested=True)
    assert not requires_full_refresh(inc, incremental_requested=True)


# --- feature normalization -------------------------------------------------

def test_normalize_geocode_features(spark):
    features = spark.createDataFrame(
        [(1, 444541, "https://linked.data.gov.au/def/geocode-types/property-centroid",
          153.1, -27.6)],
        "objectid long, pid long, type string, x double, y double",
    )
    row = normalize_geocode_features(features).collect()[0]
    assert row["geocode_id"] == "1"          # F7 str-cast
    assert row["address_pid"] == "444541"    # F7 str-cast
    assert row["geocode_type"] == "PC"       # F6 initialism fallback
    assert row["centoid_lat"] == -27.6 and row["centoid_lon"] == 153.1
    assert row["site_id"] is None and row["hash"] is None


# --- snapshot lifecycle -----------------------------------------------------

def test_snapshot_roundtrip_and_latest(spark, tmp_path):
    root = str(tmp_path / "snaps")
    t1 = spark.createDataFrame([(1, "a")], "id long, v string")
    t2 = spark.createDataFrame([(2, "b")], "id long, v string")
    write_snapshot({"t": t1}, root, "2026-04-22T02:00:00+1000")
    write_snapshot({"t": t2}, root, "2026-04-23T02:00:00+1000")
    assert latest_snapshot(root) == "2026-04-23T02:00:00+1000"
    got = read_snapshot_table(spark, root, latest_snapshot(root), "t").collect()
    assert [(r["id"], r["v"]) for r in got] == [(2, "b")]


def test_carry_forward_nulls_site_id_and_hash(spark):
    prev = spark.createDataFrame(
        [("geo-1", "PC", "100", "site-1", -27.0, 153.0, "h")],
        "geocode_id string, geocode_type string, address_pid string, site_id string, "
        "centoid_lat double, centoid_lon double, hash string",
    )
    row = carry_forward_geocodes(prev).collect()[0]
    assert row["site_id"] is None and row["hash"] is None
    assert row["geocode_id"] == "geo-1" and row["centoid_lat"] == -27.0


def test_snapshot_sorted_layout_has_disjoint_key_ranges(spark, tmp_path):
    """A table opted into sort_specs is written range-partitioned and
    sorted, so its snapshot files carry disjoint key ranges (tight
    min/max stats for next-run reads); content is unchanged."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    root = str(tmp_path)
    df = spark.range(2_000).select(
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("k"),
        F.col("id").alias("v"),
    )
    ts = "2026-08-15T02:00:00+1000"
    write_snapshot({"t": df}, root, ts, sort_specs={"t": ["k"]})
    got = read_snapshot_table(spark, root, ts, "t")
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in df.collect()}
    spans = []
    for f in sorted((tmp_path / f"snapshot_ts={ts}" / "t").glob("*.parquet")):
        ks = pq.read_table(f, columns=["k"])["k"].to_pylist()
        if ks:
            assert ks == sorted(ks)
            spans.append((min(ks), max(ks)))
    assert len(spans) > 1  # actually split across files
    spans.sort()
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2


def active_jobs_after_events(spark) -> list[int]:
    """Active job ids once the listener bus has delivered every event
    posted so far (the status tracker reads listener-fed state)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getActiveJobsIds())


def test_failed_publish_is_not_a_snapshot(spark, tmp_path):
    """One table failing at execution, next to healthy ones: the error
    is raised after every write has finished, and the partial
    directory is never listed, so the previous snapshot stays latest.
    The same holds for a table given as a callable that raises. A
    repeat publish into the same ts then commits it."""
    root = str(tmp_path)
    ok = spark.range(50).withColumnRenamed("id", "k")
    write_snapshot({"t": ok}, root, "2026-04-22T02:00:00+1000")
    boom = spark.range(3).select(F.raise_error(F.lit("publish boom")).alias("k"))
    ts = "2026-04-23T02:00:00+1000"
    with pytest.raises(Exception, match="publish boom"):
        write_snapshot({"a": ok, "bad": boom, "t": ok}, root, ts, sort_specs={"t": ["k"]})
    assert active_jobs_after_events(spark) == []
    assert os.path.isdir(snapshot_dir(root, ts))  # the partial write is there...
    assert list_snapshots(root) == ["2026-04-22T02:00:00+1000"]  # ...but not listed
    assert latest_snapshot(root) == "2026-04-22T02:00:00+1000"

    # a table given as a callable that raises, as a failed numbering
    # does, fails the publish the same way
    def failed_numbering():
        raise RuntimeError("numbering boom")

    with pytest.raises(RuntimeError, match="numbering boom"):
        write_snapshot({"a": ok, "ids": failed_numbering, "t": lambda: ok}, root, ts)
    assert active_jobs_after_events(spark) == []
    assert not os.path.exists(os.path.join(snapshot_dir(root, ts), COMMIT_MARKER))
    assert latest_snapshot(root) == "2026-04-22T02:00:00+1000"

    # one table per call into the same ts, as a table-by-table replay does
    write_snapshot({"a": ok}, root, ts)
    write_snapshot({"t": ok}, root, ts, sort_specs={"t": ["k"]})
    assert latest_snapshot(root) == ts
    assert read_snapshot_table(spark, root, ts, "t").count() == 50
    assert read_snapshot_table(spark, root, ts, "a").count() == 50  # the second call kept it


def test_snapshot_pruned_mid_listing_reads_as_absent(spark, tmp_path, monkeypatch):
    """A snapshot deleted between the root listing and the marker
    listing is left out of the result instead of failing the listing."""
    import shutil

    from cam_location_addressing_feature_service_etl_spark import store

    root = str(tmp_path)
    stamps = ["2026-04-20T02:00:00+1000", "2026-04-21T02:00:00+1000", "2026-04-22T02:00:00+1000"]
    for ts in stamps:
        write_snapshot({"t": spark.range(1)}, root, ts)
    listings = []
    children = store._children

    def prune_after_root_listing(spark_, fs, paths, pattern):
        listings.append(pattern)
        out = children(spark_, fs, paths, pattern)
        if len(listings) == 1:
            shutil.rmtree(snapshot_dir(root, stamps[0]))
        return out

    monkeypatch.setattr(store, "_children", prune_after_root_listing)
    assert list_snapshots(root) == stamps[1:]
    assert len(listings) == 4  # the first marker listing failed and both were taken again


def test_publish_jobs_carry_table_label_and_caller_group(spark, tmp_path):
    """Each table's write jobs are described ``publish <table>`` and
    keep the job group set by the caller."""
    sc = spark.sparkContext
    group = f"publish-label-{tmp_path.name}"
    sc.setJobGroup(group, "caller")
    try:
        write_snapshot(
            {"a": spark.range(5), "b": spark.range(7)}, str(tmp_path), "2026-04-22T02:00:00+1000"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    labels = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            desc = job.description()
            labels.add(desc.get() if desc.isDefined() else None)
    assert labels == {"publish a", "publish b"}
