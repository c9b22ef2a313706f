"""Mirrors the reference's relational-flow tests
(``tests/test_pls_address_pid_flow.py`` in /root/reference) with the
FIXTURES.md rows: address build with miss-skipping, anti-join prunes,
the update-join→prune composite, and cache upsert semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from cam_location_addressing_feature_service_etl_spark.plans.pipeline import (
    build_addresses_with_pid,
    enrich_geocodes,
    prune_addresses_without_pid_mapping,
    upsert_iri_pid_cache,
)

ADDR_COLS = "addr_iri string, addr_id string, parcel_id string, road_id string, site_id string"


def _fixtures(spark):
    address_rows = spark.createDataFrame(
        [
            ("https://example.com/address/1", "addr-1", "parcel-1", "road-1", "site-1"),
            ("https://example.com/address/2", "addr-2", "parcel-2", "road-2", "site-2"),
            ("https://example.com/address/3", "addr-3", "parcel-3", "road-3", "site-3"),
        ],
        ADDR_COLS,
    )
    iri_pid_map = spark.createDataFrame(
        [
            ("https://example.com/address/1", "100"),
            ("https://example.com/address/2", "200"),
        ],
        "address_iri string, address_pid string",
    )
    geocodes = spark.createDataFrame(
        [
            ("geo-1", "PC", "100", None, -27.0, 153.0),
            ("geo-2", "PC", "999", None, -28.0, 152.0),
        ],
        "geocode_id string, geocode_type string, address_pid string, "
        "site_id string, centoid_lat double, centoid_lon double",
    )
    return address_rows, iri_pid_map, geocodes


def test_address_build_skips_unmapped_iris(spark):
    address_rows, iri_pid_map, _ = _fixtures(spark)
    hits, misses = build_addresses_with_pid(address_rows, iri_pid_map)
    got = {r["addr_id"]: r["address_pid"] for r in hits.collect()}
    assert got == {"addr-1": "100", "addr-2": "200"}
    assert [r["addr_iri"] for r in misses.collect()] == ["https://example.com/address/3"]


def test_prune_addresses_without_pid_mapping(spark):
    lf_address = spark.createDataFrame(
        [("addr-1", "100"), ("addr-x", "999")], "addr_id string, address_pid string"
    )
    iri_pid_map = spark.createDataFrame(
        [("iri-1", "100")], "address_iri string, address_pid string"
    )
    kept = prune_addresses_without_pid_mapping(lf_address, iri_pid_map)
    assert [r["addr_id"] for r in kept.collect()] == ["addr-1"]


def test_update_geocode_site_id_then_prune(spark):
    """The composite from the reference's test: geo-1 gains site-1 via
    the update-join; geo-2 (no matching address) is pruned."""
    _, _, geocodes = _fixtures(spark)
    lf_address = spark.createDataFrame(
        [("addr-1", "100", "site-1")], "addr_id string, address_pid string, site_id string"
    )
    got = {r["geocode_id"]: r["site_id"] for r in enrich_geocodes(geocodes, lf_address).collect()}
    assert got == {"geo-1": "site-1"}


def test_update_join_preserves_existing_site_id(spark):
    """M2 interplay: a geocode that already has site_id keeps it
    (coalesce old-first only fills NULLs — carried-forward rows were
    already reset to NULL by the snapshot reshape)."""
    geocodes = spark.createDataFrame(
        [("geo-1", "PC", "100", "site-OLD", -27.0, 153.0)],
        "geocode_id string, geocode_type string, address_pid string, "
        "site_id string, centoid_lat double, centoid_lon double",
    )
    lf_address = spark.createDataFrame(
        [("addr-1", "100", "site-NEW")],
        "addr_id string, address_pid string, site_id string",
    )
    got = enrich_geocodes(geocodes, lf_address).collect()[0]
    assert got["site_id"] == "site-OLD"


def test_iri_pid_cache_upsert_overwrites(spark):
    """Re-saving ('.../address/1', '101') over '100' overwrites —
    last-write-wins on address_iri (reference upsert semantics)."""
    stored = spark.createDataFrame(
        [("https://example.com/address/1", "100"), ("https://example.com/address/2", "200")],
        "address_iri string, address_pid string",
    )
    fetched = spark.createDataFrame(
        [("https://example.com/address/1", "101"), ("https://example.com/address/9", "900")],
        "address_iri string, address_pid string",
    )
    merged = upsert_iri_pid_cache(stored, fetched)
    got = {r["address_iri"]: r["address_pid"] for r in merged.collect()}
    assert got == {
        "https://example.com/address/1": "101",
        "https://example.com/address/2": "200",
        "https://example.com/address/9": "900",
    }
