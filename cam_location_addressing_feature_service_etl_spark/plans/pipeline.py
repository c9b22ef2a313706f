"""The reference's post-extract relational pipeline (SURVEY §3.1-§3.2)
as pure DataFrame transforms. Each stage cites the reference semantics
it reproduces; composition mirrors ``populate_tables`` →
``prune_addresses`` → ``update_geocode_site_id`` →
``prune_geocodes`` → surrogate-id pass (``pls/tables.py:911-938``).

Everything is an immutable DataFrame→DataFrame rewrite; the reference
mutates SQLite in place with batched UPDATE/DELETE — at 100 TB the
immutable rewrite is one shuffle per stage and the update-join is a
broadcast join when the mapping side is small.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.id_map import assign_surrogate_ids_bulk, rewrite_pk_to_id
from ..operators.upsert import upsert_by_key


def build_addresses_with_pid(
    address_rows: DataFrame, iri_pid_map: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """J9: the reference probes a per-batch dict ``addr_iri →
    address_pid`` and skips (logs) misses (``pls/tables.py:764-814``).

    Returns (addresses_with_pid, misses). No forced broadcast: the
    map is the carried-forward cache of EVERY address ever assigned a
    pid, so it grows with the address universe itself — at scale this
    is a key-partitioned shuffle join, and AQE broadcasts it only
    while it is genuinely small (review-pass catch: the old hint was
    the linear-build-side anti-pattern).
    """
    joined = address_rows.join(
        iri_pid_map, address_rows["addr_iri"] == iri_pid_map["address_iri"], "left"
    )
    hits = joined.filter(F.col("address_pid").isNotNull()).drop("address_iri")
    misses = joined.filter(F.col("address_pid").isNull()).select("addr_iri")
    return hits, misses


def prune_addresses_without_pid_mapping(
    lf_address: DataFrame, iri_pid_map: DataFrame
) -> DataFrame:
    """J6: DELETE FROM lf_address WHERE NOT EXISTS (map…) inverted to a
    keep-side semi-join (``pls/tables.py:817-830``)."""
    keys = iri_pid_map.select("address_pid")
    return lf_address.join(keys, "address_pid", "left_semi")


def update_geocode_site_id(geocodes: DataFrame, lf_address: DataFrame) -> DataFrame:
    """J8: the reference stages a temp mapping table then UPDATEs
    geocode.site_id in 50k-rowid batches (``pls/tables.py:833-882``).
    Immutable rewrite: join the address_pid→site_id mapping, coalesce
    onto the existing column. Addresses may map one pid to one site
    (first wins deterministically by site_id) to avoid row fan-out."""
    mapping = (
        lf_address.select("address_pid", "site_id")
        .groupBy("address_pid")
        .agg(F.min("site_id").alias("_new_site_id"))
    )
    return (
        geocodes.join(mapping, "address_pid", "left")
        .withColumn("site_id", F.coalesce("site_id", "_new_site_id"))
        .drop("_new_site_id")
    )


def prune_geocodes_without_addresses(geocodes: DataFrame, lf_address: DataFrame) -> DataFrame:
    """J6: DELETE geocodes lacking an address (``pls/tables.py:895-908``)."""
    keys = lf_address.select("address_pid")
    return geocodes.join(keys, "address_pid", "left_semi")


def upsert_iri_pid_cache(stored: DataFrame, fetched: DataFrame) -> DataFrame:
    """M1: INSERT..ON CONFLICT DO UPDATE on address_iri — last write
    (the fresh fetch) wins (``address_iri_pid_map.py:121-137``)."""
    return upsert_by_key(stored, fetched, key_cols=["address_iri"])


@dataclass
class SurrogateIdResult:
    table: DataFrame
    id_map: DataFrame


def surrogate_id_pass(
    table: DataFrame, existing_map: DataFrame, pk_col: str
) -> SurrogateIdResult:
    """M3 for one entity table: extend the carried-forward map with
    unseen keys (stable dense ids), then rewrite the text PK to the
    integer id (``id_map.py:8-84``; invoked for five tables at
    ``pls/tables.py:934-938``)."""
    # the BULK numbering: on a first run (empty carried-forward map)
    # every key of the table is "new", so this path must be the
    # spill-safe distributed form, not the small-increment array rank.
    # The new keys are sorted and counted once, while the plan is
    # built; the rewritten table and the published map each number
    # them with a narrow projection over that result.
    full_map = assign_surrogate_ids_bulk(
        table.select(F.col(pk_col).alias("iri")), existing_map
    )
    rewritten = rewrite_pk_to_id(table, full_map, pk_col=pk_col)
    return SurrogateIdResult(table=rewritten, id_map=full_map)


def run_post_extract_pipeline(
    *,
    lf_address: DataFrame,
    geocodes: DataFrame,
    iri_pid_map: DataFrame,
    id_maps: dict[str, DataFrame],
    tables_to_remap: dict[str, tuple[DataFrame, str]],
) -> dict[str, DataFrame]:
    """§3.1 steps 5-6 composed: prune addresses → enrich geocodes →
    prune geocodes → surrogate ids for every entity table.

    ``tables_to_remap`` maps table name → (DataFrame, pk_col);
    ``id_maps`` holds the carried-forward maps (empty DataFrames with
    (iri, id) schema on a first run).
    """
    addresses = prune_addresses_without_pid_mapping(lf_address, iri_pid_map)
    geo = update_geocode_site_id(geocodes, addresses)
    geo = prune_geocodes_without_addresses(geo, addresses)
    out: dict[str, DataFrame] = {"lf_address": addresses, "lf_geocode_sp_survey_point": geo}
    for name, (df, pk_col) in tables_to_remap.items():
        result = surrogate_id_pass(df, id_maps[name], pk_col)
        out[name] = result.table
        out[f"{name}_id_map"] = result.id_map
    return out
