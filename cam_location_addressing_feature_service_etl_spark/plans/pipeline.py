"""The reference's post-extract relational pipeline (SURVEY §3.1-§3.2)
as pure DataFrame transforms. Each stage cites the reference semantics
it reproduces; composition mirrors ``populate_tables`` →
``prune_addresses`` → the geocode site-id update + ``prune_geocodes``
(one join here) → surrogate-id pass (``pls/tables.py:911-938``).

Everything is an immutable DataFrame→DataFrame rewrite; the reference
mutates SQLite in place with batched UPDATE/DELETE — at 100 TB the
immutable rewrite is one shuffle per stage and the update-join is a
broadcast join when the mapping side is small.
"""

from __future__ import annotations

import threading
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.id_map import assign_surrogate_ids_bulk, rewrite_pk_to_id
from ..operators.upsert import upsert_by_key

T = TypeVar("T")


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


def enrich_geocodes(geocodes: DataFrame, addresses: DataFrame) -> DataFrame:
    """J8 then J6: the reference UPDATEs geocode.site_id from a staged
    ``address_pid → site_id`` mapping in 50k-rowid batches, then
    DELETEs geocodes lacking an address (``pls/tables.py:833-908``).
    Here one inner join with the mapping (a pid's smallest site_id, so
    no fan-out), coalesced onto site_id, does both: the mapping's keys
    are exactly the non-null pids the prune kept, and a null key
    matches in neither, so ``addresses`` is evaluated once."""
    mapping = addresses.groupBy("address_pid").agg(F.min("site_id").alias("_new_site_id"))
    return (
        geocodes.join(mapping, "address_pid")
        .withColumn("site_id", F.coalesce("site_id", "_new_site_id"))
        .drop("_new_site_id")
    )


def upsert_iri_pid_cache(stored: DataFrame, fetched: DataFrame) -> DataFrame:
    """M1: INSERT..ON CONFLICT DO UPDATE on address_iri — last write
    (the fresh fetch) wins (``address_iri_pid_map.py:121-137``)."""
    return upsert_by_key(stored, fetched, key_cols=["address_iri"])


def run_post_extract_pipeline(
    *,
    lf_address: DataFrame,
    geocodes: DataFrame,
    iri_pid_map: DataFrame,
    id_maps: dict[str, DataFrame],
    tables_to_remap: dict[str, tuple[DataFrame, str]],
) -> dict[str, DataFrame | Callable[[], DataFrame]]:
    """§3.1 steps 5-6 composed: prune addresses → enrich and prune
    geocodes → surrogate ids for every entity table (M3, ``id_map.py:
    8-84``, invoked for five tables at ``pls/tables.py:934-938``).

    ``tables_to_remap`` maps table name → (DataFrame, pk_col);
    ``id_maps`` holds the carried-forward maps (empty DataFrames with
    (iri, id) schema on a first run).

    The addresses and geocodes come back as DataFrames, built without
    a Spark job. Each remapped table and its ``<name>_id_map`` come back
    as a zero-argument callable returning the DataFrame: all of them
    share ONE bulk numbering pass over every table's new keys, which
    runs Spark jobs, so it waits until a callable is first called —
    once, under a lock, on whichever thread asks first (the others
    wait for it), with its jobs described ``number``. ``write_snapshot``
    calls each inside that table's publish thread, so the writes that
    need no id map start at once and run beside the numbering.
    """
    addresses = prune_addresses_without_pid_mapping(lf_address, iri_pid_map)
    out: dict[str, DataFrame | Callable[[], DataFrame]] = {
        "lf_address": addresses,
        "lf_geocode_sp_survey_point": enrich_geocodes(geocodes, addresses),
    }
    # the BULK numbering: on a first run (empty carried-forward map)
    # every key of a table is "new", so this must be the spill-safe
    # distributed form, not the small-increment array rank
    numbered = _once(
        lf_address.sparkSession.sparkContext,
        lambda: assign_surrogate_ids_bulk(
            {name: df.select(F.col(pk).alias("iri")) for name, (df, pk) in tables_to_remap.items()},
            id_maps,
        ),
    )

    def remapped(name: str, df: DataFrame, pk_col: str):
        def id_map() -> DataFrame:
            return numbered()[name]

        def table() -> DataFrame:
            return rewrite_pk_to_id(df, id_map(), pk_col=pk_col)

        return table, id_map

    for name, (df, pk_col) in tables_to_remap.items():
        out[name], out[f"{name}_id_map"] = remapped(name, df, pk_col)
    return out


def _once(sc: SparkContext, compute: Callable[[], T]) -> Callable[[], T]:
    """``compute``, run at most once, on the first thread to call the
    returned function, with its Spark jobs described ``number``; every
    call returns its result or raises its error."""
    lock = threading.Lock()
    done: list = []

    def get() -> T:
        with lock:
            if not done:
                desc = sc.getLocalProperty("spark.job.description")
                sc.setLocalProperty("spark.job.description", "number")
                try:
                    done.append((compute(), None))
                except Exception as exc:  # noqa: BLE001 - re-raised to every caller
                    done.append((None, exc))
                finally:
                    sc.setLocalProperty("spark.job.description", desc)
        result, error = done[0]
        if error is not None:
            raise error
        return result

    return get
