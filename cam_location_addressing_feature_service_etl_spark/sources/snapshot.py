"""Snapshot lifecycle: timestamped parquet snapshot directories.

The reference versions whole-database snapshots under timestamped S3
keys and restores the *latest* by descending-lex key sort
(``address_etl/s3.py:13-46,111-121``; restore ``main_pls.py:101-186``).
Here a snapshot is a directory ``<root>/snapshot_ts=<ts>/<table>/``
of parquet tables, committed by a ``_COMMITTED`` marker inside it
that records each table's schema, so the restore reads without
inferring one; "latest" is the max committed timestamp (O1). Listing,
commit and withdrawal go through ``store.py``, the one
committed-version store the versioned folds share, so a snapshot root
is any Hadoop FileSystem path (a local path, ``file://``, ``hdfs://``,
``s3a://``). Listing is O(#snapshots), not O(data). The path-only
functions take the session from ``SparkSession.active()``.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from .. import store

_PREFIX = "snapshot_ts="
#: the file marking a snapshot directory complete (see write_snapshot)
COMMIT_MARKER = "_COMMITTED"


def snapshot_dir(root: str, ts: str) -> str:
    return os.path.join(root, f"{_PREFIX}{ts}")


def list_snapshots(root: str) -> list[str]:
    """All committed snapshot timestamps, ascending. A snapshot
    directory without its commit marker (a publish that failed or is
    still running) is not a snapshot."""
    return store.committed(SparkSession.active(), root, _PREFIX, COMMIT_MARKER)


def latest_snapshot(root: str) -> str | None:
    """O1: latest snapshot = max timestamp (desc-lex sort + first, as in
    s3.py:37-46 — ISO-8601 timestamps sort lexicographically)."""
    snapshots = list_snapshots(root)
    return snapshots[-1] if snapshots else None


def snapshot_schemas(root: str, ts: str) -> dict[str, StructType]:
    """The tables committed snapshot ``ts`` holds, name → schema, as
    its commit marker records them."""
    record = store.marker_content(SparkSession.active(), snapshot_dir(root, ts), COMMIT_MARKER)
    return {name: StructType.fromJson(s) for name, s in json.loads(record or "{}").items()}


def write_snapshot(
    tables: dict[str, DataFrame | Callable[[], DataFrame]],
    root: str,
    ts: str,
    sort_specs: dict[str, list[str]] | None = None,
) -> str:
    """Publish one atomic snapshot of all state + output tables.

    The per-table writes are submitted together from driver threads,
    one per table, so Spark's scheduler runs their jobs side by side
    instead of paying each job's fixed latency in turn. Each thread
    inherits the caller's job group and labels its jobs
    ``publish <table>`` (``spark.job.description``). A table's value
    may be a zero-argument callable returning its DataFrame: it is
    called inside that table's thread, so work it does before the
    write (``run_post_extract_pipeline``'s shared numbering) runs
    beside the other tables' writes instead of ahead of them; a
    callable that raises fails the publish like a failed write.

    Atomicity: the job commit protocol makes each table write
    all-or-nothing (replaces the reference's periodic-commit batching,
    pls/tables.py:454-457), and the snapshot as a whole becomes visible
    to ``list_snapshots`` only through the ``COMMIT_MARKER`` file
    written into its directory after every table write succeeded; its
    content is the record ``{table: schema}`` as JSON. A repeat call
    into the same ``ts`` withdraws the marker and re-commits the
    record with its own tables merged in, so a table-by-table publish
    commits every table. If any write fails, every started write is
    waited for, no marker is written and the first failure (in
    ``tables`` order) is raised.

    ``sort_specs`` (table name → sort columns) opts a table into the
    clustered layout of ``plans/compact.py``: one
    ``repartitionByRange`` + ``sortWithinPartitions`` so its files
    carry DISJOINT key ranges and tight min/max stats, which prune
    files for a reader that filters on a key range. Default is
    unchanged (write as-is); ``run_etl`` uses the default, because its
    restore reads every snapshot table whole."""
    unknown = set(sort_specs or {}) - set(tables)
    if unknown:
        # a typo'd/renamed table name would otherwise silently lose its
        # clustered layout and next-run reads quietly stop pruning
        raise ValueError(
            f"sort_specs names tables not being written: {sorted(unknown)} "
            f"(writing: {sorted(tables)})"
        )
    spark = SparkSession.active()
    base = snapshot_dir(root, ts)
    record = snapshot_schemas(root, ts) if ts in list_snapshots(root) else {}
    store.withdraw(spark, base, COMMIT_MARKER)

    sc = spark.sparkContext

    def write_table(name: str, table: DataFrame | Callable[[], DataFrame]) -> StructType:
        sc.setLocalProperty("spark.job.description", f"publish {name}")
        df = table() if callable(table) else table
        cols = (sort_specs or {}).get(name)
        if cols:
            df = df.repartitionByRange(sc.defaultParallelism, *cols).sortWithinPartitions(*cols)
        df.write.mode("overwrite").parquet(os.path.join(base, name))
        return df.schema

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(write_table), name, table)
            for name, table in tables.items()
        }
    record.update({name: f.result() for name, f in futures.items()})
    content = json.dumps({name: schema.jsonValue() for name, schema in record.items()})
    store.commit(spark, base, COMMIT_MARKER, content.encode())
    return base


def read_snapshot_table(
    spark: SparkSession,
    root: str,
    ts: str,
    name: str,
    *,
    recorded: dict[str, StructType] | None = None,
) -> DataFrame:
    """Table ``name`` of committed snapshot ``ts``, read with its
    recorded schema (made nullable, as inference does) and so without
    a Spark job; ``KeyError`` when the record does not list it.

    ``recorded`` is the snapshot's record as ``snapshot_schemas``
    returned it: a caller restoring several tables passes it so the
    commit marker is opened once, not once per table (on an object
    store each open is a round trip before the first job)."""
    if recorded is None:
        recorded = snapshot_schemas(root, ts)
    schema = recorded.get(name)
    if schema is None:
        raise KeyError(f"snapshot {ts} under {root} holds no table {name!r}")
    return spark.read.schema(schema).parquet(os.path.join(snapshot_dir(root, ts), name))


def carry_forward_geocodes(prev_geocodes: DataFrame) -> DataFrame:
    """U2 with column reshape: geocodes carried from the previous run
    get site_id and hash nulled so the new run re-enriches them
    (main_pls.py:123-133)."""
    return prev_geocodes.select(
        "geocode_id",
        "geocode_type",
        "address_pid",
        F.lit(None).cast("string").alias("site_id"),
        "centoid_lat",
        "centoid_lon",
        F.lit(None).cast("string").alias("hash"),
    )
