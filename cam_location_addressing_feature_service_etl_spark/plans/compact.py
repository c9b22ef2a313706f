"""Table-maintenance compaction: rewrite a small-files parquet
directory into few, sorted, range-disjoint files (the lakehouse
OPTIMIZE / CLUSTER BY operation).

Why it exists: every streaming sink in this repo (foreachBatch
linkage, snapshot appends, micro-batch upserts) appends one-or-more
files PER TRIGGER — at production cadence that is thousands of files
a day, and the scan side pays for it twice: task-per-file scheduling
overhead, and min/max statistics so wide they prune nothing. The
reference's per-run snapshot rewrite (the whole SQLite file is
rebuilt and re-uploaded each run — ``main_pls.py:198``
``{prefix}/{ts}/pls.db``) is the single-node ancestor of this
operation; at Spark scale the rewrite must stay distributed and
ordered.

Plan shape: one ``repartitionByRange(n, sort_cols)`` exchange (range
boundaries from Spark's reservoir sample of the sort key), then
``sortWithinPartitions`` — so every output file covers a DISJOINT
range of the sort key and its parquet footer min/max are tight. A
range predicate on the sort key then prunes to the few files whose
range intersects — the same data-skipping story as
``geo_zorder_layout`` (use the zkey as the sort column for 2-D
pruning). Row-preservation and range-disjointness are pinned in
``tests/test_compact.py``.

At 100 TB: compaction is per-partition maintenance — compact
yesterday's partition, not the table. ``compact_partitions`` is that
operator: select only the partitions whose file count exceeds a
threshold, rewrite EACH with the same range-disjoint plan into a
staging dir, and swap it in; cold partitions are never touched, so
the maintenance job's cost tracks ingest volume, not table size. The
exchange shuffles only the partition being rewritten and the writer
streams sorted runs — no driver materialization anywhere.
``target_rows_per_file`` sizes the output (files = ceil(rows /
target)); size by bytes via the caller's rows-per-byte estimate, as
parquet encodes before the writer can see bytes.

Concurrency contract: ``compact_parquet`` pins the file set up front
(one listing; count and rewrite both read exactly those files), so a
live sink appending DURING the compaction neither skews the stats nor
half-appears in the output — late files simply stay in ``src_dir``
for the next maintenance pass. The ``compact_partitions`` swap is
delete-then-rename on the Hadoop FileSystem API; on a store without
atomic rename there is a brief window where the partition is absent —
run it when the partition is cold (yesterday's, not the live one).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import store


@dataclass(frozen=True)
class CompactionStats:
    files_before: int
    files_after: int
    rows: int


def _parquet_files(spark: SparkSession, path: str) -> list[str]:
    """Immediate (non-recursive) parquet files under ``path``."""
    return sorted(
        p for p, is_dir in store.listing(spark, path) if not is_dir and p.endswith(".parquet")
    )


def _subdirs(spark: SparkSession, path: str) -> list[str]:
    """Immediate non-hidden subdirectories of ``path``."""
    return sorted(
        p
        for p, is_dir in store.listing(spark, path)
        if is_dir and not os.path.basename(p).startswith(("_", "."))
    )


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    sort_cols: list[str],
    target_rows_per_file: int,
) -> CompactionStats:
    """Rewrite ``src_dir`` into ``dst_dir`` as ceil(rows/target) files,
    each sorted by ``sort_cols`` and covering a disjoint range of them.
    Returns before/after file counts and the row count (the caller's
    swap — rename/retarget readers — is storage-layer specific and out
    of scope, as is deleting the source).

    Single-directory scope: ``src_dir`` must be a leaf directory of
    parquet files. A hive-partitioned root (subdirectories) raises —
    compacting it as one frame would flatten the layout and make the
    stats count nothing; use :func:`compact_partitions` instead.

    The file set is pinned by one listing up front: the row count and
    the rewrite read exactly those files, so files appended by a live
    sink mid-compaction are excluded consistently (they remain for the
    next pass) rather than inflating ``rows`` past ``files_before``.
    """
    if target_rows_per_file < 1:
        raise ValueError(
            f"target_rows_per_file must be >= 1, got {target_rows_per_file}"
        )
    src_norm = os.path.normpath(src_dir)
    dst_norm = os.path.normpath(dst_dir)
    if dst_norm == src_norm or dst_norm.startswith(src_norm + os.sep):
        # the overwrite would clobber files the lazy plan still reads —
        # in-place compaction needs a staging dir + rename at the
        # storage layer, never a self-overwrite
        raise ValueError(
            f"dst_dir must not equal or nest inside src_dir: {src_dir!r}"
        )
    if _subdirs(spark, src_dir):
        raise ValueError(
            f"src_dir contains subdirectories (partitioned layout?): "
            f"{src_dir!r} — use compact_partitions for per-partition "
            "maintenance"
        )
    files = _parquet_files(spark, src_dir)
    if not files:
        return CompactionStats(files_before=0, files_after=0, rows=0)
    df = spark.read.parquet(*files)
    rows = df.count()
    n_files = max(1, math.ceil(rows / target_rows_per_file))
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
    return CompactionStats(
        files_before=len(files),
        files_after=len(_parquet_files(spark, dst_dir)),
        rows=rows,
    )


def compact_partitions(
    spark: SparkSession,
    root: str,
    partition_col: str,
    sort_cols: list[str],
    target_rows_per_file: int,
    file_threshold: int,
) -> dict[str, CompactionStats]:
    """Per-partition maintenance over a hive-layout table
    (``root/partition_col=value/*.parquet``): rewrite ONLY the
    partitions whose immediate parquet-file count exceeds
    ``file_threshold``, each with :func:`compact_parquet`'s
    range-disjoint sorted plan, then swap the compacted files into
    place. Partitions at or under the threshold are left byte-for-byte
    untouched — this is the "compact yesterday's hot partition, not
    the table" operator, so a daily maintenance run costs O(new data),
    not O(table).

    Mechanics per selected partition: compact into a staging dir under
    ``root/_compact_tmp``, then delete the original partition dir and
    rename the staging dir into its place via the Hadoop FileSystem
    API (storage-agnostic; see the module docstring for the
    non-atomic-rename caveat). The partition value is carried by the
    directory name, so only data columns are rewritten and hive
    partition discovery sees an identical layout afterwards.

    Returns ``{partition_dir_name: CompactionStats}`` for the
    partitions actually rewritten (empty dict = nothing exceeded the
    threshold).
    """
    if file_threshold < 1:
        raise ValueError(f"file_threshold must be >= 1, got {file_threshold}")
    prefix = f"{partition_col}="
    part_dirs = [
        d for d in _subdirs(spark, root)
        if os.path.basename(d.rstrip("/")).startswith(prefix)
    ]
    if not part_dirs:
        raise ValueError(
            f"no '{prefix}*' partition directories under {root!r}"
        )
    staging_root = os.path.join(root, "_compact_tmp")
    fs, staging_path = store.filesystem(spark, staging_root)
    out: dict[str, CompactionStats] = {}
    for part_dir in part_dirs:
        leaf = os.path.basename(part_dir.rstrip("/"))
        if len(_parquet_files(spark, part_dir)) <= file_threshold:
            continue
        staging = os.path.join(staging_root, leaf)
        stats = compact_parquet(
            spark, part_dir, staging, sort_cols, target_rows_per_file
        )
        _, src_p = store.filesystem(spark, part_dir)
        _, stg_p = store.filesystem(spark, staging)
        if not fs.delete(src_p, True):
            raise IOError(f"failed to delete {part_dir!r} for swap")
        if not fs.rename(stg_p, src_p):
            raise IOError(f"failed to rename {staging!r} -> {part_dir!r}")
        out[leaf] = stats
    fs.delete(staging_path, True)
    return out
