"""Streaming incremental entity resolution — the production loop
around ``workload/geo.py er_resolve_increment`` (r11 verdict #3): a
continuous stream of master-record batches (mk, mn) accretes into the
persisted entity registry (name → component label → entity key)
WITHOUT ever re-running connected components over the corpus. Each
micro-batch PassJoins only its new names against the accumulated
vocabulary (plus each other) and merges touched components via a
bounded re-label — per-batch compute ∝ batch, and state WRITE-IO
∝ touched name-hash buckets (``fold_version_partitioned``, r12
verdict #4: the registry grows with the corpus, so the flat layout's
full rewrite per micro-batch was the flagged scale hazard; the
partitioned layout carries untouched buckets forward by manifest
reference and rewrites only buckets holding new/relabeled/re-keyed
names).

Exactly-once comes from ``streaming/versioned.py``: batch ``b`` reads
the latest committed registry version < ``b`` and writes
``registry_dir/v=<b>``, so foreachBatch replays overwrite their own
version with identical content (order-independence of the fold is the
batch-side argument, pinned in tests/test_er_incremental.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..workload.geo import _LINK_TAU, ER_REGISTRY_SCHEMA, er_resolve_increment
from .versioned import (
    fold_version_partitioned,
    parquet_stream,
    read_latest_partitioned,
    run_fold_stream,
)

MASTER_BATCH_SCHEMA = "mk bigint, mn string"

#: name-hash buckets of the partitioned registry state. Pinned per
#: state dir; at 100 TB size so one bucket ≪ executor memory and a
#: daily batch's names touch a small subset.
REGISTRY_BUCKETS = 64


def read_registry(spark: SparkSession, registry_dir: str) -> DataFrame:
    """The current (max committed version) entity registry; empty
    frame with ``ER_REGISTRY_SCHEMA`` when no version exists yet."""
    return read_latest_partitioned(spark, registry_dir, ER_REGISTRY_SCHEMA)


def fold_master_batch(
    batch: DataFrame,
    batch_id: int,
    registry_dir: str,
    tau: int = _LINK_TAU,
    retain_versions: int = 3,
    num_buckets: int = REGISTRY_BUCKETS,
    compact_dispersion: int | None = None,
) -> None:
    """Fold one master-record micro-batch into the versioned registry.
    Idempotent under foreachBatch replay (versioned-fold discipline);
    write-IO ∝ buckets whose names changed label/entity_key, since the
    fingerprint pass skips buckets the fold left byte-identical."""
    fold_version_partitioned(
        batch,
        batch_id,
        registry_dir,
        ER_REGISTRY_SCHEMA,
        lambda prior, delta: er_resolve_increment(prior, delta, tau),
        ("nm",),
        num_buckets,
        retain_versions,
        compact_dispersion=compact_dispersion,
    )


def resolve_registry_stream(
    masters_stream: DataFrame,
    registry_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    tau: int = _LINK_TAU,
    retain_versions: int = 3,
) -> StreamingQuery:
    """Run the accreting-registry loop over a (mk, mn) master stream
    (``MASTER_BATCH_SCHEMA``); ``tau`` and ``retain_versions`` thread
    through to ``fold_master_batch``."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        fold_master_batch(batch, batch_id, registry_dir, tau, retain_versions)

    return run_fold_stream(masters_stream, _apply, checkpoint_dir, trigger)


def read_master_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of master rows — the test stand-in for a
    registry-ingest topic."""
    return parquet_stream(spark, path, MASTER_BATCH_SCHEMA, max_files_per_trigger)
