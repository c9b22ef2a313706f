"""Streaming incremental corpus-dedup — the production loop around
``operators/dedup_registry.py dedup_fold_increment`` (r12 verdict #3):
a continuous stream of document batches accretes into the persisted
dedup registry (doc → component → canonical → kept), its shingle
postings index, and the additive per-shingle df side state (r15 —
the r14 verdict's #1) WITHOUT ever re-clustering the corpus. Per
micro-batch, candidate generation probes only the batch's postings;
the df ranking/gate reads the side state restricted to the batch's
shingles (the state is sh-hash-bucketed, so that read prunes to the
touched buckets); the re-label is bounded by the batch's edges;
kept/canonical recompute only for touched components — and all three
state tables live in the PARTITIONED versioned layout
(``streaming/versioned.py``), so state write-IO is ∝ touched buckets,
not |corpus|.

Exactly-once comes from the versioned-fold discipline: batch ``b``
reads each state's latest committed version < ``b`` and writes
``v=<b>`` of each — replays recompute identical content. The commits
are ordered postings → dfreq → registry LAST: the registry is the
consumer-visible table (keep-list readers), so a crash between the
commits leaves internal state at most one version ahead for exactly
one replay, never the visible keep-list ahead of the index it was
built from.

Migration: a state dir written before the df state existed simply has
no committed dfreq version — the first post-upgrade fold detects that
(postings committed, dfreq not) and derives df from the postings
once; every later fold folds it additively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup_registry import (
    DEDUP_DFREQ_SCHEMA,
    DEDUP_POSTINGS_SCHEMA,
    DEDUP_REGISTRY_SCHEMA,
    dedup_fold_increment,
)
from ..runtime import scoped_plan_refs
from .versioned import (
    commit_version_partitioned,
    parquet_stream,
    read_latest_partitioned,
    read_version_before_partitioned,
    run_fold_stream,
)

DOC_BATCH_SCHEMA = "doc_id bigint, text string"

#: hash buckets of the state tables (pinned per state dir) — doc-keyed
#: for registry/postings, shingle-keyed for the df side state
DEDUP_BUCKETS = 64


def _dfreq_dir(postings_dir: str) -> str:
    return postings_dir.rstrip("/") + "_df"


def read_dedup_registry(spark: SparkSession, registry_dir: str) -> DataFrame:
    """The current dedup registry (``DEDUP_REGISTRY_SCHEMA``); empty
    frame when no batch was ever folded."""
    return read_latest_partitioned(spark, registry_dir, DEDUP_REGISTRY_SCHEMA)


def fold_doc_batch(
    batch: DataFrame,
    batch_id: int,
    registry_dir: str,
    postings_dir: str,
    num_buckets: int = DEDUP_BUCKETS,
    compact_dispersion: int | None = None,
    dfreq_dir: str | None = None,
) -> None:
    """Fold one document micro-batch into the three versioned state
    tables. Idempotent under foreachBatch replay; one fold computation
    feeds all commits (the ``commit_version_partitioned`` split API).
    ``compact_dispersion`` is ``fold_version_partitioned``'s adaptive
    compaction policy, applied per table. ``dfreq_dir`` defaults to
    ``<postings_dir>_df``."""
    spark = batch.sparkSession
    dfreq_dir = dfreq_dir or _dfreq_dir(postings_dir)
    reg_prior, reg_man = read_version_before_partitioned(
        spark, registry_dir, batch_id, DEDUP_REGISTRY_SCHEMA, num_buckets
    )
    post_prior, post_man = read_version_before_partitioned(
        spark, postings_dir, batch_id, DEDUP_POSTINGS_SCHEMA, num_buckets
    )
    df_prior, df_man = read_version_before_partitioned(
        spark, dfreq_dir, batch_id, DEDUP_DFREQ_SCHEMA, num_buckets
    )
    # migration: postings committed before the df state existed — let
    # the fold derive df from postings ONCE (dfreq=None); from then on
    # every fold reads and folds the side state additively
    dfreq = None if (post_man["pids"] and not df_man["pids"]) else df_prior
    with scoped_plan_refs():
        new_reg, new_post, new_df = dedup_fold_increment(
            reg_prior, post_prior, batch, dfreq=dfreq
        )

        def _disperse(man: dict) -> bool:
            # adaptive policy (versioned.py): compact when the PRIOR
            # manifest already references >= K owner versions — a
            # metadata-only, per-table, replay-deterministic choice
            return compact_dispersion is not None and len(
                {int(o) for o in man["pids"].values()}
            ) >= compact_dispersion

        commit_version_partitioned(
            new_post,
            batch_id,
            postings_dir,
            DEDUP_POSTINGS_SCHEMA,
            ("doc_id",),
            post_prior,
            post_man,
            force_rewrite_all=_disperse(post_man),
        )
        commit_version_partitioned(
            new_df,
            batch_id,
            dfreq_dir,
            DEDUP_DFREQ_SCHEMA,
            ("sh",),
            df_prior,
            df_man,
            force_rewrite_all=_disperse(df_man),
        )
        commit_version_partitioned(
            new_reg,
            batch_id,
            registry_dir,
            DEDUP_REGISTRY_SCHEMA,
            ("doc_id",),
            reg_prior,
            reg_man,
            force_rewrite_all=_disperse(reg_man),
        )


def dedup_registry_stream(
    docs_stream: DataFrame,
    registry_dir: str,
    postings_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    dfreq_dir: str | None = None,
) -> StreamingQuery:
    """Run the accreting corpus-dedup loop over a (doc_id, text)
    document stream (``DOC_BATCH_SCHEMA``)."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        fold_doc_batch(
            batch, batch_id, registry_dir, postings_dir, dfreq_dir=dfreq_dir
        )

    return run_fold_stream(docs_stream, _apply, checkpoint_dir, trigger)


def read_doc_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of document rows — the test stand-in for an
    ingest topic."""
    return parquet_stream(spark, path, DOC_BATCH_SCHEMA, max_files_per_trigger)
