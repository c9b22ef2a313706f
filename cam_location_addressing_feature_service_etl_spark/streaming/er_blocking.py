"""Streaming blocking-quality monitor — the standing twin of the
batch ``workload/geo.py er_blocking_quality`` (r15 verdict #7,
keeping the "every standing monitor has a mergeable twin" invariant):
a stream of part batches folds into three versioned states — the
distinct FEED-name vocabulary, the distinct MASTER-name vocabulary,
and the accreted TRUE-pair set — and the read derives the batch
query's exact audit row (reduction ratio + pair completeness) from
the folded states through the SAME ``blocking_quality_audit``
definition, so the audit algebra can never drift between the
oracle-checked batch query and the standing monitor.

Why the fold is mergeable: the name states are DISTINCT unions
(idempotent, order-free), and the true-pair predicate
(levenshtein ≤ tau) is a property of the PAIR alone, so the pair set
over accreted names is monotone — pairs(F ∪ ΔF, M ∪ ΔM) =
pairs(F, M) ∪ pairs(F ∪ ΔF, ΔM) ∪ pairs(ΔF, M). Each fold therefore
PassJoins only the batch's NEW names against the accumulated
vocabulary (plus each other) — the ``streaming/er.py`` incremental
discipline — never re-linking the corpus; any batching reconciles
bit-for-bit with the one-shot audit, and re-ingesting names is
identity.

Per-batch work ∝ new names (PassJoin candidates ∝ true matches);
state size = |name vocabularies| + |true pairs|, all bounded by the
distinct-name space the audit operates on. Exactly-once from the
versioned-fold replay discipline: every state piece for version ``b``
derives from states with version < ``b`` plus the delta, so a replay
recomputes identical content in any commit order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..workload.geo import (
    blocking_feed_names,
    blocking_master_names,
    blocking_quality_audit,
    blocking_true_pairs,
)
from .versioned import fold_version, read_latest, run_fold_stream

FEED_SCHEMA = "fn string"
MASTER_SCHEMA = "mn string"
PAIRS_SCHEMA = "mn string, fn string"


def _dirs(state_dir: str) -> tuple[str, str, str]:
    root = state_dir.rstrip("/")
    return root + "/feed", root + "/master", root + "/pairs"


def apply_part_batch(batch: DataFrame, batch_id: int, state_dir: str) -> None:
    """Fold one part micro-batch into the three versioned states.
    Idempotent under foreachBatch replay: every derived frame reads
    only versions < ``batch_id`` plus the delta."""
    from ..runtime import materialize

    spark = batch.sparkSession
    f_dir, m_dir, p_dir = _dirs(state_dir)
    # the name states as they were before this batch: a replay may
    # find v=batch_id already committed
    prior_f = read_latest(spark, f_dir, FEED_SCHEMA, before=batch_id)
    prior_m = read_latest(spark, m_dir, MASTER_SCHEMA, before=batch_id)
    # new names only (re-ingest is identity); materialized — each
    # feeds two PassJoin legs and its own state union
    new_f = materialize(
        blocking_feed_names(batch).join(prior_f, "fn", "left_anti")
    )
    new_m = materialize(
        blocking_master_names(batch).join(prior_m, "mn", "left_anti")
    )
    # incremental closure: new masters vs ALL feed names (covers
    # new×new once) + prior masters vs new feed names. Old×old pairs
    # already live in the pairs state.
    all_f = prior_f.unionByName(new_f)
    new_pairs = blocking_true_pairs(new_m, all_f).unionByName(
        blocking_true_pairs(prior_m, new_f)
    )
    fold_version(
        new_pairs,
        batch_id,
        p_dir,
        PAIRS_SCHEMA,
        lambda state, delta: state.unionByName(delta).distinct(),
    )
    fold_version(
        new_f,
        batch_id,
        f_dir,
        FEED_SCHEMA,
        lambda state, delta: state.unionByName(delta).distinct(),
    )
    fold_version(
        new_m,
        batch_id,
        m_dir,
        MASTER_SCHEMA,
        lambda state, delta: state.unionByName(delta).distinct(),
    )


def monitor_stream(
    parts: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Run the blocking-quality monitor over a part-row stream (any
    frame carrying ``p_name``)."""
    return run_fold_stream(
        parts,
        lambda batch, batch_id: apply_part_batch(batch, batch_id, state_dir),
        checkpoint_dir,
        trigger,
    )


def read_blocking_quality(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing audit row — the batch query's exact output shape
    (n_feed, n_master, cand_pairs, true_pairs, found_pairs,
    reduction_ratio, pair_completeness) derived from the folded
    states via the SAME ``blocking_quality_audit``; a 0/0 row before
    any batch folds."""
    f_dir, m_dir, p_dir = _dirs(state_dir)
    return blocking_quality_audit(
        read_latest(spark, f_dir, FEED_SCHEMA),
        read_latest(spark, m_dir, MASTER_SCHEMA),
        read_latest(spark, p_dir, PAIRS_SCHEMA).select("mn", "fn"),
    )
