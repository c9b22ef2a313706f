"""Composed streaming DQ suite — N standing monitors, ONE stream, ONE
batch read: a single ``foreachBatch`` folds the PSI band counts
(``streaming/psi.py``), the seasonal-baseline moments
(``streaming/seasonal.py``) and the Benford first-digit counts
(``streaming/benford.py``, over the event ``value``) from the SAME
micro-batch, localCheckpointed once so the batch subtree executes once
and every monitor's delta aggregate reads the materialized rows.

Why composition is safe here: the monitors are INDEPENDENT abelian
folds into separate state dirs, so no cross-table commit ordering is
required (contrast ``streaming/corpus_dedup.py``, whose two tables
derive from one computation and commit internal-first). A crash
between folds replays the batch; each versioned fold is individually
idempotent, so the recovered run simply re-lands identical versions —
monitors never disagree about WHICH batches they have seen for longer
than one replay.

Cost per batch: one read + localCheckpoint of the batch, then one
map-side-combined aggregate per monitor (bands + cells + digits rows
of state each) — adding a monitor adds an aggregate over the already-
materialized batch, NOT another pass over the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..runtime import scoped_plan_refs
from .benford import apply_amount_batch
from .psi import apply_psi_batch
from .seasonal import apply_baseline_batch
from .versioned import run_fold_stream


def apply_dq_batch(
    batch: DataFrame,
    batch_id: int,
    psi_dir: str,
    seasonal_dir: str,
    benford_dir: str,
) -> None:
    """Fold one event micro-batch into all three monitor states from a
    single materialization. Idempotent under foreachBatch replay."""
    with scoped_plan_refs():
        b = batch.localCheckpoint(eager=True)
        apply_psi_batch(b, batch_id, psi_dir)
        apply_baseline_batch(b, batch_id, seasonal_dir)
        apply_amount_batch(
            b.withColumnRenamed("value", "o_totalprice"), batch_id, benford_dir
        )


def dq_suite_stream(
    events: DataFrame,
    psi_dir: str,
    seasonal_dir: str,
    benford_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Run the composed monitor suite over an event stream (the
    ``events`` table shape: ts, event_type, value, ...)."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_dq_batch(batch, batch_id, psi_dir, seasonal_dir, benford_dir)

    return run_fold_stream(events, _apply, checkpoint_dir, trigger)
