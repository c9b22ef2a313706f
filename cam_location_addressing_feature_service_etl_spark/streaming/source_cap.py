"""Streaming per-source document cap — the standing twin of the batch
``workload/llm_text.py sample_source_cap``: a document stream folds
into a versioned state holding, per source, the current top-``cap``
docs by the shared priority (n_chars DESC, doc_id ASC), and the read
emits the batch query's exact output shape.

Top-N under a fixed total order is MERGEABLE:
topN(A ∪ B) = topN(topN(A) ∪ topN(B)) — every global winner wins its
own side — so any batching reconciles bit-for-bit with the one-shot
query over the concatenated stream. Both sides call the SAME
``source_cap_phase1`` / ``source_cap_phase2`` definitions, so the
priority order (and the salt discipline that keeps hot sources off a
single task) can never drift between the oracle-checked batch query
and the standing monitor. Re-ingesting a document is identity:
the delta is doc_id-deduped BEFORE phase-1 ranking (so a duplicate
can't burn a salt-class rank slot) and the state ∪ delta union is
deduped again with the same deterministic winner rule (highest
n_chars, source ASC tie-break), so replays and document updates
resolve identically every time.

Per-batch work: phase 1 salt-ranks only the DELTA (the state is
already ≤ cap rows per source); the merge re-ranks state ∪ delta
survivors per source — a bounded frame however large the source's
history. State size ≤ cap · |sources| rows. Exactly-once from the
versioned-fold replay discipline (``streaming/versioned.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload.llm_text import source_cap_phase1, source_cap_phase2
from .versioned import Fold


def _dedup_doc_id(df: DataFrame) -> DataFrame:
    """Deterministic one-row-per-doc_id: winner = highest n_chars,
    tie-broken by source ASC. ``dropDuplicates`` would keep an
    ARBITRARY row when the same doc_id re-arrives with a different
    payload (a document update), making the standing keep-list
    nondeterministic across replays; this total order pins the
    winner bit-for-bit on every replay. Runs over the delta (and
    over state ∪ delta survivors, ≤ cap·|sources| + |delta| rows)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_chars").desc(), F.col("source").asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    # doc_id-dedup the DELTA before phase 1 so a within-batch
    # duplicate cannot consume two rank slots in its salt class and
    # prune a legitimate boundary candidate; dedup AGAIN after the
    # union so cross-batch re-ingest stays identity (the containment
    # argument: every global winner survives its own side's top-cap).
    capped_delta = source_cap_phase1(
        _dedup_doc_id(delta.select("source", "doc_id", "n_chars"))
    )
    return source_cap_phase2(
        _dedup_doc_id(state.unionByName(capped_delta))
    ).select("source", "doc_id", "n_chars")


CAP_FOLD = Fold("source string, doc_id bigint, n_chars bigint", _merge)
#: fold one document micro-batch into the per-source top-cap state
apply_doc_batch = CAP_FOLD.apply
#: run the per-source cap over a (source, doc_id, n_chars, ...) stream
cap_stream = CAP_FOLD.stream


def read_source_cap(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing keep-list — the batch query's exact output shape
    (source, doc_id, n_chars, rnk) from the folded state; empty before
    any batch folds. The rank recompute runs over ≤ cap rows per
    source."""
    return source_cap_phase2(CAP_FOLD.read(spark, state_dir))
