"""Streaming span-level decontamination REWRITE guard — the standing
twin of the batch ``workload/llm_text.py dedup_decontam_span_rewrite``:
the held-out benchmark's distinct k-gram hashes are FROZEN once (an
eval suite is a fixed contract), then every training-document
micro-batch is rewritten against the frozen set — quoted token ranges
island-merged and cut — and the per-doc rewrite accounting folds into
versioned state: the ledger an ingest writer consults to emit the
CLEANED text (``cleaned_hash`` pins it) instead of dropping or
shipping the contaminated doc.

Why the fold is mergeable: each doc's accounting row is a pure
function of (doc text, frozen benchmark k-gram set) — a replayed
batch recomputes identical rows, and the merge keeps one row per
doc_id with delta-wins semantics (the ``streaming/decontam.py``
discipline: the prior row is anti-joined away before the union, so if
the frozen set is ever re-frozen the re-scored row deterministically
replaces the stale one). Any batching reconciles bit-for-bit with the
one-shot batch query over the same docs. Exactly-once from the
versioned-fold replay discipline; the per-batch broadcast of the
(small, frozen) benchmark gram set is the batch query's own scale
plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import _gram_postings, remove_contaminated_spans
from .versioned import fold_version, read_latest, run_fold_stream

_STATE_SCHEMA = (
    "doc_id bigint, n_tokens bigint, kept_tokens bigint, "
    "removed_tokens bigint, cleaned_hash string"
)
_COLS = ["doc_id", "n_tokens", "kept_tokens", "removed_tokens", "cleaned_hash"]


def freeze_benchmark_grams(
    bench_docs: DataFrame, ref_dir: str, k: int = 8
) -> None:
    """Write the benchmark's distinct k-gram hashes once (doc_id,
    text frame); the guard never rescans the benchmark."""
    _gram_postings(bench_docs, "doc_id", "text", k).select(
        "kg"
    ).distinct().write.mode("overwrite").parquet(ref_dir)


def _merge_with(bench_kg: DataFrame, k: int):
    def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
        fresh = remove_contaminated_spans(
            delta.select("doc_id", "text"),
            None,
            "doc_id",
            "text",
            k=k,
            bench_kg=bench_kg,
        )
        return (
            state.select(*_COLS)
            .join(fresh.select("doc_id"), "doc_id", "left_anti")
            .unionByName(fresh.select(*_COLS).dropDuplicates(["doc_id"]))
        )

    return _merge


def apply_doc_batch(
    batch: DataFrame, batch_id: int, state_dir: str, ref_dir: str, k: int = 8
) -> None:
    """Rewrite one (doc_id, text) micro-batch against the frozen
    benchmark gram set and fold the accounting ledger. Idempotent
    under foreachBatch replay."""
    bench_kg = batch.sparkSession.read.parquet(ref_dir)
    fold_version(
        batch, batch_id, state_dir, _STATE_SCHEMA, _merge_with(bench_kg, k)
    )


def monitor_stream(
    docs: DataFrame,
    state_dir: str,
    ref_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Run the rewrite guard over a (doc_id, text) document stream."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_doc_batch(batch, batch_id, state_dir, ref_dir, k)

    return run_fold_stream(docs, _apply, checkpoint_dir, trigger)


def read_rewrite_ledger(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing per-doc rewrite ledger — the batch query's exact
    output shape over every doc folded so far; empty before any batch
    folds."""
    return read_latest(spark, state_dir, _STATE_SCHEMA)
