"""Streaming benchmark-decontamination guard — the standing twin of
the batch ``workload/decontam.py text_contamination_ngram``: the eval
benchmark's distinct n-grams are FROZEN once (they are the fixed
contract an eval suite is), then every training-document micro-batch
scores its docs against the frozen set and folds the per-doc
contamination ledger into versioned state — the table an ingest
pipeline's writer consults before a doc ever reaches a training shard
(flag-at-ingest instead of audit-after-the-fact).

Why the fold is mergeable: each doc's stats are a pure function of
(doc text, frozen benchmark) — a replayed batch recomputes identical
rows, and the ledger merge keeps one row per doc_id, so any batching
reconciles bit-for-bit with the one-shot audit over the same docs.
Exactly-once from the versioned-fold replay discipline; the broadcast
of the (small) benchmark n-gram set per batch is the batch query's
own scale plan (at 100 TB a bloom filter pushed into the scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import shingle_postings
from ..workload.decontam import _DC_N, contamination_stats
from .versioned import fold_version, read_latest, run_fold_stream

_STATE_SCHEMA = (
    "doc_id bigint, n_shingles bigint, n_hit bigint, "
    "contamination_rate double, contaminated boolean"
)


def freeze_benchmark(bench_docs: DataFrame, ref_dir: str) -> None:
    """Write the benchmark's distinct n-grams once (doc_id, text
    frame); the monitor never rescans the benchmark."""
    shingle_postings(bench_docs, "doc_id", "text", _DC_N).select(
        "shingle"
    ).distinct().write.mode("overwrite").parquet(ref_dir)


def _merge_with(bench: DataFrame):
    def _merge(state: DataFrame, delta: DataFrame) -> DataFrame:
        fresh = contamination_stats(bench, docs=delta)
        # one ledger row per doc, DELTA WINS (r15 ADVICE): the prior
        # row is anti-joined away before the union, so the merge has
        # deterministic last-write-wins semantics. While the frozen
        # benchmark never changes the two rows are identical and this
        # is a pure replay/re-ingest idempotence guard — but if
        # freeze_benchmark is ever re-run with a different reference
        # set, the re-scored row deterministically replaces the stale
        # one instead of an arbitrary dropDuplicates survivor.
        w_cols = [
            "doc_id",
            "n_shingles",
            "n_hit",
            "contamination_rate",
            "contaminated",
        ]
        return (
            state.select(*w_cols)
            .join(fresh.select("doc_id"), "doc_id", "left_anti")
            .unionByName(fresh.select(*w_cols).dropDuplicates(["doc_id"]))
        )

    return _merge


def apply_doc_batch(
    batch: DataFrame, batch_id: int, state_dir: str, ref_dir: str
) -> None:
    """Score one (doc_id, text) micro-batch against the frozen
    benchmark and fold the ledger. Idempotent under foreachBatch
    replay."""
    bench = batch.sparkSession.read.parquet(ref_dir)
    fold_version(batch, batch_id, state_dir, _STATE_SCHEMA, _merge_with(bench))


def monitor_stream(
    docs: DataFrame,
    state_dir: str,
    ref_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Run the decontamination guard over a (doc_id, text) document
    stream."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_doc_batch(batch, batch_id, state_dir, ref_dir)

    return run_fold_stream(docs, _apply, checkpoint_dir, trigger)


def read_contamination(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing contamination ledger — the batch query's exact
    output shape over every doc folded so far; empty before any batch
    folds."""
    return read_latest(spark, state_dir, _STATE_SCHEMA)
