"""Streaming document classification — train offline, score the
stream: a continuous feed of documents is scored per micro-batch
against a PERSISTED Naive Bayes model (the streaming twin of
``text_nb_langid_classifier``'s scoring half, and the classifier
member of the train-offline/apply-online family next to
``streaming/linkage.py``).

Classification is stateless per document — a doc's label depends only
on the model, never on other docs or earlier batches — so the right
streaming operator is ``foreachBatch`` over the exact batch scoring
function (``workload.llm_text.nb_score``, the SAME function the batch
query runs, so the legs cannot drift), not a stateful map. The union
of per-batch predictions over any micro-batch split equals the batch
scoring of the whole feed (``tests/test_streaming_classify.py``).

Scale shape: the model is the small fixed side — counts are
vocab × labels (persist once, broadcast by AQE), stats is label-count
rows — and per-batch work is ∝ batch tokens. Model REFRESH composes
with ``text_nb_incremental_train``'s mergeable counts: fold each day's
count table into the model between (not during) batches, the
classifier analogue of swapping a snapshot. At-least-once parquet
append, same contract as the linkage stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..workload.llm_text import nb_merge_counts, nb_score, nb_token_counts
from .versioned import Fold, parquet_stream, run_fold_stream

DOC_SCHEMA = "doc_id bigint, text string"


LABELED_SCHEMA = "doc_id bigint, lang string, text string"

#: STREAMING TRAINING — the other half of the classifier loop: each
#: micro-batch of labeled docs (``LABELED_SCHEMA``) contributes its own
#: map-side-combined (label, token) count table, folded into the
#: versioned model with ``nb_merge_counts`` (training is mergeable —
#: ``text_nb_incremental_train`` pins counts-from-batches == one-shot).
#: After any prefix of batches the model equals batch training on the
#: union of those batches' docs, so train and score streams compose:
#: retrain between scoring batches by re-reading ``read_model``.
MODEL_FOLD = Fold(
    "lbl string, tok string, cnt bigint",
    lambda prior, batch: nb_merge_counts(prior, nb_token_counts(batch)),
)
#: run training over a labeled-doc stream into a model dir
train_model_stream = MODEL_FOLD.stream
#: the current count-table model; empty when untrained
read_model = MODEL_FOLD.read


def read_doc_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of (doc_id, text) — the test stand-in for a
    Kafka document feed."""
    return parquet_stream(spark, path, DOC_SCHEMA, max_files_per_trigger)


def classify_stream(
    doc_stream: DataFrame,
    counts: DataFrame,
    stats: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Score every micro-batch of ``doc_stream`` against the fitted
    model (``counts``/``stats`` from ``workload.llm_text.nb_fit`` —
    persist them; every batch reuses both) and append
    (doc_id, pred_lang, nb_score) to ``out_dir``."""

    def _score_batch(batch: DataFrame, _batch_id: int) -> None:
        nb_score(batch, counts, stats).write.mode("append").parquet(out_dir)

    return run_fold_stream(doc_stream, _score_batch, checkpoint_dir, trigger)
