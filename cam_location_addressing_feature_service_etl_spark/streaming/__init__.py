"""Structured Streaming surface.

The reference has none (SURVEY §2.10) — its only Kafka use is a
single-message producer and its incrementality is batch-level. These
modules provide the streaming equivalents a continuous deployment
would use: watermarked windowed aggregation and session windows over
an event stream, with batch-equivalent semantics (the batch forms in
``workload/events.py`` carry the DuckDB correctness checks).

Twins that keep their state in parquet share ``versioned.py``:

- ``Fold(schema, merge)`` — a monitor is a state schema plus the merge
  folding one micro-batch into it; ``apply`` / ``stream`` / ``read``
  give exactly-once folding, the streaming run and the current state.
  A monitor module holds only its schema, its merge and its read-side
  formula.
- ``run_fold_stream`` — the one foreachBatch + checkpoint + trigger
  sink, for folds and for per-batch append sinks alike.
- ``parquet_stream`` — the fixed-schema file-source reader every
  ``read_*_stream`` returns.

The ``applyInPandasWithState`` twins (``stateful.py``, ``cusum.py``,
``ewma.py``, ...) keep their state in the Spark state
store and do not fold.
"""
