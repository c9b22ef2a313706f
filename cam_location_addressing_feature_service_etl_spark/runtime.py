"""Execution-mode helpers shared by the iterative operator family.

The iterative operators (connected components, PageRank, BPE rounds,
power iteration, the shingle-postings fan-outs) all need to cut lineage
and materialize an intermediate frame that feeds several plan branches
— otherwise the producing subtree re-executes once per branch and the
per-round plans grow without bound.

``materialize`` is the single switch point for HOW that happens:

- ``local`` (default): ``DataFrame.localCheckpoint`` — blocks live on
  executor-local disk/memory. Fastest, and correct on ``local[*]``,
  but NOT fault-tolerant on a real cluster: losing an executor loses
  its blocks and the job fails (lineage was truncated, so Spark cannot
  recompute them).
- ``reliable``: ``DataFrame.checkpoint`` to the configured checkpoint
  directory (``SPARK_GRAFT_CHECKPOINT_DIR``, default
  ``/tmp/spark-graft-checkpoints``) — survives executor loss, the mode
  to run at cluster scale where a 1000-executor job losing one node
  mid-iteration must not restart from zero. Costs a write+read of the
  frame per materialization.

Select with ``SPARK_GRAFT_MATERIALIZE=local|reliable``. Both modes are
semantically identical (asserted by ``tests/test_runtime.py``); the
choice is purely a durability/throughput trade.

Measured caveat (r9): a materialized frame does NOT carry its
outputPartitioning through the checkpoint boundary on this Spark
build — a ``repartition(k, key)`` before ``materialize`` still
re-exchanges on the next join, so pre-partitioning across a
checkpoint buys nothing. If a downstream stage must reuse a
partitioning, ``persist()`` the repartitioned frame instead
(InMemoryTableScan preserves it) — but measure first: in the
label-propagation A/B the persisted-aligned plan LOST to
checkpoint+AQE (SCALING.md r9), because AQE's runtime broadcast
choice beat the saved exchange.

Use as ``df.transform(materialize)`` so call sites stay chainable.
"""

from __future__ import annotations

import os
import threading
from collections import deque
from contextlib import contextmanager

from pyspark.sql import DataFrame

#: Strong references to recently-materialized plans (both sides of the
#: checkpoint boundary). WHY (diagnosed r12, reproduced 84× in one
#: bench-shaped loop): a LAZY checkpoint's producing subtree executes
#: at the query's FINAL action, but the Python wrappers of the
#: intermediate frames die as the builder function returns — a natural
#: JVM GC in between drops their Datasets, whose SparkPlan nodes are
#: the only strong owners of the plan's SQLMetrics, and
#: AccumulatorContext holds accumulators WEAKLY. The task binaries
#: still carry the accumulator IDs, so when the action finally runs
#: the subtree, every task-completion event reports updates for
#: unregistered ids and DAGScheduler logs "Failed to update
#: accumulator N ... attempted to access non-existent accumulator" —
#: benign (only metrics are lost; results are unaffected) but an
#: ERROR-level flood. Holding the wrappers here keeps the metrics
#: registered until the action has run; the bounded deque evicts
#: oldest-first (evicted plans belong to long-finished queries —
#: far above any single query's materialize count, so a running
#: query's refs are never evicted).
_PLAN_REFS: deque[DataFrame] = deque(maxlen=512)


def release_plan_refs() -> None:
    """Drop the strong plan references (see ``_PLAN_REFS``). Benchmark
    harnesses call this between timed windows, right before forcing
    GC, so retained plans never leak memory across a 195-query run."""
    _PLAN_REFS.clear()


#: thread-local override for scoped retention (see scoped_plan_refs)
_SCOPED = threading.local()


@contextmanager
def scoped_plan_refs():
    """Collect this thread's ``materialize`` plan refs into a scope
    dropped at exit, instead of the process-wide 512-deque — for
    long-lived services (the ``streaming/versioned.py`` foreachBatch
    folds) where every plan's final action completes INSIDE the scope,
    so nothing needs retention beyond it. Without this, a standing
    stream pins the last 512 plans (and their JVM Datasets)
    indefinitely; with it, retention is bounded by one fold's plans.
    Thread-local so a fold never drops refs belonging to queries on
    other threads; nests by restoring the enclosing scope."""
    prev = getattr(_SCOPED, "refs", None)
    _SCOPED.refs = []
    try:
        yield
    finally:
        _SCOPED.refs = prev


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage and materialize ``df`` lazily (on first action).

    See module docstring for the ``SPARK_GRAFT_MATERIALIZE`` switch.
    """
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
    if mode == "reliable":
        spark = df.sparkSession
        sc = spark.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(
                os.environ.get(
                    "SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/spark-graft-checkpoints"
                )
            )
        out = df.checkpoint(eager=False)
    elif mode == "local":
        out = df.localCheckpoint(eager=False)
    else:
        raise ValueError(f"unknown SPARK_GRAFT_MATERIALIZE mode: {mode!r}")
    refs = getattr(_SCOPED, "refs", None)
    if refs is not None:
        refs.append(df)
        refs.append(out)
    else:
        _PLAN_REFS.append(df)
        _PLAN_REFS.append(out)
    return out
