"""SparkSession construction and per-session tuning.

The engine targets a large multi-executor cluster; locally we run
``local[$SPARK_GRAFT_CPUS]``. Every knob set here is chosen for scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy demotion are what keep the
  100 TB plans healthy without hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces it down on small inputs and the advisory target keeps
  post-shuffle partitions near 64 MB at scale.
- Arrow enabled for the (rare) pandas interchange paths
  (``mapInPandas`` multimodal plumbing, ``toPandas`` in tests).
- Session timezone pinned to UTC so timestamp semantics are stable
  regardless of host timezone (the reference pins Australia/Brisbane
  at its output edge only — see functions.scalars.to_brisbane).
- The cache of compiled generated classes holds ``CODEGEN_CACHE_ENTRIES``
  (500; Spark's default is 100). The engine repeats its plans in one
  session: a ``query_mix`` pass (the ETL's relational stages as 12
  standalone queries) generates ≈ 150 distinct classes, a cold plus
  incremental ``run_etl`` sequence ≈ 130, and an iterative operator
  repeats its round's classes every round. An LRU cache facing a
  cyclic working set larger than itself misses on every access, so at
  100 entries every repeated ``query_mix`` pass recompiled 129–136
  classes through Janino (and every warm incremental ``run_etl`` at
  60k addresses 17–36), and the JIT then compiled each freshly loaded
  class's methods again. At 500 the repeated passes compile none.
  After five ``query_mix`` passes at sf0.01 on 4 vCPU, metaspace
  (154.6 MiB) and the code heaps (65 MiB) read the same at both sizes
  (``MemoryPoolMXBean``). The value does not depend on the workload,
  so it is a constant, not a knob. It is a static conf: it only takes
  effect in a session this module builds, ``tune()`` cannot apply it
  to a session the driver hands us, and such a session keeps Spark's
  default.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

#: entries in Spark's cache of compiled generated classes
#: (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100)
CODEGEN_CACHE_ENTRIES = 500

#: conf applied when *we* build the session (builder-time only).
_BUILDER_CONF = {
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    # The stage progress bar writes \r-terminated lines that clobber
    # adjacent stdout records (4 PARITY_r09.txt OK lines were lost to
    # it); harness output must be line-oriented and replayable.
    "spark.ui.showConsoleProgress": "false",
    # ContextCleaner frees localCheckpoint/shuffle blocks only after a
    # JVM GC proves the RDD unreachable; with a large heap full GCs are
    # rare and dead blocks accumulate across a long session (the bench
    # runs 100+ queries in one JVM). Periodic GC keeps cleanup timely.
    # Overridable because the timer's System.gc() lands at an arbitrary
    # point — the bench was observed absorbing a ~10s full-GC pause
    # INTO one query's wall time (a 3.9s query read as 15.5s); bench.py
    # raises the interval and instead triggers GC explicitly BETWEEN
    # timed queries.
    "spark.cleaner.periodicGC.interval": os.environ.get(
        "SPARK_GRAFT_PERIODIC_GC", "2min"
    ),
    # Compiled generated classes cached per JVM (a static conf: see the
    # module docstring for the working sets this size holds).
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
}

#: conf safe to (re)apply on any session at runtime, including one the
#: driver hands us. All of these are runtime-settable SQL confs.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Join strategy (guide §3.1/§9): let the planner pick shuffled-hash
    # over sort-merge when its size conditions hold (skips both sides'
    # sorts), and let AQE demote a planned SMJ to SHJ at runtime when
    # every post-shuffle partition's map output is under the advisory
    # size. Scale story: SHJ eligibility is size-GATED per partition
    # (not a blanket hint), AQE skew-split applies to SHJ as to SMJ,
    # and a build side that exceeds the threshold keeps sort-merge —
    # so at 100 TB the demotion simply stops firing where it would
    # OOM. A/B-measured this round (OPTIMIZATION_r16.md §C4).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64MB",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4's DataFrame-debugging layer wraps EVERY DataFrame/Column
    # API call in _with_origin: per call one getActiveSession + a
    # spark.conf.get RPC + a PySparkCurrentOrigin.set/clear RPC pair +
    # a Python stack walk — 3+ py4j round-trips of pure driver overhead
    # per builder call, bought back only as call-site strings in error
    # messages. Profiled on this workload (guide §1.1 driver
    # attribution): the wrapper accounted for 3-5s of the two registry
    # queries' build time alone (650-960 wrapped calls each) and ~10%
    # of total bench wall. Plans, results and exceptions themselves
    # are unchanged — only the error-context decoration is skipped.
    # Scale story: this is DRIVER planning overhead, the same at any
    # data size; a 100 TB deployment wants it off even more (guide
    # §7.3 — planning time is single-threaded driver work).
    # NOTE: pyspark caches the flag at the FIRST decorated call, so it
    # must be in the session's conf at creation (builder conf below) —
    # tune() also sets it for driver-owned sessions, which takes
    # effect when the driver's first DataFrame op happens after tune()
    # (and is harmless otherwise). SPARK_GRAFT_DF_DEBUG=1 is the
    # escape hatch for failure investigations: it re-enables origin
    # capture (call-site context in error messages) without editing
    # this file (r16 ADVICE).
    "spark.python.sql.dataFrameDebugging.enabled": (
        "true" if os.environ.get("SPARK_GRAFT_DF_DEBUG") == "1" else "false"
    ),
    # events.parquet stores TIMESTAMP(NANOS); Spark's reader rejects it
    # unless nanos are surfaced as long (converted back in tables.load).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # the esri Python data source implements pushFilters; Spark refuses
    # to initialize such readers unless this is on.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def get_spark(app_name: str = "cam-etl-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession sized from the env."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in _BUILDER_CONF.items():
        builder = builder.config(k, v)
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally-provided session.

    The correctness driver owns its own SparkSession; queries call this
    so timezone/AQE semantics are identical either way. Also ships this
    package to the executors (mapInPandas kernels pickle by reference,
    so workers must be able to import it even when the driver process
    didn't start inside the repo).
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except (PySparkException, Py4JError):  # pragma: no cover
            # AnalysisException("Cannot modify the value of a static
            # config") on deployments where one of these was fixed at
            # launch; the session then keeps its launch-time value.
            pass
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """addPyFile a zip of this package once per session (idempotent)."""
    if getattr(spark, "_cam_pkg_shipped", False):
        return
    try:
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        zpath = os.path.join(
            tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
        )
        if not os.path.exists(zpath):
            with zipfile.ZipFile(zpath, "w") as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for fn in files:
                        if fn.endswith(".py"):
                            full = os.path.join(root, fn)
                            rel = os.path.join(
                                pkg_name, os.path.relpath(full, pkg_dir)
                            )
                            zf.write(full, rel)
        spark.sparkContext.addPyFile(zpath)
        spark._cam_pkg_shipped = True
    except (OSError, AttributeError, PySparkException, Py4JError):  # pragma: no cover
        # OSError: tmpdir unwritable / zip IO; AttributeError: no
        # sparkContext (Spark Connect); PySpark/Py4J: addPyFile
        # rejected JVM-side. In all cases the driver-local import path
        # still works (local[*]), so shipping is best-effort.
        pass
