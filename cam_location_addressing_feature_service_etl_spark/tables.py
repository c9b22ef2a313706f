"""Testdata / snapshot table access.

The reference restores state by locating the *latest* snapshot key on
S3 (descending-lex sort, ``address_etl/s3.py:37-46,111-121``) and
attaching it. Here the equivalent is a partitioned parquet snapshot
directory (``snapshot.py``); for query inputs we read the driver's
parquet tables.

Reads are plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown + column pruning: a downstream ``select``/``filter`` reaches
the scan (verify with ``df.explain('formatted')`` → ``PushedFilters``
/ ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import TESTDATA_TABLES
from .session import tune

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: tables whose queries are dominated by per-row compute (tokenize /
#: shingle / vector math) rather than shuffle — worth widening a
#: narrow scan for (see ``_widen_narrow_scan``).
_COMPUTE_HEAVY = {"documents", "embeddings"}


#: Widening rationale: parquet splits at row-group granularity, so a
#: small single-file table (one row group) is ONE task no matter how
#: many cores exist — the expensive per-row work downstream (regex
#: tokenization, shingling, embedding arithmetic) would run
#: single-threaded (measured at sf0.1/local[32]: shingle-postings
#: materialization 2.8s → sub-second after widening). At 100 TB the
#: scan already has thousands of splits, the probe returns False, and
#: no extra shuffle is added. Catalyst pushes filters and prunes
#: columns through Repartition, so scan pushdown is unaffected.
#:
#: per-(sf_dir, table) memo of (schema, needs_widening): the parquet
#: footer and the physical-plan probe are metadata work that is
#: IDENTICAL for every query over the same static testdata file —
#: re-deriving them per query added ~10s across a 118-query bench run.
_SCAN_MEMO: dict[tuple[str, str], tuple] = {}


def load(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = False
) -> DataFrame:
    """Load one testdata table. Never caches DATA: each query still
    forms a single scan-to-result plan so pushdown happens per-query;
    only scan METADATA (schema, parallelism probe) is memoized.

    ``widen=True`` opts THIS call into the compute-parallelism
    repartition (same probe/memo as the ``_COMPUTE_HEAVY`` tables):
    for queries whose expensive stage is map-side work BEFORE the
    first exchange (sketch builds, md5 fan-outs, multi-countDistinct
    Expands), a narrow single-row-group file would otherwise pin that
    work to ONE task (guide §2.5 input skew / §6 split sizing). The
    probe keeps it scale-safe: at 100 TB the scan already has many
    splits, the probe returns False, and no exchange is added."""
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo = _SCAN_MEMO.get((sf_dir, name))
    if memo is None:
        df = spark.read.parquet(path)
        few_splits = (
            df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
        )
        _SCAN_MEMO[(sf_dir, name)] = (df.schema, few_splits)
    else:
        schema, few_splits = memo
        df = spark.read.schema(schema).parquet(path)
    if few_splits and (widen or name in _COMPUTE_HEAVY):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    if name == "events":
        # ts arrives either as parquet TIMESTAMP(NANOS) read as long
        # (nanosAsLong — integer-divide to µs; double division would
        # lose precision past 2^53) or already as a µs timestamp,
        # depending on the generator's parquet writer version. Accept
        # both so the engine is schema-adaptive like the reference's
        # layer probe (address_etl/geocode.py:148-187).
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # session tz is pinned UTC (session.py), so NTZ→LTZ keeps
            # the same instant the nanos path produced; downstream
            # unix_millis/unix_micros require the LTZ type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tuned(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """``session.tune`` the session, then ``load`` each named table —
    the preamble of a workload query builder."""
    tune(spark)
    return [load(spark, sf_dir, n) for n in names]
