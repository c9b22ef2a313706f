"""Idempotent versioned state folding for foreachBatch sinks — the
exactly-once discipline behind every streaming twin that keeps state
in parquet (``streaming/mv.py``, the DQ monitors, the model trainer,
the entity and dedup registries), plus the three pieces each of them
would otherwise hand-copy around it.

foreachBatch is at-least-once; folding a batch into standing state is
not idempotent naively. The fix is one rule: batch ``b`` reads the
latest committed version with id < ``b`` and writes ``dir/v=<b>`` —
a replayed batch re-reads the same predecessor and overwrites its own
version with identical content, so the fold is exactly-once by
construction (the delta-log discipline of a transactional table
format, reduced to the one sequence number foreachBatch already
guarantees monotone). Readers take the max committed version; versions
beyond a retention count are pruned (time travel for free until then).
Listing, commit markers and pruning go through ``store.py``, the one
committed-version store the ETL snapshot shares, so a state dir is
any Hadoop FileSystem path.

The shared pieces:

- ``Fold(schema, merge)`` — a monitor's whole versioned-state
  contract: the state schema and the ``merge(prior, batch)`` that
  folds one micro-batch into it. ``apply`` folds one batch
  (``fold_version``), ``stream`` runs the fold over a stream
  (``run_fold_stream``), ``read`` returns the current state
  (``read_latest``). A monitor module is its schema, its merge and
  its read-side formula; its public ``apply_*_batch`` /
  ``monitor_stream`` names are bindings of one ``Fold``'s methods.
- ``run_fold_stream(stream, apply, checkpoint_dir, trigger)`` — the
  one foreachBatch + checkpoint + trigger sink every fold stream and
  every per-batch append stream starts through.
- ``parquet_stream(spark, path, schema)`` — the file-source stand-in
  for a topic that every fixed-schema stream reader returns.

Two state layouts share the exactly-once rule and the store:

- ``fold_version`` — each version is the FULL state as one parquet
  dir, committed by the ``_SUCCESS`` file of Spark's job commit. Right for kilobyte states (psi bands, fsem's 8 counts); wrong
  for state that grows with the corpus, where rewriting everything per
  micro-batch makes fold IO O(|state|) even when the batch touched a
  sliver (the r12 verdict's watch-item #1).
- ``fold_version_partitioned`` — the state is hash-partitioned on a
  key; a fold writes ONLY the partitions whose content changed and
  carries every untouched partition forward BY REFERENCE through a
  per-version manifest (pid → owning version), the delta-style
  copy-forward layout; the manifest is the version's commit marker. Fold write-IO is ∝ touched partitions; reads
  stitch the manifest. Changed-partition detection is a per-partition
  fingerprint (count + sum of row hashes) compared between the merged
  state and its predecessor — two partial-aggregated passes, no
  full-row join, and a fingerprint-equal partition is skipped even if
  the merge recomputed it.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import store
from ..runtime import materialize, scoped_plan_refs

_PREFIX = "v="
#: the flat layout's commit marker, written by Spark's job commit
_SUCCESS = "_SUCCESS"
#: the partitioned layout's commit marker, written last (``store.commit``)
_MANIFEST = "manifest.json"


def _committed(spark: SparkSession, state_dir: str, marker: str) -> list[int]:
    """Committed version ids, ascending: a version directory counts
    once its ``marker`` exists, so a reader racing a write (or a
    version left half-written by a crash) never sees it as latest —
    the crashed batch's replay overwrites the partial dir."""
    return sorted(int(v) for v in store.committed(spark, state_dir, _PREFIX, marker))


def _prune(spark: SparkSession, state_dir: str, keep: set[int]) -> None:
    store.prune(spark, state_dir, _PREFIX, {str(v) for v in keep})


def read_latest(
    spark: SparkSession, state_dir: str, schema: str, before: int | None = None
) -> DataFrame:
    """The current (max committed version) state; with ``before``, the
    latest committed version with id < ``before`` — the replay-safe
    prior a fold of batch ``before`` merges against. An empty frame
    with ``schema`` when no such version exists."""
    versions = [
        v for v in _committed(spark, state_dir, _SUCCESS) if before is None or v < before
    ]
    if not versions:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(f"{state_dir}/v={versions[-1]}")


def fold_version(
    delta: DataFrame,
    batch_id: int,
    state_dir: str,
    schema: str,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    retain_versions: int = 3,
) -> None:
    """Fold one micro-batch into the versioned state: read the latest
    version with id < ``batch_id`` (empty ``schema`` frame if none),
    apply ``merge(prior, delta)``, write ``v=<batch_id>``, prune old
    versions. Idempotent under batch replay — see module docstring."""
    if retain_versions < 2:
        # 1 breaks exactly-once: the fold writes v=b then pruning
        # deletes v=b-1, so a crash BEFORE batch b's checkpoint commit
        # replays b against no prior version and silently resets the
        # standing state to the lone delta. The predecessor must
        # survive until the checkpoint commit is durable, so >= 2.
        # (0 is worse still — it prunes the version just written.)
        raise ValueError(f"retain_versions must be >= 2, got {retain_versions}")
    spark = delta.sparkSession
    prior = read_latest(spark, state_dir, schema, before=batch_id)
    # scoped plan-ref retention: any materialize() inside merge() has
    # its final action run by the write below, so the refs (which keep
    # SQLMetrics registered — runtime._PLAN_REFS) are needed only for
    # the fold's duration; a standing stream must not pin 512 plans
    with scoped_plan_refs():
        merge(prior, delta).write.mode("overwrite").parquet(
            f"{state_dir}/v={batch_id}"
        )
    _prune(spark, state_dir, set(_committed(spark, state_dir, _SUCCESS)[-retain_versions:]))


def run_fold_stream(
    stream: DataFrame,
    apply: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start ``stream`` with every micro-batch handed to
    ``apply(batch, batch_id)`` and progress checkpointed in
    ``checkpoint_dir``. ``trigger`` is the deployment setting passed to
    ``writeStream.trigger``: the default ``availableNow`` drains what
    exists and FINISHES (tests, catch-up runs); a live feed needs
    ``{"processingTime": "..."}`` or the query stops after the initial
    drain. A batch whose ``apply`` raises fails the query without
    committing that batch, so a restart from the same checkpoint
    replays it — exactly-once when ``apply`` is a versioned fold."""
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def parquet_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of ``schema`` rows under ``path`` — the test
    stand-in for a Kafka topic. ``max_files_per_trigger`` caps each
    micro-batch (tests use 1 so a multi-file replay actually crosses
    micro-batch boundaries)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


@dataclass(frozen=True)
class Fold:
    """A flat-layout versioned fold: the state ``schema`` and the
    ``merge(prior, batch)`` folding one micro-batch into it."""

    schema: str
    merge: Callable[[DataFrame, DataFrame], DataFrame]

    def apply(
        self,
        batch: DataFrame,
        batch_id: int,
        state_dir: str,
        retain_versions: int = 3,
    ) -> None:
        """Fold one micro-batch into the state under ``state_dir``.
        Idempotent under foreachBatch replay."""
        fold_version(
            batch, batch_id, state_dir, self.schema, self.merge, retain_versions
        )

    def stream(
        self,
        events: DataFrame,
        state_dir: str,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        """Fold every micro-batch of ``events`` (``run_fold_stream``)."""
        return run_fold_stream(
            events,
            lambda batch, batch_id: self.apply(batch, batch_id, state_dir),
            checkpoint_dir,
            trigger,
        )

    def read(self, spark: SparkSession, state_dir: str) -> DataFrame:
        """The current state; empty before any batch folds."""
        return read_latest(spark, state_dir, self.schema)


# ---------------------------------------------------------------------------
# Partitioned layout: fold write-IO ∝ touched partitions, not |state|
# ---------------------------------------------------------------------------


def _manifest(spark: SparkSession, state_dir: str, version: int) -> dict:
    return json.loads(store.marker_content(spark, f"{state_dir}/v={version}", _MANIFEST))


def _stitch(
    spark: SparkSession, state_dir: str, manifest: dict, schema: str
) -> DataFrame:
    """The full logical state a manifest describes: each partition read
    from the version that owns it (``_pid`` partition pruning), owners
    grouped so each contributing version is scanned once."""
    cols = spark.createDataFrame([], schema).columns
    by_owner: dict[int, list[int]] = {}
    for pid_s, owner in manifest["pids"].items():
        by_owner.setdefault(int(owner), []).append(int(pid_s))
    if not by_owner:
        return spark.createDataFrame([], schema)
    parts = [
        spark.read.parquet(f"{state_dir}/v={owner}/data")
        .filter(F.col("_pid").isin(pids))
        .select(*cols)
        for owner, pids in sorted(by_owner.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_latest_partitioned(
    spark: SparkSession, state_dir: str, schema: str
) -> DataFrame:
    """The current state of a partitioned-layout dir; empty frame with
    ``schema`` when no version was ever committed."""
    versions = _committed(spark, state_dir, _MANIFEST)
    if not versions:
        return spark.createDataFrame([], schema)
    return _stitch(spark, state_dir, _manifest(spark, state_dir, versions[-1]), schema)


def fold_version_partitioned(
    delta: DataFrame,
    batch_id: int,
    state_dir: str,
    schema: str,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    key_cols: tuple[str, ...],
    num_partitions: int = 64,
    retain_versions: int = 3,
    compact_every: int | None = None,
    compact_dispersion: int | None = None,
) -> None:
    """``fold_version`` for state that GROWS with the corpus (the ER
    registry's vocabulary, the dedup registry's postings index): the
    state is hash-partitioned on ``key_cols`` into ``num_partitions``
    buckets, and a fold WRITES only the buckets whose content changed —
    every untouched bucket is carried forward by reference in the
    version's manifest (pid → owning version), so fold write-IO is
    ∝ touched partitions while ``read_latest_partitioned`` still
    reconstructs the full state exactly.

    Same exactly-once discipline as ``fold_version``: batch ``b``
    merges against the latest committed version < ``b``; the manifest
    (written last, atomic rename) is the commit marker, so a crash
    mid-write leaves an uncommitted dir the replay decommits and
    overwrites. A replayed batch recomputes the identical touched set
    and identical bucket contents, and rewrites its own version.

    Changed-bucket detection compares per-bucket fingerprints
    (row count + SUM of xxhash64 over all columns, summed as
    decimal(38,0) — ANSI-safe) between ``merge(prior, delta)`` and
    ``prior``: two partial-aggregated passes whose output is
    ``num_partitions`` rows, never a full-row join. A fingerprint
    collision (a changed bucket summing to its old fingerprint,
    ~2^-64 per bucket-fold) would skip one rewrite — the standard
    content-hash trade, same family as every hash-keyed dedup here.

    ``merge`` still receives the FULL prior state (folds like the ER
    registry need it as the probe index); the savings target is the
    WRITE side, which was the r12 verdict's O(|state|)-per-micro-batch
    watch-item. ``num_partitions`` is pinned per state dir (validated
    against the prior manifest): at 100 TB size it so one bucket ≪
    executor memory and a typical batch touches a small subset.

    Retention: the last ``retain_versions`` manifests survive, PLUS
    every older version still owning a bucket referenced by one of
    them (reference-counted pruning). References keep data live
    indefinitely without copying it forward — but they also DISPERSE:
    a bucket untouched for 1000 folds lives in a 1000-fold-old
    version, so reads stitch ever more owner versions (each a
    file-listing + footer round) and old dirs never prune. Pass
    ``compact_every=N`` to make every Nth fold a COMPACTING fold that
    force-rewrites all live buckets into its own version — the
    manifest re-homes to one owner, dispersion resets, and every
    older version prunes once it ages past retention. Replay-safe:
    whether a fold compacts depends only on ``batch_id``, so a replay
    makes the identical choice.

    ``compact_dispersion=K`` is the ADAPTIVE policy: compact whenever
    the PRIOR manifest already references >= K distinct owner
    versions — the cost model the SCALING.md granularity probe prices
    (each extra owner version is one more file-listing + footer round
    per stitch; compaction trades ONE full-state write for resetting
    that read amplification to 1). The decision reads only the prior
    manifest — metadata, no data scan — and the prior manifest of
    batch ``b`` is the same on every replay of ``b``, so the choice is
    replay-deterministic exactly like the modulo policy. Both policies
    compose (either trigger compacts); a workload with uniform touch
    patterns sizes ``compact_every``, one with skewed/bursty touches
    lets dispersion decide.
    """
    if retain_versions < 2:
        # same argument as fold_version: the predecessor must survive
        # until the stream checkpoint commit is durable
        raise ValueError(f"retain_versions must be >= 2, got {retain_versions}")
    spark = delta.sparkSession
    prior, prior_manifest = read_version_before_partitioned(
        spark, state_dir, batch_id, schema, num_partitions
    )
    dispersion = len({int(o) for o in prior_manifest["pids"].values()})
    compact = (
        compact_every is not None
        and batch_id > 0
        and batch_id % compact_every == 0
    ) or (compact_dispersion is not None and dispersion >= compact_dispersion)
    with scoped_plan_refs():
        new_full = merge(prior, delta)
        commit_version_partitioned(
            new_full,
            batch_id,
            state_dir,
            schema,
            key_cols,
            prior,
            prior_manifest,
            retain_versions,
            force_rewrite_all=compact,
        )


def read_version_before_partitioned(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    schema: str,
    num_partitions: int,
) -> tuple[DataFrame, dict]:
    """(state, manifest) of the latest committed version with id <
    ``batch_id`` — the replay-safe prior read (a crashed/replayed
    attempt at ``batch_id`` itself is never its own predecessor).
    Returns an empty frame and a fresh manifest when none exists."""
    prior_ids = [v for v in _committed(spark, state_dir, _MANIFEST) if v < batch_id]
    if not prior_ids:
        return (
            spark.createDataFrame([], schema),
            {"num_partitions": num_partitions, "pids": {}},
        )
    prior_manifest = _manifest(spark, state_dir, prior_ids[-1])
    if prior_manifest["num_partitions"] != num_partitions:
        raise ValueError(
            f"state dir {state_dir} was folded with num_partitions="
            f"{prior_manifest['num_partitions']}, got {num_partitions} — "
            "the bucket count is pinned per state dir"
        )
    return _stitch(spark, state_dir, prior_manifest, schema), prior_manifest


def commit_version_partitioned(
    new_full: DataFrame,
    batch_id: int,
    state_dir: str,
    schema: str,
    key_cols: tuple[str, ...],
    prior: DataFrame,
    prior_manifest: dict,
    retain_versions: int = 3,
    force_rewrite_all: bool = False,
) -> None:
    """Write ``new_full`` as version ``batch_id`` of the partitioned
    layout: fingerprint-diff against ``prior``, write only changed
    buckets, manifest-reference the rest, prune. The lower half of
    ``fold_version_partitioned``, public for folds that maintain
    SEVERAL state tables from one computation (``streaming/
    corpus_dedup.py`` reads both priors, computes once, commits each
    table) — such folds order their commits so the consumer-visible
    table commits LAST: a crash between commits leaves internal state
    ahead of the visible table for one replay, never behind it.
    ``force_rewrite_all``: write EVERY live bucket (compaction — the
    fingerprint compare is skipped; one fingerprint pass still finds
    the live pids)."""
    spark = new_full.sparkSession
    num_partitions = prior_manifest["num_partitions"]
    vdir = f"{state_dir}/v={batch_id}"
    # decommit a previous (crashed or replayed) attempt at this version
    # BEFORE touching its data, so no reader sees committed-but-
    # rewriting state
    store.withdraw(spark, vdir, _MANIFEST)

    cols = spark.createDataFrame([], schema).columns
    pid = F.pmod(F.xxhash64(*key_cols), F.lit(num_partitions)).cast("int")

    # the merged state feeds two consumers (fingerprint agg + the
    # touched-bucket write); materialize once
    new_full = materialize(new_full.select(*cols))

    def fingerprint(df: DataFrame) -> DataFrame:
        return df.groupBy(pid.alias("_pid")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("fp"),
        )

    if force_rewrite_all:
        live = {r["_pid"] for r in fingerprint(new_full).collect()}
        # every bucket ever owned plus every live bucket re-homes here
        touched = live | {int(p) for p in prior_manifest["pids"]}
        live_touched = live
    else:
        cmp = (
            fingerprint(new_full)
            .withColumnsRenamed({"cnt": "cnt_new", "fp": "fp_new"})
            .join(
                fingerprint(prior).withColumnsRenamed(
                    {"cnt": "cnt_old", "fp": "fp_old"}
                ),
                ["_pid"],
                "full_outer",
            )
            .collect()
        )
        touched = {
            r["_pid"]
            for r in cmp
            if r["cnt_new"] != r["cnt_old"] or r["fp_new"] != r["fp_old"]
        }
        live_touched = {
            r["_pid"]
            for r in cmp
            if r["_pid"] in touched and (r["cnt_new"] or 0) > 0
        }
    if touched:
        (
            new_full.withColumn("_pid", pid)
            .filter(F.col("_pid").isin(list(touched)))
            .write.mode("overwrite")
            .partitionBy("_pid")
            .parquet(f"{vdir}/data")
        )

    pids = {
        p: o for p, o in prior_manifest["pids"].items()
        if int(p) not in touched
    }
    pids |= {str(p): batch_id for p in live_touched}
    manifest = {"num_partitions": num_partitions, "pids": pids}
    store.commit(spark, vdir, _MANIFEST, json.dumps(manifest, sort_keys=True).encode("utf-8"))

    keep = set(_committed(spark, state_dir, _MANIFEST)[-retain_versions:])
    referenced = {
        int(owner) for v in keep for owner in _manifest(spark, state_dir, v)["pids"].values()
    }
    _prune(spark, state_dir, keep | referenced)
