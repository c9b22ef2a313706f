"""Stable dense surrogate-id assignment — SURVEY §2.9 M3, the one
algorithmically tricky operator in the reference.

Reference: ``address_etl/id_map.py:8-84`` appends unseen text PKs to a
``(id INTEGER AUTOINCREMENT, iri TEXT UNIQUE)`` map, then rewrites the
table's text PK to the integer id. Maps are carried across runs so ids
are *stable forever* (``main_pls.py:137-153``).

Spark-first design:

- new keys = ``left_anti`` against the existing map (tolerant of
  already-converted ids via the UNION trick, see ``new_key_filter``);
- ids = ``max(existing.id) + rank(key)`` over the new keys only —
  deterministic, dense, stable. ``monotonically_increasing_id`` is
  never the id: it is neither dense nor stable across runs. The bulk
  path reads only its lower 33 bits, a row's position within its
  partition.

Scale: the incremental numbering ranks ONLY the *new* keys of one
increment (small by definition in an incremental ETL) on a single
reducer — via the windowless sorted-array rank of ``operators/topk``,
which does not spill. ``assign_surrogate_ids_bulk`` is the
corpus-sized path, and numbers the new keys of every table it is given
in ONE pass: tag each key with its table, range-partition and sort the
new keys on ``(table, key)``, read the per-``(partition, table)``
counts and every carried ``max(id)`` on the driver in one read (one
row each), and number each table's rows in one narrow projection from
its partition's offset and its position within the partition — the
numbering itself needs no window, exchange or join, and the number of
Spark jobs does not grow with the number of tables.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .topk import ASC, rank_small_frame
from ..runtime import materialize


#: hard cap on new keys per increment for :func:`assign_surrogate_ids`
#: — the sorted-array rank holds the increment's new keys in ONE
#: in-memory array (no spill), so an unbounded caller must fail with a
#: clear message instead of an executor OOM.
MAX_INCREMENT_NEW_KEYS = 5_000_000


def assign_surrogate_ids(
    keys: DataFrame,
    existing_map: DataFrame,
    max_new_keys: int = MAX_INCREMENT_NEW_KEYS,
) -> DataFrame:
    """Return the full map (iri, id) = existing ∪ newly-numbered keys.

    ``existing_map`` has columns (iri, id: long). ``keys`` is the
    (possibly duplicated) key universe in column ``iri``; only unseen
    keys get new ids, numbered max(id)+1.. in deterministic ``iri``
    order.

    INCREMENT-SIZED ONLY — enforced, not just documented: the new keys
    are ranked via a sorted-array aggregate that holds one increment's
    new keys in a single in-memory array (it does not spill), so the
    plan raises a clear error (lazily, at execution — plan build stays
    job-free) if the increment exceeds ``max_new_keys``. A first/bulk
    load — where EVERY key is new — must use
    :func:`assign_surrogate_ids_bulk` (identical ids, distributed
    spill-safe numbering); ``plans/pipeline.run_post_extract_pipeline`` does.
    """
    distinct_keys = keys.select("iri").distinct()
    new_keys = distinct_keys.join(existing_map.select("iri"), "iri", "left_anti")
    start = existing_map.agg(F.coalesce(F.max("id"), F.lit(0)).alias("start"))
    # one increment's NEW keys only (small by definition — the bulk
    # variant below is the corpus-sized path, and unlike this
    # sorted-array rank it also spills): numbered windowless via
    # operators/topk.rank_small_frame, so no single-partition
    # WindowExec appears anywhere in an incremental run's plan.
    # Enforcement: limit(cap+1) BEFORE the rank bounds the collected
    # array itself (an after-the-fact count would OOM inside
    # collect_list before any check ran), then a rank at cap+1 proves
    # the increment overflowed and raises through a FILTER predicate —
    # a filter is part of the plan's row semantics, so unlike a guard
    # woven into a projected column it survives column pruning: even a
    # downstream count(*) or key-only projection that never evaluates
    # `id` still trips the error instead of silently seeing a
    # truncated map (caught by the round-8 review pass).
    guard = F.when(
        F.col("_rn") > F.lit(max_new_keys),
        F.raise_error(
            F.lit(
                f"assign_surrogate_ids: increment has more than {max_new_keys} "
                "new keys; route bulk/first loads through "
                "assign_surrogate_ids_bulk (distributed, spill-safe numbering)"
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    numbered = (
        rank_small_frame(
            new_keys.limit(max_new_keys + 1),
            [(F.col("iri"), ASC)],
            ["iri"],
            rank_name="_rn",
        )
        .filter(guard)
        .crossJoin(F.broadcast(start))
        .select(
            "iri",
            (F.col("start") + F.col("_rn")).cast("long").alias("id"),
        )
    )
    return existing_map.select("iri", "id").unionByName(numbered)


#: the column tagging each key with its table in the bulk numbering
_TABLE = "_table"


def _union(frames) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def assign_surrogate_ids_bulk(
    keys: dict[str, DataFrame], existing_maps: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Bulk variant over several tables at once: for every table name
    of ``keys``, the same map ``assign_surrogate_ids(keys[name],
    existing_maps[name])`` returns, with the new-key numbering
    distributed (no single-partition window) and shared by all tables.

    One pass: tag each key with its table, range-partition and sort the
    new keys on ``(table, key)`` and materialize them once; one driver
    read returns each ``(partition, table)``'s row count and each
    carried map's ``max(id)``; then each table numbers its keys in one
    narrow projection, ``start + offset[partition] + position within
    the partition's rows of that table + 1``. Deterministic because
    range partitioning + in-partition sort give a total order by
    ``(table, key)``. A key in two tables is numbered in each,
    independently. Adding a table adds no Spark job.

    EAGER: the sort and the driver read run here, so a caller that
    must not block on them (``run_post_extract_pipeline``) defers the
    call.
    """
    names = list(keys)
    carried = _union(
        existing_maps[n].select(F.lit(t).alias(_TABLE), "iri", "id") for t, n in enumerate(names)
    )
    # a key is new when no carried row shares its (table, key): one
    # aggregate over the keys and the carried maps together, not an
    # anti-join, which the optimizer would split into one join (and
    # one broadcast job) per table
    tagged = _union(
        [keys[n].select(F.lit(t).alias(_TABLE), "iri", F.lit(False).alias("_c"))
         for t, n in enumerate(names)]
        + [carried.select(_TABLE, "iri", F.lit(True).alias("_c"))]
    )
    # Materialize the range-partitioned sort ONCE: the counts and every
    # table's numbering read it, and cutting lineage makes each row's
    # partition and in-partition position fixed. Under AQE the sort's
    # shuffle stages already run here, while the plan is built.
    new_keys = (
        tagged.groupBy(_TABLE, "iri")
        .agg(F.bool_or("_c").alias("_c"))
        .filter(~F.col("_c"))
        .select(_TABLE, "iri")
        .repartitionByRange(_TABLE, "iri")
        .sortWithinPartitions(_TABLE, "iri")
        .transform(materialize)
    )
    pid = F.spark_partition_id()
    # one driver read of one aggregate: each (partition, table)'s row
    # count, and each table's carried max(id) under partition -1
    stats = new_keys.select(pid.alias("p"), _TABLE, F.lit(None).cast("long").alias("id"))
    stats = stats.unionByName(carried.select(F.lit(-1).alias("p"), _TABLE, "id"))
    start, count = {}, {}
    for p, t, n, top in stats.groupBy("p", _TABLE).agg(F.count("*"), F.max("id")).collect():
        if p < 0:
            start[t] = top or 0
        else:
            count[(t, p)] = n
    n_parts = max((p for _, p in count), default=-1) + 1
    # position within the partition: monotonically_increasing_id puts
    # the partition id in the upper 31 bits and the record number in
    # the lower 33 — only the record number is used, never the id. It
    # counts the rows reaching the projection, so behind the table
    # filter it is the position among that table's rows.
    position = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    out = {}
    for t, name in enumerate(names):
        # the id just before the table's first row in each partition,
        # indexed by partition id; a partition holding none of the
        # table's rows gets a slot that no row reads
        bases, base = [], start.get(t, 0)
        for p in range(n_parts):
            bases.append(base)
            base += count.get((t, p), 0)
        numbered = new_keys.filter(F.col(_TABLE) == t).select(
            "iri",
            (F.lit(bases).cast("array<bigint>")[pid] + position + 1).alias("id"),
        )
        out[name] = existing_maps[name].select("iri", "id").unionByName(numbered)
    return out


def new_key_filter(table: DataFrame, existing_map: DataFrame, pk_col: str) -> DataFrame:
    """J7: ``pk NOT IN (SELECT iri FROM map UNION SELECT id FROM map)`` —
    new-key detection tolerant of already-converted integer ids
    (``address_etl/id_map.py:36-45``)."""
    known = (
        existing_map.select(F.col("iri").cast("string").alias("k"))
        .union(existing_map.select(F.col("id").cast("string").alias("k")))
        .distinct()
    )
    return table.join(
        known, table[pk_col].cast("string") == known["k"], "left_anti"
    )


def rewrite_pk_to_id(table: DataFrame, id_map: DataFrame, pk_col: str) -> DataFrame:
    """M3 rewrite step: replace the text PK with the mapped integer id.

    Reference does this as a correlated-subquery UPDATE in 10k rowid
    batches (id_map.py:64-82); here it is one join producing a new
    immutable table.
    """
    rest = [c for c in table.columns if c != pk_col]
    return (
        table.join(id_map, table[pk_col] == id_map["iri"], "inner")
        .select(F.col("id").alias(pk_col), *rest)
    )
