"""Two consecutive full ETL runs through plans.run.run_etl — the
reference's monkeypatched main() test, Spark-shaped: snapshot restore,
carry-forward with reset, cache upsert, surrogate-id stability across
runs, and the publish contract."""

from __future__ import annotations

import glob
import json
import os
from collections import Counter
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from cam_location_addressing_feature_service_etl_spark import store
from cam_location_addressing_feature_service_etl_spark.plans.run import run_etl
from cam_location_addressing_feature_service_etl_spark.sources.snapshot import (
    COMMIT_MARKER,
    latest_snapshot,
    read_snapshot_table,
    write_snapshot,
)
from tests.test_sources import active_jobs_after_events

BNE = timezone(timedelta(hours=10))


def _addresses(spark, rows):
    return spark.createDataFrame(
        rows, "addr_id string, address_pid string, site_id string, parcel_id string"
    )


def _geocodes(spark, rows):
    return spark.createDataFrame(
        rows,
        "geocode_id string, geocode_type string, address_pid string, site_id string, "
        "centoid_lat double, centoid_lon double, hash string",
    )


def _pid_map(spark, rows):
    return spark.createDataFrame(rows, "address_iri string, address_pid string")


def _parcels(spark, rows):
    return spark.createDataFrame(rows, "parcel_id string, plan_no string")


def _day1(spark):
    """run_etl inputs of a cold start: two addresses, one geocode,
    two parcels."""
    return dict(
        start_time=datetime(2026, 4, 22, 2, 0, 0, tzinfo=BNE),
        end_time=datetime(2026, 4, 22, 2, 2, 30, tzinfo=BNE),
        fetched_iri_pid=_pid_map(spark, [("iri/1", "100"), ("iri/2", "200")]),
        fetched_geocodes=_geocodes(
            spark, [("geo-1", "PC", "100", None, -27.0, 153.0, None)]
        ),
        lf_address=_addresses(
            spark,
            [("addr-1", "100", "site-1", "parcel-A"), ("addr-2", "200", "site-2", "parcel-B")],
        ),
        tables_to_remap={
            "lf_parcel": (
                _parcels(spark, [("parcel-A", "SP1"), ("parcel-B", "SP2")]),
                "parcel_id",
            )
        },
    )


def _day2(spark):
    """The next day's increment: new address + updated pid for iri/1,
    re-imported geo-1 (site reset), one new parcel."""
    return dict(
        start_time=datetime(2026, 4, 23, 2, 0, 0, tzinfo=BNE),
        end_time=datetime(2026, 4, 23, 2, 2, 30, tzinfo=BNE),
        fetched_iri_pid=_pid_map(spark, [("iri/1", "101"), ("iri/3", "300")]),
        fetched_geocodes=_geocodes(
            spark, [("geo-3", "PC", "300", None, -26.0, 151.0, None)]
        ),
        lf_address=_addresses(
            spark,
            [
                ("addr-1", "101", "site-1", "parcel-A"),
                ("addr-3", "300", "site-3", "parcel-C"),
            ],
        ),
        tables_to_remap={
            "lf_parcel": (
                _parcels(spark, [("parcel-A", "SP1"), ("parcel-C", "SP3")]),
                "parcel_id",
            )
        },
    )


def _id_map(result, name="lf_parcel"):
    return {r["iri"]: r["id"] for r in result.tables[f"{name}_id_map"].collect()}


def test_two_run_lifecycle(spark, tmp_path):
    _two_run_lifecycle(spark, str(tmp_path / "snaps"))


def test_two_run_lifecycle_file_uri(spark, tmp_path):
    """The same lifecycle over a ``file://`` snapshot root: the store
    lists and commits through the Hadoop FileSystem, so the second run
    restores the first run's snapshot and keeps every carried id."""
    _two_run_lifecycle(spark, "file://" + str(tmp_path / "snaps"))


def _two_run_lifecycle(spark, root):
    # ---- run 1: cold start
    r1 = run_etl(spark, snapshot_root=root, **_day1(spark))
    assert r1.previous_snapshot_ts is None
    assert r1.s3_key == "pls-etl/2026-04-22T02:02:30+1000/pls.db"
    geo1 = {r["geocode_id"]: r["site_id"] for r in r1.tables["lf_geocode_sp_survey_point"].collect()}
    assert geo1 == {"geo-1": "site-1"}
    ids1 = _id_map(r1)
    assert sorted(ids1.values()) == [1, 2]

    # ---- run 2: incremental
    r2 = run_etl(spark, snapshot_root=root, **_day2(spark))
    assert r2.previous_snapshot_ts == "2026-04-22T02:02:30+1000"

    # cache upsert: iri/1 overwritten, iri/2 carried, iri/3 new
    pid = {r["address_iri"]: r["address_pid"] for r in r2.tables["address_iri_pid_map"].collect()}
    assert pid == {"iri/1": "101", "iri/2": "200", "iri/3": "300"}

    # geocodes: geo-1 carried forward with site reset then re-enriched
    # only if an address still matches pid 100 — addr-1 moved to 101,
    # so geo-1 (pid 100) is pruned; geo-3 enriched to site-3
    geo2 = {r["geocode_id"]: r["site_id"] for r in r2.tables["lf_geocode_sp_survey_point"].collect()}
    assert geo2 == {"geo-3": "site-3"}

    # surrogate ids stable: parcel-A keeps its run-1 id; parcel-C dense-appends
    ids2 = _id_map(r2)
    assert ids2["parcel-A"] == ids1["parcel-A"]
    assert ids2["parcel-B"] == ids1["parcel-B"]
    assert ids2["parcel-C"] == 3

    # publish contract
    assert r2.headers["etl-started-at"] == "2026-04-22T16:00:00+00:00"
    assert r2.headers["etl-duration-seconds"] == "150.000"
    msg = r2.message.collect()[0]
    assert msg["value"].decode().endswith(r2.s3_key)
    meta = r2.tables["metadata"].collect()[0]
    assert meta["id"] == 1 and meta["end_time"] == "2026-04-23T02:02:30+1000"


def test_run_etl_increment_through_dsv2_reader(spark, tmp_path):
    """The geocode increment arrives through spark.read.format("esri")
    (fake transport) instead of a pre-built DataFrame — the reference's
    fetch→normalize→merge flow (geocode.py:469-488) exercised through
    the DSv2 reader: page partitioning, per-page reads, and the
    normalize mapping feed the same run_etl contract."""
    from cam_location_addressing_feature_service_etl_spark.sources.esri import (
        normalize_geocode_features,
    )
    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        EsriDataSource,
    )

    spark.dataSource.register(EsriDataSource)
    feats = (
        spark.read.format("esri")
        .option("mode", "fake")
        .option("fake_count", "3")
        .option("page_size", "2")
        .load()
    )
    assert feats.rdd.getNumPartitions() == 2  # proves the page plan ran

    fetched_geocodes = normalize_geocode_features(feats)

    r = run_etl(
        spark,
        snapshot_root=str(tmp_path / "snaps-dsv2"),
        start_time=datetime(2026, 5, 1, 2, 0, 0, tzinfo=BNE),
        end_time=datetime(2026, 5, 1, 2, 2, 30, tzinfo=BNE),
        fetched_iri_pid=_pid_map(
            spark, [("iri/a", "100000"), ("iri/b", "100001"), ("iri/c", "100002")]
        ),
        fetched_geocodes=fetched_geocodes,
        # addresses exist for two of the three fetched pids; the third
        # geocode must be pruned by the enrich-then-prune pipeline
        lf_address=_addresses(
            spark,
            [
                ("addr-a", "100000", "site-a", "parcel-A"),
                ("addr-b", "100001", "site-b", "parcel-B"),
            ],
        ),
        tables_to_remap={
            "lf_parcel": (
                spark.createDataFrame(
                    [("parcel-A", "SP1"), ("parcel-B", "SP2")],
                    "parcel_id string, plan_no string",
                ),
                "parcel_id",
            )
        },
    )

    geo = {
        r_["geocode_id"]: (r_["geocode_type"], r_["site_id"])
        for r_ in r.tables["lf_geocode_sp_survey_point"].collect()
    }
    # objectid 0/1 (pids 100000/100001) enriched to their address site;
    # objectid 2 (pid 100002, no address) pruned. type-0 → "T0" etc.
    # via the initialism fallback (F6).
    assert geo == {"0": ("T0", "site-a"), "1": ("T1", "site-b")}


def test_failed_publish_is_never_restored(spark, tmp_path):
    """A publish that fails part-way (one table raises at execution,
    next to healthy ones — among them an id map with every id moved)
    raises once all writes are done; the next run restores the last
    committed snapshot and keeps every carried id. A table remapped for
    the first time has no id map in that snapshot and starts empty."""
    root = str(tmp_path / "snaps")
    r1 = run_etl(spark, snapshot_root=root, **_day1(spark))
    ids1 = _id_map(r1)

    moved = spark.createDataFrame([(iri, i + 10) for iri, i in ids1.items()], "iri string, id long")
    boom = spark.range(1).select(F.raise_error(F.lit("publish boom")).alias("id"))
    with pytest.raises(Exception, match="publish boom"):
        write_snapshot(
            {"lf_parcel_id_map": moved, "metadata": boom, "lf_address": r1.tables["lf_address"]},
            root,
            "2026-04-22T12:00:00+1000",
        )
    assert active_jobs_after_events(spark) == []
    assert latest_snapshot(root) == "2026-04-22T02:02:30+1000"

    day2 = _day2(spark)
    sites = spark.createDataFrame([("site-1", "S1"), ("site-3", "S3")], "site_id string, name string")
    day2["tables_to_remap"]["lf_site"] = (sites, "site_id")
    r2 = run_etl(spark, snapshot_root=root, **day2)
    assert r2.previous_snapshot_ts == "2026-04-22T02:02:30+1000"
    ids2 = _id_map(r2)
    assert {k: ids2[k] for k in ids1} == ids1
    assert ids2["parcel-C"] == 3
    assert sorted(_id_map(r2, "lf_site").values()) == [1, 2]


def test_unreadable_id_map_fails_the_run(spark, tmp_path):
    """An id map that exists in the restored snapshot but cannot be
    read fails the run instead of renumbering every carried key."""
    root = str(tmp_path / "snaps")
    r1 = run_etl(spark, snapshot_root=root, **_day1(spark))
    for f in glob.glob(os.path.join(r1.snapshot_path, "lf_parcel_id_map", "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="lf_parcel_id_map"):
        run_etl(spark, snapshot_root=root, **_day2(spark))


def test_restore_reads_recorded_schemas_without_jobs(spark, tmp_path):
    """Every table of a committed ``run_etl`` snapshot reads back with
    the schema its commit record holds: no Spark job, and the same
    schema as inferring it from the files."""
    root = str(tmp_path / "snaps")
    day1 = _day1(spark)
    sites = spark.createDataFrame([("site-1", "S1")], "site_id string, name string")
    day1["tables_to_remap"]["lf_site"] = (sites, "site_id")
    r1 = run_etl(spark, snapshot_root=root, **day1)
    ts = latest_snapshot(root)
    assert len(r1.tables) == 8

    sc = spark.sparkContext
    group = f"restore-{tmp_path.name}"
    sc.setJobGroup(group, "restore")
    try:
        restored = {name: read_snapshot_table(spark, root, ts, name).schema for name in r1.tables}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for name, schema in restored.items():
        assert schema == spark.read.parquet(os.path.join(r1.snapshot_path, name)).schema, name


def test_restore_reads_commit_record_once(spark, tmp_path, monkeypatch):
    """An incremental run opens the restored snapshot's commit marker
    once for all of its tables; a cold run, which has no snapshot and
    publishes into a new one, opens none."""
    calls = []
    marker_content = store.marker_content

    def spy(*args, **kwargs):
        calls.append(args)
        return marker_content(*args, **kwargs)

    monkeypatch.setattr(store, "marker_content", spy)
    root = str(tmp_path / "snaps")
    run_etl(spark, snapshot_root=root, **_day1(spark))
    assert len(calls) == 0
    run_etl(spark, snapshot_root=root, **_day2(spark))
    assert len(calls) == 1


def test_snapshot_without_geocodes_fails_the_run(spark, tmp_path):
    """A committed snapshot whose record does not list the geocodes
    fails the next run, naming the table, instead of restoring none."""
    root = str(tmp_path / "snaps")
    r1 = run_etl(spark, snapshot_root=root, **_day1(spark))
    record = json.loads(store.marker_content(spark, r1.snapshot_path, COMMIT_MARKER))
    del record["lf_geocode_sp_survey_point"]
    store.commit(spark, r1.snapshot_path, COMMIT_MARKER, json.dumps(record).encode())
    with pytest.raises(KeyError, match="lf_geocode_sp_survey_point"):
        run_etl(spark, snapshot_root=root, **_day2(spark))


#: Spark jobs of one incremental ``run_etl`` (``_day1`` → ``_day2``,
#: one remapped table), counted by job group: every one runs inside the
#: concurrent publish — 28 table-write jobs (``publish <table>``) and
#: the 5 of the shared new-key numbering (``number``), which the first
#: remapped table's publish thread runs. The restore runs none: it reads
#: each table with the schema the snapshot recorded. Measured on a
#: 4-vCPU host: 33 in each of 22 runs in one Spark session (numbering 5
#: in each). Earlier shapes ran more: 36 while the numbering ran before
#: the publish with a separate count and max(id) read (8 jobs per
#: remapped table); 41 while the restore inferred each table's schema
#: (3 jobs) and the geocode write enriched and pruned in two joins (13
#: jobs, now 11); 52 while each write that consumes the id map
#: re-derived the numbering and the published maps were range-sorted.
#: A count above the ceiling means a write started recomputing shared
#: state again — fix the plan, don't raise the ceiling without a job
#: profile justifying it.
INCREMENTAL_RUN_MAX_JOBS = 33

#: Spark jobs of the one numbering pass (label ``number``) whatever the
#: number of remapped tables: 5 with one, two and five tables alike
#: (materialize the sorted new keys: 3; one driver read: 2). Numbering
#: each table on its own ran 8 per table, 40 for the reference's five.
NUMBERING_MAX_JOBS = 5


def _run_job_labels(spark, group: str, **kwargs) -> Counter:
    """Run ``run_etl`` in job group ``group``; its jobs counted by
    description."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "run_etl")
    try:
        run_etl(spark, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    labels = Counter()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            labels[job.description().get() if job.description().isDefined() else None] += 1
    return labels


def _only_publish_and_number(labels: Counter, tables: list[str]) -> None:
    allowed = {"number", *(f"publish {t}" for t in tables)}
    assert set(labels) <= allowed, f"jobs outside the publish: {set(labels) - allowed}"


def test_incremental_run_job_ceiling(spark, tmp_path):
    """An incremental run stays within its pinned Spark job count, and
    every job runs inside the publish: a table's write or the shared
    numbering."""
    root = str(tmp_path / "snaps")
    r1 = run_etl(spark, snapshot_root=root, **_day1(spark))
    labels = _run_job_labels(
        spark, f"incremental-run-{tmp_path.name}", snapshot_root=root, **_day2(spark)
    )
    _only_publish_and_number(labels, list(r1.tables))
    jobs = sum(labels.values())
    assert jobs <= INCREMENTAL_RUN_MAX_JOBS, (
        f"an incremental run_etl ran {jobs} Spark jobs ({dict(labels)}), over the "
        f"pinned ceiling of {INCREMENTAL_RUN_MAX_JOBS}"
    )
    assert labels["number"] <= NUMBERING_MAX_JOBS, dict(labels)


#: the reference's five remapped entity tables (pls/tables.py:934-938)
FIVE_TABLES = ("lf_locality", "lf_road", "lf_parcel", "lf_site", "lf_place_name")


def _remap_five(spark, day: int) -> dict[str, tuple]:
    """Five entity tables for day ``day``: two keys each, one of them
    new on day 2, and the same key text in every table."""
    second = "key-B" if day == 1 else "key-C"
    return {
        t: (spark.createDataFrame([("key-A", t), (second, t)], "pk string, name string"), "pk")
        for t in FIVE_TABLES
    }


def test_five_remapped_tables_number_in_one_pass(spark, tmp_path):
    """With the reference's five remapped tables the numbering runs no
    more jobs than with one: the new keys of every table are numbered
    in one pass. Each table's ids are its own (the same key text gets
    an id in every table), and every job runs inside the publish."""
    root = str(tmp_path / "snaps")
    day1 = {**_day1(spark), "tables_to_remap": _remap_five(spark, 1)}
    r1 = run_etl(spark, snapshot_root=root, **day1)
    for t in FIVE_TABLES:
        assert _id_map(r1, t) == {"key-A": 1, "key-B": 2}
    day2 = {**_day2(spark), "tables_to_remap": _remap_five(spark, 2)}
    labels = _run_job_labels(spark, f"five-tables-{tmp_path.name}", snapshot_root=root, **day2)
    _only_publish_and_number(labels, list(r1.tables))
    assert labels["number"] <= NUMBERING_MAX_JOBS, dict(labels)
    ts = latest_snapshot(root)
    for t in FIVE_TABLES:
        ids = {r["iri"]: r["id"] for r in read_snapshot_table(spark, root, ts, f"{t}_id_map").collect()}
        assert ids == {"key-A": 1, "key-B": 2, "key-C": 3}, t
        published = read_snapshot_table(spark, root, ts, t).collect()
        assert sorted(r["pk"] for r in published) == [1, 3], t
