"""The complete ETL run — the reference's ``main()`` (SURVEY §3.1) as
one orchestrated DataFrame program:

1. restore latest committed snapshot (carry forward state + geocodes
   with the site_id/hash reset)             main_pls.py:101-186
   Tables are read with the schemas the snapshot recorded (no Spark
   job; the record is read once for every table); a cold run restores
   empty ones and takes the same path.
2. incremental-or-full ESRI pulls, merged into carried state via
   upsert (M1/M2/M5)                        geocode.py:469-488
3. relational post-processing: prune → update-join enrich + prune
   (one join) → surrogate ids               pls/tables.py:911-938
   Planned only: no Spark job runs before step 4. The surrogate-id
   numbering (one pass for every remapped table) is deferred into
   step 4, where the first remapped table's or id map's publish thread
   runs it (jobs described ``number``).
4. publish: metadata row, snapshot write, artifact headers, Kafka
   message row                              main_pls.py:188-218
   The snapshot's tables are written concurrently and committed
   together: the writes that need no id map (addresses, geocodes,
   cache, metadata) start at once, beside the numbering. A publish
   that fails part-way, numbering included, raises and leaves no
   snapshot the next run's step 1 would restore.

The distributed-lock (S12) and presign (S9) edges stay with the
orchestrator (boto3), outside the engine. All inputs arrive as
DataFrames or injected fetch callables, so the run is testable offline
end-to-end — the reference's own main() test does the same with
monkeypatched I/O (tests/test_main_pls_kafka.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators.upsert import upsert_by_key
from ..sources.snapshot import (
    carry_forward_geocodes,
    latest_snapshot,
    read_snapshot_table,
    snapshot_schemas,
    write_snapshot,
)
from .pipeline import run_post_extract_pipeline, upsert_iri_pid_cache
from .publish import (
    artifact_key,
    build_artifact_headers,
    format_run_timestamp,
    kafka_message_df,
    metadata_df,
)


@dataclass
class RunResult:
    tables: dict[str, DataFrame]
    snapshot_path: str
    s3_key: str
    headers: dict[str, str]
    message: DataFrame
    previous_snapshot_ts: str | None


def run_etl(
    spark: SparkSession,
    *,
    snapshot_root: str,
    start_time: datetime,
    end_time: datetime,
    fetched_iri_pid: DataFrame,
    fetched_geocodes: DataFrame,
    lf_address: DataFrame,
    tables_to_remap: dict[str, tuple[DataFrame, str]],
    s3_bucket: str = "pls-feature-service-etl",
    presigned_url: str = "",
    presigned_url_expiry_seconds: int = 3600,
) -> RunResult:
    """One full run. ``fetched_*`` are the (already-normalized) source
    extracts for this increment; ``lf_address`` the SPARQL-derived
    address rows; ``tables_to_remap`` the entity tables needing
    surrogate ids (name → (df, pk_col))."""
    # 1. restore the previous snapshot's state. A table its record does
    #    not list is empty: every table on a cold run (no snapshot), an
    #    id map until its table is first remapped. A snapshot without
    #    the cache or the geocodes fails the run (KeyError).
    prev_ts = latest_snapshot(snapshot_root)
    recorded = snapshot_schemas(snapshot_root, prev_ts) if prev_ts else {}

    def restore(name: str, schema: StructType | str, required: bool = True) -> DataFrame:
        if name in recorded or (required and prev_ts):
            return read_snapshot_table(spark, snapshot_root, prev_ts, name, recorded=recorded)
        return spark.createDataFrame([], schema)

    stored_pid = restore("address_iri_pid_map", fetched_iri_pid.schema)
    carried_geo = carry_forward_geocodes(
        restore("lf_geocode_sp_survey_point", fetched_geocodes.schema)
    )
    id_maps = {
        name: restore(f"{name}_id_map", "iri string, id long", required=False)
        for name in tables_to_remap
    }

    # 2. merge increments into carried state (M1 cache upsert; M2
    #    geocode upsert resets enrichment on update)
    iri_pid_map = upsert_iri_pid_cache(stored_pid, fetched_iri_pid)
    geocodes = upsert_by_key(carried_geo, fetched_geocodes, key_cols=["geocode_id"])

    # 3. relational post-processing
    out = run_post_extract_pipeline(
        lf_address=lf_address,
        geocodes=geocodes,
        iri_pid_map=iri_pid_map,
        id_maps=id_maps,
        tables_to_remap=tables_to_remap,
    )
    out["address_iri_pid_map"] = iri_pid_map
    out["metadata"] = metadata_df(spark, start_time, end_time)

    # 4. publish — every table is written as planned, with no
    #    clustered layout: the next run's restore reads the cache and
    #    the id maps whole (their scans push only IsNotNull), so
    #    range-disjoint files would prune nothing and only add a
    #    sampling job, a range exchange and a sort to each write.
    snap_ts = format_run_timestamp(end_time)
    snapshot_path = write_snapshot(out, snapshot_root, snap_ts)
    # the remapped tables and id maps are callables over the numbering
    # the publish already ran: resolving them runs no job
    tables = {name: t() if callable(t) else t for name, t in out.items()}
    key = artifact_key(end_time)
    headers = build_artifact_headers(
        etl_started_at=start_time,
        etl_finished_at=end_time,
        artifact_uploaded_at=end_time,
        duration_seconds=(end_time - start_time).total_seconds(),
        s3_bucket=s3_bucket,
        s3_key=key,
        presigned_url_expiry_seconds=presigned_url_expiry_seconds,
    )
    message = kafka_message_df(spark, presigned_url or f"s3://{s3_bucket}/{key}", headers)
    return RunResult(
        tables=tables,
        snapshot_path=snapshot_path,
        s3_key=key,
        headers=headers,
        message=message,
        previous_snapshot_ts=prev_ts,
    )
