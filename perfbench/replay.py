"""Traced replays of the program's entry points, built only from its
public functions.

``replay_run_etl`` makes the same calls, in the same order and with the
same arguments, as ``plans/run.py::run_etl``; the one difference is that
the snapshot is published by one ``write_snapshot`` call per table, so
each table's write is its own span. Keep it in step with ``run_etl``:
the traced run measures the program only as long as the two agree.
"""

from __future__ import annotations

from cam_location_addressing_feature_service_etl_spark.operators.upsert import upsert_by_key
from cam_location_addressing_feature_service_etl_spark.plans.pipeline import (
    run_post_extract_pipeline,
    upsert_iri_pid_cache,
)
from cam_location_addressing_feature_service_etl_spark.plans.publish import (
    artifact_key,
    build_artifact_headers,
    format_run_timestamp,
    kafka_message_df,
    metadata_df,
)
from cam_location_addressing_feature_service_etl_spark.sources.snapshot import (
    carry_forward_geocodes,
    latest_snapshot,
    read_snapshot_table,
    write_snapshot,
)


def replay_run_etl(
    spark,
    tracer,
    *,
    snapshot_root,
    start_time,
    end_time,
    fetched_iri_pid,
    fetched_geocodes,
    lf_address,
    tables_to_remap,
    s3_bucket="pls-feature-service-etl",
    presigned_url="",
    presigned_url_expiry_seconds=3600,
):
    with tracer.span("restore"):
        empty_map = spark.createDataFrame([], "iri string, id long")
        empty_pid = spark.createDataFrame([], "address_iri string, address_pid string")
        prev_ts = latest_snapshot(snapshot_root)
        if prev_ts is not None:
            stored_pid = read_snapshot_table(spark, snapshot_root, prev_ts, "address_iri_pid_map")
            prev_geo = read_snapshot_table(
                spark, snapshot_root, prev_ts, "lf_geocode_sp_survey_point"
            )
            carried_geo = carry_forward_geocodes(prev_geo)
            id_maps = {}
            for name in tables_to_remap:
                try:
                    id_maps[name] = read_snapshot_table(
                        spark, snapshot_root, prev_ts, f"{name}_id_map"
                    )
                except Exception:
                    id_maps[name] = empty_map
        else:
            stored_pid, carried_geo = empty_pid, None
            id_maps = {name: empty_map for name in tables_to_remap}

    with tracer.span("upsert"):
        iri_pid_map = upsert_iri_pid_cache(stored_pid, fetched_iri_pid)
        if carried_geo is not None:
            geocodes = upsert_by_key(carried_geo, fetched_geocodes, key_cols=["geocode_id"])
        else:
            geocodes = fetched_geocodes

    with tracer.span("pipeline"):
        out = run_post_extract_pipeline(
            lf_address=lf_address,
            geocodes=geocodes,
            iri_pid_map=iri_pid_map,
            id_maps=id_maps,
            tables_to_remap=tables_to_remap,
        )
        out["address_iri_pid_map"] = iri_pid_map
    with tracer.span("publish.metadata"):
        out["metadata"] = metadata_df(spark, start_time, end_time)

    snap_ts = format_run_timestamp(end_time)
    sort_specs = {"address_iri_pid_map": ["address_iri"]}
    for name in tables_to_remap:
        sort_specs[f"{name}_id_map"] = ["iri"]
    snapshot_path = None
    for name, df in out.items():
        spec = {name: sort_specs[name]} if name in sort_specs else None
        with tracer.span(f"write.{name}"):
            snapshot_path = write_snapshot({name: df}, snapshot_root, snap_ts, spec)

    with tracer.span("publish.message"):
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
        kafka_message_df(spark, presigned_url or f"s3://{s3_bucket}/{key}", headers)
    return snapshot_path


def traced_query(spark, tracer, name, fn, sf_dir):
    """``benchwarm.timed_noop_run`` split into its build and execute
    calls, each its own span (the caller GCs between queries)."""
    with tracer.span(f"query.build.{name}"):
        df = fn(spark, sf_dir)
    with tracer.span(f"query.exec.{name}"):
        df.write.format("noop").mode("overwrite").save()
