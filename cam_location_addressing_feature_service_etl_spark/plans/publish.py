"""Publish edge: run metadata + artifact headers + Kafka handoff.

Format contracts mirror the reference exactly (checked by its tests,
``tests/test_main_pls_kafka.py:97-117``):

- metadata timestamps: Brisbane-offset ``%Y-%m-%dT%H:%M:%S%z``
  (``main_pls.py:82-83``, ``address_etl/time_convert.py:16-19``)
- S3 key: ``pls-etl/<end_ts>/pls.db``-style timestamped key
  (``main_pls.py:195-198``)
- Kafka headers: UTC ``isoformat()`` timestamps + ``"%.3f"`` duration
  (``main_pls.py:33-56``)

The Kafka publish itself is a single-row batch write; with a live
broker, ``publish_df.write.format("kafka")`` with value + headers
columns (S10). Here the message row is produced for the caller's sink.
"""

from __future__ import annotations

from datetime import datetime, timezone
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BRISBANE = ZoneInfo("Australia/Brisbane")
S3_FILE_PREFIX = "pls-etl/"


def format_run_timestamp(dt: datetime) -> str:
    """Brisbane-offset compact ISO, e.g. 2026-04-23T02:00:00+1000."""
    return dt.astimezone(BRISBANE).strftime("%Y-%m-%dT%H:%M:%S%z")


def format_kafka_timestamp(dt: datetime) -> str:
    """UTC isoformat, e.g. 2026-04-23T02:00:00+00:00."""
    return dt.astimezone(timezone.utc).isoformat()


def artifact_key(end_time: datetime) -> str:
    return f"{S3_FILE_PREFIX}{format_run_timestamp(end_time)}/pls.db"


def build_artifact_headers(
    *,
    etl_started_at: datetime,
    etl_finished_at: datetime,
    artifact_uploaded_at: datetime,
    duration_seconds: float,
    s3_bucket: str,
    s3_key: str,
    presigned_url_expiry_seconds: int,
) -> dict[str, str]:
    return {
        "etl-name": "pls",
        "etl-started-at": format_kafka_timestamp(etl_started_at),
        "etl-finished-at": format_kafka_timestamp(etl_finished_at),
        "artifact-uploaded-at": format_kafka_timestamp(artifact_uploaded_at),
        "etl-duration-seconds": f"{duration_seconds:.3f}",
        "s3-bucket": s3_bucket,
        "s3-key": s3_key,
        "presigned-url-expiry-seconds": str(presigned_url_expiry_seconds),
    }


def metadata_df(spark: SparkSession, start_time: datetime, end_time: datetime | None) -> DataFrame:
    """M6: the singleton metadata row (CHECK id = 1), built in the JVM
    as one projection of a one-row range, so writing it starts no
    Python worker. Each value is a CASE without ELSE on the range's row,
    which keeps every column nullable, as the table has always been
    written."""
    row = F.col("id") == 0
    values = [
        ("id", "long", 1),
        ("start_time", "string", format_run_timestamp(start_time)),
        ("end_time", "string", format_run_timestamp(end_time) if end_time else None),
    ]
    return spark.range(1, numPartitions=1).select(
        *(F.when(row, F.lit(v)).cast(t).alias(name) for name, t, v in values)
    )


def kafka_message_df(
    spark: SparkSession, presigned_url: str, headers: dict[str, str]
) -> DataFrame:
    """S10: the one-row Kafka message (value + headers columns, the
    shape ``.write.format("kafka")`` expects)."""
    hdr = [(k, v.encode()) for k, v in headers.items()]
    return spark.createDataFrame(
        [(presigned_url.encode(), hdr)],
        "value binary, headers array<struct<key:string,value:binary>>",
    )


def publish_to_kafka(
    message_df: DataFrame, bootstrap_servers: str, topic: str
) -> None:
    """The live sink edge for S10 (reference:
    ``address_etl/kafka.py:30-54``): write the message DataFrame to a
    broker with headers included. Requires the ``spark-sql-kafka``
    connector on the classpath and a reachable broker — neither exists
    in this sandbox, so tests only assert the error contract; the call
    is the one-liner the reference's confluent producer becomes on
    Spark.
    """
    try:
        (
            message_df.write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("includeHeaders", "true")
            .save()
        )
    except Exception as exc:
        # Rewrite ONLY the missing-connector classpath failure; any
        # other error (broker unreachable, auth, timeout) also contains
        # the substring "kafka" and must propagate unchanged.
        msg = str(exc)
        if (
            "Failed to find data source: kafka" in msg
            or "Failed to find the data source: kafka" in msg
            or "ClassNotFoundException" in msg
        ):
            raise RuntimeError(
                "kafka sink unavailable: add the spark-sql-kafka-0-10 "
                "connector package and a reachable broker"
            ) from exc
        raise
