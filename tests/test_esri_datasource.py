"""The ESRI Python Data Source read end-to-end through
spark.read.format("esri") in fake mode — EsriClient over a synthetic
transport: partition planning from the count, per-page reads, schema,
and downstream plan composition."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
    EsriDataSource,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EsriDataSource)
    return spark


def test_reads_all_pages(registered):
    df = (
        registered.read.format("esri")
        .option("mode", "fake")
        .option("fake_count", "4500")
        .option("page_size", "2000")
        .load()
    )
    assert df.count() == 4500
    assert df.columns == ["objectid", "pid", "type", "x", "y"]
    lo, hi = df.agg(F.min("objectid"), F.max("objectid")).collect()[0][:]
    assert (lo, hi) == (0, 4499)
    assert df.rdd.getNumPartitions() == 3  # ceil(4500/2000) pages


def test_push_filters_translate_to_where(registered):
    from pyspark.sql.datasource import GreaterThan, IsNotNull, StringStartsWith
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        EsriReader,
    )

    r = EsriReader({"mode": "fake"}, StructType([]))
    filters = [
        GreaterThan(("objectid",), 100),
        IsNotNull(("pid",)),
        StringStartsWith(("type",), "x"),
    ]
    remaining = list(r.pushFilters(filters))
    assert r.where == (
        "1=1 AND objectid > 100 AND pid IS NOT NULL AND type LIKE 'x%'"
    )
    assert remaining == filters  # partial pushdown: Spark re-applies all


def test_push_filters_string_in_null_and_wildcard_safety(registered):
    """The widened translation set: quoted string equality (with
    embedded-quote escaping), IN lists, IS NULL — and the safety rail:
    a StringStartsWith whose prefix contains a LIKE wildcard must NOT
    be pushed (a narrower server predicate would LOSE rows that
    Spark's re-application cannot resurrect)."""
    from pyspark.sql.datasource import (
        EqualTo,
        In,
        IsNull,
        StringStartsWith,
    )
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        EsriReader,
    )

    from pyspark.sql.datasource import GreaterThan

    r = EsriReader({"mode": "fake"}, StructType([]))
    r.pushFilters(
        [
            EqualTo(("pid",), "o'brien"),
            In(("type",), ("a", "b")),
            IsNull(("x",)),
            StringStartsWith(("pid",), "10%"),  # wildcard → skipped
            StringStartsWith(("pid",), "1[a"),  # SQL-Server class → skipped
            EqualTo(("pid",), True),  # bool → skipped (not SQL-92 here)
            # string ORDERING is collation-dependent server-side (a CI
            # collation narrows it and loses rows) → never pushed
            GreaterThan(("type",), "Z"),
        ]
    )
    assert r.where == (
        "1=1 AND pid = 'o''brien' AND type IN ('a', 'b') AND x IS NULL"
    )


def test_filtered_read_is_correct_end_to_end(registered):
    # fake server ignores `where`; because pushFilters returns every
    # filter for Spark to re-apply, results stay correct regardless
    df = (
        registered.read.format("esri")
        .option("mode", "fake")
        .option("fake_count", "1000")
        .load()
        .filter(F.col("objectid") >= 990)
    )
    assert sorted(r["objectid"] for r in df.collect()) == list(range(990, 1000))


def test_composes_with_engine_operators(registered):
    """The source output feeds the normal operator pipeline (F6-style
    type-code normalization + grid bucketing)."""
    df = (
        registered.read.format("esri")
        .option("mode", "fake")
        .option("fake_count", "1000")
        .load()
    )
    out = (
        df.withColumn("code", F.upper(F.regexp_replace("type", "^.*geocode-types/", "")))
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r["code"]: r["n"] for r in out.collect()}
    assert len(got) == 7 and sum(got.values()) == 1000


def test_esri_stream_reader_incremental_batches(spark):
    """The streaming twin: availableNow drains the fake layer in
    page-size micro-batches; rows and ids must match the batch scan."""
    import tempfile

    spark.dataSource.register(EsriDataSource)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            spark.readStream.format("esri")
            .option("mode", "fake")
            .option("fake_count", "250")
            .option("page_size", "100")
            .load()
            .writeStream.format("memory")
            .queryName("esri_stream_t")
            .option("checkpointLocation", ckpt)
            .start()
        )
        # drain: the fake layer is finite, so "no new data" == all
        # 3 micro-batches (100+100+50) committed
        q.processAllAvailable()
        q.stop()
        got = spark.sql("SELECT objectid FROM esri_stream_t").collect()
    assert len(got) == 250
    assert {r["objectid"] for r in got} == set(range(250))


def test_esri_stream_reader_replay_between_offsets(spark):
    """readBetweenOffsets must replay any committed range identically —
    the exactly-once contract under retry."""
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        DEFAULT_SCHEMA,
        EsriStreamReader,
    )

    r = EsriStreamReader(
        {"mode": "fake", "fake_count": "50", "page_size": "20"},
        StructType.fromDDL(DEFAULT_SCHEMA),
    )
    it, off1 = r.read({"next": 0})
    first = list(it)
    assert off1 == {"next": 20} and len(first) == 20
    assert list(r.readBetweenOffsets({"next": 0}, {"next": 20})) == first
    # drained layer: empty batch, offset unchanged
    it3, off3 = r.read({"next": 60})
    assert list(it3) == [] and off3 == {"next": 60}


def test_stream_reader_pins_fetch_order(monkeypatch):
    """The replay contract needs a pinned server-side order: _rows must
    send orderByFields (default objectid) through EsriClient.fetch_page,
    along with the reader's where and the schema's outFields."""
    from pyspark.sql.types import LongType, StructField, StructType

    from cam_location_addressing_feature_service_etl_spark.sources import esri_datasource

    sent = []
    fake = esri_datasource._fake_transport

    def recording(options):
        serve = fake(options)

        def transport(url, data):
            sent.append(dict(data))
            return serve(url, data)

        return transport

    monkeypatch.setattr(esri_datasource, "_fake_transport", recording)
    reader = esri_datasource.EsriStreamReader(
        {"mode": "fake", "where": "objectid >= 0"},
        StructType([StructField("objectid", LongType(), True)]),
    )
    assert reader._rows(0, 10) == [(i,) for i in range(10)]
    assert sent[-1]["orderByFields"] == "objectid"
    assert sent[-1]["outFields"] == "objectid"
    assert sent[-1]["where"] == "objectid >= 0"
    assert (sent[-1]["resultOffset"], sent[-1]["resultRecordCount"]) == ("0", "10")


def test_resolve_order_by_falls_back_to_first_field():
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.esri_datasource import (
        _resolve_order_by,
    )

    oid = StructType.fromDDL("objectid bigint, pid string")
    fid = StructType.fromDDL("fid bigint, pid string")
    assert _resolve_order_by({}, oid) == "objectid"
    assert _resolve_order_by({}, fid) == "fid"
    assert _resolve_order_by({"order_by": ""}, oid) == ""
    assert _resolve_order_by({"order_by": "pid"}, fid) == "pid"
    # no field to fall back to: a message naming the option, not an IndexError
    with pytest.raises(ValueError, match="objectid.*'order_by' option"):
        _resolve_order_by({}, StructType())
    assert _resolve_order_by({"order_by": "fid"}, StructType()) == "fid"
