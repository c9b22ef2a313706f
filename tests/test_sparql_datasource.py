"""The SPARQL Python Data Source end-to-end through
spark.read.format("sparql") in fake mode — mirroring the ESRI source
tests: paged partition planning from a server-side COUNT, the
keys-then-details VALUES mode (the reference's two-phase extract as
partition planning), OPTIONAL-unbound → NULL, and reader internals with
an injected transport."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource import (
    KeyBatchPartition,
    PagePartition,
    SparqlDataSource,
    SparqlReader,
)

_Q = "SELECT ?pid ?street ?unit_opt WHERE { ?pid a :Addr }"


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(SparqlDataSource)
    return spark


def test_paged_read_all_rows(registered):
    df = (
        registered.read.format("sparql")
        .option("mode", "fake")
        .option("fake_rows", "450")
        .option("page_size", "200")
        .option("variables", "pid,street,unit_opt")
        .option("query", _Q)
        .load()
    )
    assert df.columns == ["pid", "street", "unit_opt"]
    assert df.rdd.getNumPartitions() == 3  # ceil(450/200) pages
    rows = df.collect()
    assert len(rows) == 450
    assert {r["pid"] for r in rows} == {f"urn:pid:{i}" for i in range(450)}
    # OPTIONAL-unbound vars land as NULL (P6), never as absent rows
    assert df.filter(F.col("unit_opt").isNull()).count() == 150
    assert df.filter("street = 'street-7'").count() == 1


def test_paged_read_with_inner_limit(registered):
    """A query carrying its own LIMIT caps the row universe; every page
    partition still reads only its own window of it."""
    df = (
        registered.read.format("sparql")
        .option("mode", "fake")
        .option("fake_rows", "450")
        .option("page_size", "20")
        .option("variables", "pid")
        .option("query", "SELECT ?pid WHERE { ?pid a :A } ORDER BY ?pid LIMIT 50")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # ceil(50/20) pages
    pids = [r["pid"] for r in df.collect()]
    assert len(pids) == 50 and len(set(pids)) == 50


def test_keys_then_details_partitioning(registered):
    """The reference's two-phase VALUES extract
    (pls/tables.py:401-472): keys query plans the partitions, each
    partition VALUES-batches its keys into the detail query."""
    df = (
        registered.read.format("sparql")
        .option("mode", "fake")
        .option("fake_rows", "100")
        .option("key_batch", "30")
        .option("variables", "pid,street")
        .option("keys_query", "SELECT ?pid WHERE { ?pid a :Addr }")
        .option(
            "query",
            "SELECT ?pid ?street WHERE { {values} ?pid :street ?street }",
        )
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # ceil(100/30) key batches
    rows = df.collect()
    assert len(rows) == 100
    assert {r["pid"] for r in rows} == {f"urn:pid:{i}" for i in range(100)}
    assert all(
        r["street"] == f"street-{r['pid'].rsplit(':', 1)[1]}" for r in rows
    )


def test_reader_emits_count_wrap_and_ordered_pages():
    """Injected-transport unit test of the paged planner: the count
    query is the COUNT(*) subquery wrap, and every page query pins
    ORDER BY before LIMIT/OFFSET (OFFSET without ORDER BY is not a
    stable order in SPARQL)."""
    from pyspark.sql.types import StructType

    seen: list[str] = []

    def transport(_url, form):
        seen.append(form["query"])
        if "(COUNT(*) AS ?n)" in form["query"]:
            return {"results": {"bindings": [{"n": {"value": "25"}}]}}
        return {"results": {"bindings": [{"pid": {"value": "urn:pid:1"}}]}}

    reader = SparqlReader(
        {"query": _Q, "variables": "pid,street", "page_size": "10",
         "mode": "fake"},
        StructType(),
    )
    import cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource as m
    from cam_location_addressing_feature_service_etl_spark.sources.sparql_http import (
        SparqlClient,
    )

    orig = m._client
    m._client = lambda _o: SparqlClient("x", transport=transport)
    try:
        parts = reader.partitions()
        assert parts == [
            PagePartition(0, 10), PagePartition(10, 10), PagePartition(20, 10)
        ]
        rows = list(reader.read(parts[1]))
    finally:
        m._client = orig
    assert rows == [("urn:pid:1", None)]
    # the user query is wrapped as a subselect so appended solution
    # modifiers compose even when the query carries its own (ADVICE
    # r11: direct-append broke on ORDER BY/LIMIT/trailing comments)
    assert seen[0].startswith("SELECT (COUNT(*) AS ?n) WHERE {")
    assert seen[1].startswith("SELECT * WHERE {")
    assert _Q in seen[0] and _Q in seen[1]
    assert "ORDER BY ?pid\nLIMIT 10\nOFFSET 10" in seen[1]


def test_reader_values_block_substitution():
    """Injected-transport unit test of the keys mode: the {values}
    placeholder becomes a VALUES block with exactly the partition's
    keys as IRIs."""
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.sparql_http import (
        SparqlClient,
    )

    seen: list[str] = []

    def transport(_url, form):
        seen.append(form["query"])
        return {"results": {"bindings": []}}

    import cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource as m

    reader = SparqlReader(
        {
            "query": "SELECT ?pid ?s WHERE { {values} ?pid :s ?s }",
            "variables": "pid,s",
            "keys_query": "SELECT ?pid WHERE { ?pid a :A }",
            "mode": "fake",
        },
        StructType(),
    )
    orig = m._client
    m._client = lambda _o: SparqlClient("x", transport=transport)
    try:
        list(reader.read(KeyBatchPartition(keys=("urn:pid:3", "urn:pid:9"))))
    finally:
        m._client = orig
    assert seen == [
        "SELECT ?pid ?s WHERE { VALUES ?pid { <urn:pid:3> <urn:pid:9> } "
        "?pid :s ?s }"
    ]


def test_keys_listing_pages_wrapped_and_ordered(monkeypatch):
    """The keys query is paged like the detail query: subselect-wrapped
    (so its own ORDER BY/LIMIT stays valid SPARQL) with ORDER BY
    ?key_var pinned before each LIMIT/OFFSET window (so no key is
    skipped between pages), until a short page — and every key is
    planned into a VALUES batch."""
    import re

    from pyspark.sql.types import StructType

    import cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource as m
    from cam_location_addressing_feature_service_etl_spark.sources.sparql_http import (
        SparqlClient,
    )

    keys_query = "SELECT ?pid WHERE { ?pid a :Address } ORDER BY ?pid LIMIT 50000"
    store = [{"pid": {"value": f"urn:pid:{i:02d}"}} for i in range(25)]
    seen: list[str] = []

    def transport(_url, form):
        q = form["query"]
        seen.append(q)
        # the outermost (last) LIMIT/OFFSET is the page window
        limit = int(re.findall(r"LIMIT (\d+)", q)[-1])
        offset = int(re.findall(r"OFFSET (\d+)", q)[-1] if "OFFSET" in q else 0)
        return {"results": {"bindings": store[offset : offset + limit]}}

    monkeypatch.setattr(m, "_client", lambda _o: SparqlClient("x", transport=transport))
    reader = SparqlReader(
        {
            "query": "SELECT ?pid ?s WHERE { {values} ?pid :s ?s }",
            "variables": "pid,s",
            "keys_query": keys_query,
            "page_size": "10",
            "key_batch": "10",
        },
        StructType(),
    )
    parts = reader.partitions()
    assert seen == [
        f"SELECT * WHERE {{\n{keys_query}\n}}\nORDER BY ?pid\nLIMIT 10\nOFFSET {o}"
        for o in (0, 10, 20)
    ]
    planned = [k for p in parts for k in p.keys]
    assert planned == [r["pid"]["value"] for r in store]
    assert [len(p.keys) for p in parts] == [10, 10, 5]


def test_missing_variables_option_raises():
    with pytest.raises(Exception, match="variables"):
        SparqlDataSource(options={"query": _Q}).schema()


def test_composes_with_flatten_semantics(registered):
    """Source output feeds normal operators: group the synthetic rows
    by the unbound-unit flag — the OPTIONAL semantics the reference's
    lf_address extract relies on (tables.py:361-364)."""
    df = (
        registered.read.format("sparql")
        .option("mode", "fake")
        .option("fake_rows", "90")
        .option("variables", "pid,unit_opt")
        .option("query", _Q)
        .load()
    )
    got = {
        r["has_unit"]: r["n"]
        for r in df.groupBy(F.col("unit_opt").isNotNull().alias("has_unit"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {True: 60, False: 30}


def test_empty_key_universe_reads_empty(registered):
    """A keys query matching nothing must yield an empty frame, not an
    invalid empty VALUES block."""
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.sparql_http import (
        SparqlClient,
    )
    import cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource as m

    def transport(_url, form):
        assert "VALUES" not in form["query"], form["query"]
        return {"results": {"bindings": []}}

    reader = SparqlReader(
        {
            "query": "SELECT ?pid WHERE { {values} ?pid a :A }",
            "variables": "pid",
            "keys_query": "SELECT ?pid WHERE { ?pid a :Nothing }",
            "mode": "fake",
        },
        StructType(),
    )
    orig = m._client
    m._client = lambda _o: SparqlClient("x", transport=transport)
    try:
        parts = reader.partitions()
        assert parts == [KeyBatchPartition(keys=())]
        assert list(reader.read(parts[0])) == []
    finally:
        m._client = orig


def test_sparql_stream_reader_incremental_batches(spark):
    """The streaming twin: availableNow drains the fake endpoint in
    page-size micro-batches; rows and keys must match the batch
    scan (mirrors the ESRI stream test)."""
    import tempfile

    spark.dataSource.register(SparqlDataSource)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            spark.readStream.format("sparql")
            .option("mode", "fake")
            .option("fake_rows", "250")
            .option("page_size", "100")
            .option("variables", "pid,street")
            .option("query", _Q)
            .load()
            .writeStream.format("memory")
            .queryName("sparql_stream_t")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.sql("SELECT pid FROM sparql_stream_t").collect()
    assert len(got) == 250
    assert {r["pid"] for r in got} == {f"urn:pid:{i}" for i in range(250)}


def test_sparql_stream_reader_replay_between_offsets():
    """readBetweenOffsets must replay any committed range identically,
    and every page query pins ORDER BY — the exactly-once contract
    under retry."""
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource import (
        SparqlStreamReader,
    )

    r = SparqlStreamReader(
        {"mode": "fake", "fake_rows": "50", "page_size": "20",
         "variables": "pid,street", "query": _Q},
        StructType(),
    )
    it, off1 = r.read({"next": 0})
    first = list(it)
    assert off1 == {"next": 20} and len(first) == 20
    assert list(r.readBetweenOffsets({"next": 0}, {"next": 20})) == first
    # drained result set: empty batch, offset unchanged
    it3, off3 = r.read({"next": 60})
    assert list(it3) == [] and off3 == {"next": 60}


def test_modifier_composition_with_self_modified_query():
    """The exact ADVICE-r11 failure shapes: a user query that already
    carries ORDER BY/LIMIT, or ends in a trailing comment, must still
    produce valid SPARQL when the reader appends paging modifiers —
    the subselect wrap isolates the inner modifiers and the newline
    before '}' keeps a trailing comment from swallowing the brace."""
    from cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource import (
        _count_query,
        _page_query,
    )

    modified = "SELECT ?pid WHERE { ?pid a :A }\nORDER BY ?pid\nLIMIT 5"
    q = _page_query(modified, "pid", 10, 20)
    # inner LIMIT stays inside the wrapper's closing brace; the outer
    # paging modifiers follow it
    assert q.index("LIMIT 5") < q.rindex("}")
    assert q.rindex("}") < q.index("ORDER BY ?pid\nLIMIT 10\nOFFSET 20")

    commented = "SELECT ?pid WHERE { ?pid a :A } # trailing comment"
    for built in (_page_query(commented, "pid", 10, 0), _count_query(commented)):
        closing = built.rfind("}")
        comment = built.rfind("# trailing comment")
        assert comment < closing, built  # brace survives the comment


def test_push_filters_translate_and_shrink_partitions():
    """SPARQL filter pushdown (the ESRI P5 twin): supported predicates
    become FILTER clauses outside the subselect wrap, the planning
    COUNT shrinks (fewer page partitions), and the page reads return
    only matching bindings — while every filter is handed back for
    Spark re-application."""
    from pyspark.sql.datasource import EqualTo, IsNotNull, StringStartsWith
    from pyspark.sql.types import StructType

    from cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource import (
        SparqlReader,
        translate_filters,
    )

    frags, back = translate_filters(
        [
            EqualTo(("street",), 'say "hi"'),
            IsNotNull(("unit_opt",)),
            StringStartsWith(("pid",), "urn:"),
            EqualTo(("not_projected",), "x"),  # unknown var → skipped
        ],
        ["pid", "street", "unit_opt"],
    )
    assert frags == [
        'STR(?street) = "say \\"hi\\""',
        "BOUND(?unit_opt)",
        'STRSTARTS(STR(?pid), "urn:")',
    ]
    assert len(back) == 4  # everything returned for re-application

    reader = SparqlReader(
        {
            "query": "SELECT ?pid ?street WHERE { ?pid :street ?street }",
            "variables": "pid,street",
            "page_size": "10",
            "mode": "fake",
            "fake_rows": "100",
        },
        StructType(),
    )
    assert len(reader.partitions()) == 10  # unfiltered: 100 rows
    reader.pushFilters([EqualTo(("street",), "street-7")])
    parts = reader.partitions()
    assert len(parts) == 1  # COUNT shrank to the single match
    rows = list(reader.read(parts[0]))
    assert rows == [("urn:pid:7", "street-7")]


def test_string_ordering_pushdown_is_opt_in():
    """String ORDERING comparisons narrow the server-side rowset, so
    (r12 ADVICE) they push only behind push_string_ordering=true —
    default is the conservative ESRI behavior: a non-spec-conformant
    endpoint's custom collation could drop rows Spark's re-application
    can never resurrect. Equality still pushes either way, and every
    filter is returned for re-application in both modes."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThanOrEqual

    from cam_location_addressing_feature_service_etl_spark.sources.sparql_datasource import (
        translate_filters,
    )

    filters = [
        GreaterThan(("pid",), "urn:pid:5"),
        LessThanOrEqual(("street",), "street-9"),
        EqualTo(("street",), "street-7"),
    ]
    frags, back = translate_filters(filters, ["pid", "street"])
    assert frags == ['STR(?street) = "street-7"']  # ordering refused
    assert len(back) == 3
    frags_opt, back_opt = translate_filters(
        filters, ["pid", "street"], push_string_ordering=True
    )
    assert frags_opt == [
        'STR(?pid) > "urn:pid:5"',
        'STR(?street) <= "street-9"',
        'STR(?street) = "street-7"',
    ]
    assert len(back_opt) == 3


def test_filtered_read_is_correct_end_to_end(registered):
    """spark.read + .filter on the registered source: whether or not
    the fake server honors the pushed FILTER, re-application keeps the
    result exact."""
    from pyspark.sql import functions as F

    df = (
        registered.read.format("sparql")
        .option("mode", "fake")
        .option("fake_rows", "60")
        .option("variables", "pid,street")
        .option("query", "SELECT ?pid ?street WHERE { ?pid :street ?street }")
        .load()
        .filter(F.col("street") == "street-41")
    )
    assert [tuple(r) for r in df.collect()] == [("urn:pid:41", "street-41")]
