"""ESRI FeatureServer as a PySpark 4 Python Data Source (DSv2-style):

    spark.dataSource.register(EsriDataSource)
    df = (spark.read.format("esri")
          .option("layer_url", "...")
          .option("page_size", "2000")
          .option("where", "last_edited_date >= DATE '2026-01-01'")
          .load())

This is the fully-idiomatic form of SURVEY §2.1 S5: the planner calls
``partitions()`` (one per page, driven by a server-side count — the
reference's count-before-scan, geocode.py:296-301) and executes
``read`` per partition across the cluster. Filter pushdown maps the
incremental predicate into the ESRI ``where`` option (P5); column
pruning maps to ``outFields``, which are the read schema's field names.

Every read goes through ``EsriClient`` (``sources/esri_http.py``), built
per task by ``_client`` — nothing network-bound is serialized.
``mode=fake`` only swaps its urllib transport for a deterministic
synthetic layer, so offline tests exercise the same count and
``fetch_page`` calls as a live read.

The page plan and the ``{"next": <row offset>}`` stream offset protocol
(``PagePartition``, ``page_partitions``, ``OffsetStreamReader``) are
shared with the SPARQL source (``sources/sparql_datasource.py``).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from .esri_http import EsriClient, urllib_transport

DEFAULT_SCHEMA = "objectid bigint, pid string, type string, x double, y double"


@dataclass
class PagePartition(InputPartition):
    offset: int
    count: int


def page_partitions(total: int, page_size: int) -> list[PagePartition]:
    """One partition per ``page_size`` window of a ``total``-row result;
    an empty result still plans one (empty) partition."""
    return [PagePartition(o, page_size) for o in range(0, max(total, 1), page_size)]


class OffsetStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch offset protocol of both sources' stream readers. The
    offset is ``{"next": <row offset>}``: each batch reads the next
    ``page_size`` rows up to the source's current total, and
    ``readBetweenOffsets`` replays any committed (start, end] range
    through the same ``_rows``. A source supplies ``page_size``,
    ``_total()`` and ``_rows(lo, hi)``; replay is exact only when
    ``_rows`` pins a total order."""

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict) -> tuple:
        lo = int(start["next"])
        hi = min(lo + self.page_size, self._total())
        if hi <= lo:
            return iter(()), {"next": lo}
        return iter(self._rows(lo, hi)), {"next": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(int(start["next"]), int(end["next"])))


def _fake_feature(i: int) -> dict:
    """Feature i of the synthetic layer."""
    return {
        "attributes": {
            "objectid": i,
            "pid": str(100000 + i),
            "type": f"https://linked.data.gov.au/def/geocode-types/type-{i % 7}",
        },
        "geometry": {"x": 138.0 + (i % 1600) / 100.0, "y": -29.0 + (i % 2000) / 100.0},
    }


def _fake_transport(options: dict):
    """A FeatureServer transport serving ``fake_count`` synthetic
    features (default 5000) in objectid order: ``returnCountOnly``
    gets the count, paged queries get their ``features`` window. The
    ``where`` clause is ignored — Spark re-applies every pushed
    filter, so results stay exact."""
    total = int(options.get("fake_count", "5000"))

    def transport(_url: str, data: dict) -> dict:
        if data.get("returnCountOnly") == "true":
            return {"count": total}
        lo = int(data["resultOffset"])
        hi = min(lo + int(data["resultRecordCount"]), total)
        return {"features": [_fake_feature(i) for i in range(lo, hi)]}

    return transport


def _client(options: dict) -> EsriClient:
    fake = options.get("mode") == "fake"
    return EsriClient(
        layer_url="fake://" if fake else options["layer_url"],
        token_url=options.get("token_url"),
        username=options.get("username", ""),
        password=options.get("password", ""),
        transport=_fake_transport(options) if fake else urllib_transport,
    )


def _resolve_order_by(options: dict, schema) -> str:
    """Order field for paged reads: an explicit ``order_by`` option wins
    (empty string disables ordering for servers that reject it); else
    ``objectid`` when the schema carries one; else the schema's FIRST
    field — a layer whose OID is named differently (FID, OBJECTID_1)
    must not be sent a field the server will reject."""
    if "order_by" in options:
        return options["order_by"]
    names = [f.name for f in schema.fields]
    if not names:
        raise ValueError(
            "paged reads need an order field, but the read schema has no "
            "fields (no 'objectid', no first field): set the 'order_by' option"
        )
    return "objectid" if "objectid" in names else names[0]


class _LayerPages:
    """What the ESRI batch and stream readers share: the layer count and
    one page of rows under ``self.where``, decoded in schema order
    (geometry ``x``/``y`` from the feature geometry, every other field
    from its attributes)."""

    def __init__(self, options: dict, schema: StructType):
        self.options = options
        self.schema = schema
        self.page_size = int(options.get("page_size", "2000"))
        self.where = options.get("where", "1=1")

    def _total(self) -> int:
        return _client(self.options).count(self.where)

    def _rows(self, lo: int, hi: int) -> list[tuple]:
        fields = [f.name for f in self.schema.fields]
        features = _client(self.options).fetch_page(
            lo,
            hi - lo,
            where=self.where,
            out_fields=fields,
            # pinned order: partitions and replays page the same layer
            # at different times; without orderByFields the server may
            # return overlapping/missing rows across page boundaries
            order_by=_resolve_order_by(self.options, self.schema),
        )
        out = []
        for feat in features:
            attrs = feat.get("attributes", {})
            geom = feat.get("geometry", {})
            out.append(
                tuple(geom.get(f) if f in ("x", "y") else attrs.get(f) for f in fields)
            )
        return out


class EsriReader(_LayerPages, DataSourceReader):
    def pushFilters(self, filters):
        """Best-effort pushdown (P5 at the DSv2 layer): supported
        comparison filters are translated into the server-side ``where``
        clause (ArcGIS REST accepts SQL-92 where syntax) — the page
        COUNT shrinks, so fewer partitions and fewer rows transfer —
        and are ALSO returned so Spark re-applies them (safe even if
        the server's evaluation differs; the reference trusts the
        server the same way for last_edited_date). Covers numeric AND
        string comparisons, IN lists, NULL probes, and prefix LIKE."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringStartsWith,
        )

        # Safety invariant for every pushed fragment: it must be a
        # SUPERSET of Spark's own predicate under ANY backend collation
        # — a narrower server predicate silently LOSES rows that
        # re-application cannot resurrect. Equality / IN / prefix-LIKE
        # are supersets under case-insensitive collations (byte-equal
        # strings compare equal everywhere; CI matching only ADDS rows,
        # which Spark filters back out). ORDERING comparisons are NOT:
        # a CI collation can order 'abc' < 'Z' where Spark's binary
        # comparison keeps it, so > < >= <= push for NUMERIC values
        # only (collation-independent).
        def lit(v) -> str | None:
            if isinstance(v, bool) or not isinstance(v, (int, float, str)):
                return None
            if isinstance(v, str):
                return "'" + v.replace("'", "''") + "'"
            return str(v)

        ops = {
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        fragments = []
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr is None or len(attr) != 1:
                continue
            col = attr[0]
            op = ops.get(type(f))
            if op is not None:
                if isinstance(f.value, bool) or not isinstance(
                    f.value, (int, float)
                ):
                    continue  # string ordering is collation-dependent
                fragments.append(f"{col} {op} {f.value}")
            elif isinstance(f, EqualTo):
                v = lit(f.value)
                if v is not None:
                    fragments.append(f"{col} = {v}")
            elif isinstance(f, In):
                vals = [lit(x) for x in f.value]
                if vals and all(v is not None for v in vals):
                    fragments.append(f"{col} IN ({', '.join(vals)})")
            elif isinstance(f, IsNull):
                fragments.append(f"{col} IS NULL")
            elif isinstance(f, IsNotNull):
                fragments.append(f"{col} IS NOT NULL")
            elif isinstance(f, StringStartsWith) and isinstance(f.value, str):
                # %/_ are LIKE wildcards everywhere; [ opens a character
                # class on SQL-Server-backed geodatabases — any of them
                # in the prefix would push a NARROWER predicate, so skip
                if not any(ch in f.value for ch in "%_["):
                    pfx = f.value.replace("'", "''")
                    fragments.append(f"{col} LIKE '{pfx}%'")
        if fragments:
            self.where = " AND ".join([self.where, *fragments])
        return filters  # Spark re-applies everything (partial pushdown)

    def partitions(self) -> Sequence[InputPartition]:
        return page_partitions(self._total(), self.page_size)

    def read(self, partition: PagePartition) -> Iterator[tuple]:
        return iter(self._rows(partition.offset, partition.offset + partition.count))


class EsriStreamReader(_LayerPages, OffsetStreamReader):
    """Micro-batch incremental scan of the layer: each batch fetches
    the next ``page_size`` features past the committed row offset —
    the streaming twin of the reference's incremental
    last_edited_date pull (geocode.py:469-488), expressed as a
    PySpark 4 streaming Python data source.

    Pages are read with ``orderByFields=<order_by>`` (default
    ``objectid``) pinning a total order — ESRI row order without an
    explicit order is not contractual, so unordered offset pages could
    replay different rows than originally committed. With the order
    pinned, replay is exact for STATIC or APPEND-ONLY layers (new
    features get higher objectids and land past the watermark). A live
    layer that DELETES features can still shift rows below the
    watermark between read and replay — offset-based paging cannot be
    exactly-once there; freeze mutable layers with a ``where`` snapshot
    predicate instead."""


class EsriDataSource(DataSource):
    """spark.read.format("esri") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "esri"

    def schema(self) -> str:
        return self.options.get("schema", DEFAULT_SCHEMA)

    def reader(self, schema: StructType) -> DataSourceReader:
        return EsriReader(dict(self.options), schema)

    def simpleStreamReader(self, schema: StructType) -> EsriStreamReader:
        return EsriStreamReader(dict(self.options), schema)
