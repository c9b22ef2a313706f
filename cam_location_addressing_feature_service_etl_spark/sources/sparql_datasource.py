"""SPARQL endpoint as a PySpark 4 Python Data Source — the symmetry
partner of ``sources/esri_datasource.py`` (r10 verdict #7), so the
reference's two-phase VALUES extract becomes one declarative read:

    spark.dataSource.register(SparqlDataSource)
    df = (spark.read.format("sparql")
          .option("endpoint", "https://.../sparql")
          .option("variables", "pid,street,locality")
          .option("query", "SELECT ?pid ?street ?locality WHERE {...}")
          .load())

Two partition-planning modes, both executed by workers against the
endpoint with ``sources/sparql_http.py SparqlClient`` (each task builds
its own client — nothing network-bound is serialized):

- **paged** (default): the planner wraps the query in
  ``SELECT (COUNT(*) AS ?n) {{ ... }}`` for a server-side count and
  emits one partition per ``page_size`` window; each partition appends
  ``ORDER BY ?var LIMIT/OFFSET`` (OFFSET without ORDER BY is not a
  stable order in SPARQL — same discipline as the ESRI source's
  ``orderByFields``).
- **keys**: the reference's keys-then-details shape
  (``address_etl/pls/tables.py:401-472``: an address-keys query, then
  detail queries VALUES-batched ≤10k keys). The planner pages
  ``keys_query`` in ``ORDER BY ?key_var`` windows of ``page_size``
  until a short page, chunks the distinct keys into ``key_batch``-sized
  partitions, and each partition substitutes its
  ``VALUES ?key {{ <k1> <k2> ... }}`` block for the ``{values}``
  placeholder in the query — the reference's Jinja template loop,
  re-expressed as partition planning so the detail fetch fans out
  across the cluster instead of looping on one driver.

Unbound OPTIONAL variables surface as NULLs (P6).

``mode=fake`` serves a deterministic synthetic endpoint (count, paging,
VALUES batches, an ``_opt``-suffixed sometimes-unbound variable) so the
source is fully testable offline; the live mode uses SparqlClient's
urllib transport with its backoff contract (``crud.py:19-48``).
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from .esri_datasource import OffsetStreamReader, PagePartition, page_partitions
from .sparql_http import SparqlClient, urllib_sparql_transport


@dataclass
class KeyBatchPartition(InputPartition):
    keys: tuple[str, ...]


# ---------------------------------------------------------------------------
# deterministic fake endpoint (offline tests; options-driven so it
# exists identically inside executor workers)
# ---------------------------------------------------------------------------


def _fake_rows(options: dict) -> int:
    return int(options.get("fake_rows", "1000"))


def _fake_binding(variables: Sequence[str], i: int) -> dict:
    """Row i of the synthetic store: the first variable is the key IRI,
    ``*_opt`` variables are unbound every third row (the OPTIONAL-NULL
    path), the rest are derived literals."""
    row: dict[str, dict[str, str]] = {}
    for j, v in enumerate(variables):
        if j == 0:
            row[v] = {"value": f"urn:pid:{i}"}
        elif v.endswith("_opt") and i % 3 == 0:
            continue
        else:
            row[v] = {"value": f"{v}-{i}"}
    return row


def _fake_transport_factory(options: dict):
    """A SPARQL transport serving the synthetic store. Recognizes the
    three query shapes the reader emits: COUNT wrap, VALUES-batched
    detail, and plain SELECT with LIMIT/OFFSET paging. The page window
    is the trailing ``LIMIT n OFFSET m`` that ``_page_query`` appends;
    a ``LIMIT`` inside the user's query only caps the row universe."""
    total = _fake_rows(options)
    variables = _variables(options)

    def transport(_url: str, form: dict) -> dict:
        q = form["query"]
        window = re.search(r"\bLIMIT\s+(\d+)\s+OFFSET\s+(\d+)\s*$", q)
        if window:
            q = q[: window.start()]
        values = re.search(r"VALUES\s+\?\w+\s*\{([^}]*)\}", q)
        if values:
            keys = re.findall(r"<([^>]+)>", values.group(1))
            idx = [int(k.rsplit(":", 1)[1]) for k in keys]
            rows = [_fake_binding(variables, i) for i in sorted(idx) if i < total]
        else:
            rows = [_fake_binding(variables, i) for i in range(total)]
        inner = re.search(r"\bLIMIT\s+(\d+)", q)
        if inner:
            rows = rows[: int(inner.group(1))]
        # honor pushed-down equality/BOUND filters so the COUNT a
        # pushdown plans against genuinely shrinks (the live server
        # does the same; anything fancier Spark re-applies anyway)
        for v, val in re.findall(r'FILTER\(STR\(\?(\w+)\) = "([^"]*)"\)', q):
            rows = [r for r in rows if r.get(v, {}).get("value") == val]
        for v in re.findall(r"FILTER\(BOUND\(\?(\w+)\)\)", q):
            rows = [r for r in rows if v in r]
        if "(COUNT(*) AS ?n)" in q:
            return {"results": {"bindings": [{"n": {"value": str(len(rows))}}]}}
        if not window:
            return {"results": {"bindings": rows}}
        lo = int(window.group(2))
        return {"results": {"bindings": rows[lo : lo + int(window.group(1))]}}

    return transport


def _subselect(query: str, filters: Sequence[str] = ()) -> str:
    """The user's query wrapped as a SPARQL subselect ``{ <query> }``
    so appended solution modifiers (ORDER BY / LIMIT / OFFSET, or the
    COUNT projection) compose with a query that already carries its
    own modifiers — appending them directly after a query ending in
    ORDER BY/LIMIT would be invalid SPARQL or silently mis-page. The
    newline before ``}`` keeps a trailing ``# comment`` from swallowing
    the closing brace. ``filters``: pushed-down FILTER expressions,
    applied OUTSIDE the subselect (over its projected variables) so
    they compose with any inner modifiers."""
    body = f"{{\n{query}\n}}"
    for frag in filters:
        body += f"\nFILTER({frag})"
    return f"{{ {body} }}" if filters else body


def _count_query(query: str, filters: Sequence[str] = ()) -> str:
    return f"SELECT (COUNT(*) AS ?n) WHERE {_subselect(query, filters)}"


def _page_query(
    query: str,
    order_var: str,
    limit: int,
    offset: int,
    filters: Sequence[str] = (),
) -> str:
    return (
        f"SELECT * WHERE {_subselect(query, filters)}"
        f"\nORDER BY ?{order_var}\nLIMIT {limit}\nOFFSET {offset}"
    )


def _sparql_str(value) -> str:
    """A SPARQL string literal with quotes/backslashes escaped."""
    s = str(value).replace("\\", "\\\\").replace('"', '\\"')
    return f'"{s}"'


def translate_filters(
    filters, variables, push_string_ordering: bool = False
) -> tuple[list[str], list]:
    """Best-effort Catalyst-filter → SPARQL FILTER translation for the
    pushdown path. Returns (fragments, all filters) — every filter is
    handed back to Spark for re-application, so a server whose string
    semantics differ cannot corrupt results (partial-pushdown
    discipline, same as the ESRI source). Supported: (in)equality
    on projection variables (STR-compared — this source surfaces every
    variable as a string), IN lists, BOUND/!BOUND for null probes, and
    prefix/suffix/contains string predicates.

    String ORDERING comparisons (>, >=, <, <=) push only when
    ``push_string_ordering`` is True. The SPARQL spec pins
    plain-literal comparison to Unicode codepoint order (fn:compare,
    simple collation) — exactly Spark's binary UTF8 ordering — so on a
    spec-conformant endpoint the push is superset-safe. But a pushed
    filter SHRINKS the server-side rowset: against a non-conformant
    endpoint (custom collation) Spark's re-application cannot
    resurrect rows the server never returned, which is why the ESRI
    reader refuses this class of push outright. Default is therefore
    the conservative ESRI behavior; callers opt in per endpoint via
    the ``push_string_ordering`` reader option when they trust its
    conformance."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    ops = {EqualTo: "="}
    if push_string_ordering:
        ops |= {
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
    fns = {
        StringStartsWith: "STRSTARTS",
        StringEndsWith: "STRENDS",
        StringContains: "CONTAINS",
    }
    frags: list[str] = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1 or attr[0] not in variables:
            continue
        v = f"?{attr[0]}"
        op = ops.get(type(f))
        if op is not None:
            frags.append(f"STR({v}) {op} {_sparql_str(f.value)}")
        elif isinstance(f, In):
            vals = ", ".join(_sparql_str(x) for x in f.value)
            frags.append(f"STR({v}) IN ({vals})")
        elif isinstance(f, IsNotNull):
            frags.append(f"BOUND({v})")
        elif isinstance(f, IsNull):
            frags.append(f"!BOUND({v})")
        elif type(f) in fns:
            frags.append(f"{fns[type(f)]}(STR({v}), {_sparql_str(f.value)})")
    return frags, list(filters)


def _variables(options: dict) -> list[str]:
    raw = options.get("variables", "")
    out = [v.strip() for v in raw.split(",") if v.strip()]
    if not out:
        raise ValueError(
            "sparql source requires the 'variables' option "
            "(comma-separated projection variables)"
        )
    return out


def _client(options: dict) -> SparqlClient:
    if options.get("mode") == "fake":
        return SparqlClient("fake://", transport=_fake_transport_factory(options))
    return SparqlClient(  # pragma: no cover - network
        options["endpoint"], transport=urllib_sparql_transport
    )


class _ResultPages:
    """What the SPARQL batch and stream readers share: the server-side
    COUNT and one ORDER BY-pinned page of the (filtered) query, decoded
    in projection order with unbound variables as None."""

    def __init__(self, options: dict, schema: StructType):
        self.options = options
        self.schema = schema
        self.variables = _variables(options)
        self.page_size = int(options.get("page_size", "10000"))
        self.query = options["query"]
        # OFFSET paging is only a stable order when the query is
        # ordered; default to the first projection variable
        self.order_var = options.get("order_var", self.variables[0])
        self.filter_frags: list[str] = []

    def _tuples(self, bindings: list[dict]) -> list[tuple]:
        return [tuple(r.get(v, {}).get("value") for v in self.variables) for r in bindings]

    def _total(self) -> int:
        q = _count_query(self.query, self.filter_frags)
        return int(_client(self.options).query(q)[0]["n"]["value"])

    def _rows(self, lo: int, hi: int) -> list[tuple]:
        q = _page_query(self.query, self.order_var, hi - lo, lo, self.filter_frags)
        return self._tuples(_client(self.options).query(q))


class SparqlReader(_ResultPages, DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        super().__init__(options, schema)
        self.key_batch = int(options.get("key_batch", "10000"))
        self.keys_query = options.get("keys_query")
        self.key_var = options.get("key_var", self.variables[0])

    def pushFilters(self, filters):
        """Filter pushdown at the DSv2 layer (the SPARQL twin of the
        ESRI reader's P5 pushdown): supported predicates become
        FILTER(...) clauses composed OUTSIDE the subselect wrap — the
        server-side COUNT shrinks, so fewer page partitions plan and
        fewer bindings transfer. Every filter is returned so Spark
        re-applies it (partial-pushdown safety). String-ordering
        comparisons push only with reader option
        ``push_string_ordering=true`` (endpoint-conformance opt-in —
        see ``translate_filters``)."""
        self.filter_frags, back = translate_filters(
            filters,
            self.variables,
            self.options.get("push_string_ordering", "false").lower()
            == "true",
        )
        return back

    # -- planning ----------------------------------------------------------
    def _keys(self) -> list[str]:
        """Every distinct key ``keys_query`` binds, sorted. Paged with
        the same subselect wrap and ORDER BY pin as the detail pages, so
        a keys query with its own modifiers stays valid and no key is
        skipped between pages; stops at the first short page."""
        client = _client(self.options)
        keys: set[str] = set()
        offset = 0
        while True:
            page = client.query(
                _page_query(self.keys_query, self.key_var, self.page_size, offset)
            )
            keys.update(r[self.key_var]["value"] for r in page if self.key_var in r)
            if len(page) < self.page_size:
                return sorted(keys)
            offset += self.page_size

    def partitions(self) -> Sequence[InputPartition]:
        if self.keys_query is None:
            return page_partitions(self._total(), self.page_size)
        keys = self._keys()
        return [
            KeyBatchPartition(keys=tuple(keys[o : o + self.key_batch]))
            for o in range(0, max(len(keys), 1), self.key_batch)
        ]

    # -- execution ---------------------------------------------------------
    def read(self, partition: InputPartition) -> Iterator[tuple]:
        if isinstance(partition, PagePartition):
            return iter(self._rows(partition.offset, partition.offset + partition.count))
        if not partition.keys:
            # empty key universe: an empty VALUES {} block is invalid
            # SPARQL — the one planned partition is empty
            return iter(())
        block = " ".join(f"<{k}>" for k in partition.keys)
        q = self.query.replace("{values}", f"VALUES ?{self.key_var} {{ {block} }}")
        return iter(self._tuples(_client(self.options).query(q)))


class SparqlDataSource(DataSource):
    """spark.read.format("sparql") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "sparql"

    def schema(self) -> str:
        return ", ".join(f"{v} string" for v in _variables(dict(self.options)))

    def reader(self, schema: StructType) -> DataSourceReader:
        return SparqlReader(dict(self.options), schema)

    def simpleStreamReader(self, schema: StructType) -> SparqlStreamReader:
        return SparqlStreamReader(dict(self.options), schema)


class SparqlStreamReader(_ResultPages, OffsetStreamReader):
    """Micro-batch incremental scan of a SPARQL result set — the
    symmetry twin of ``EsriStreamReader`` (``spark.readStream
    .format("sparql")``): each batch fetches the next ``page_size``
    rows past the committed row-offset watermark with ORDER BY pinned
    (the same stability discipline as the batch reader — OFFSET
    without ORDER BY is not a stable order, so replay could deliver
    different rows than originally committed). Replay of any
    committed range is exact for a STATIC or APPEND-AT-END result
    set — a store whose earlier bindings mutate between read and
    replay cannot be exactly-once under offset paging (freeze with a
    snapshot graph/named-graph predicate instead, the analogue of the
    ESRI ``where`` snapshot)."""
