"""SparqlClient against a fake transport: bindings parse and backoff."""

from __future__ import annotations

from cam_location_addressing_feature_service_etl_spark.sources.sparql_http import (
    SparqlClient,
)

ROWS = [
    {"iri": {"value": f"https://x/{i}"}, "name": {"value": f"n{i}"}} for i in range(25)
]


class FakeTransport:
    def __init__(self):
        self.fail_next = 0

    def __call__(self, url, form):
        if self.fail_next > 0:
            self.fail_next -= 1
            raise ConnectionError("transient")
        return {"results": {"bindings": ROWS}}


def test_query_parses_bindings():
    c = SparqlClient("https://example.com/sparql", transport=FakeTransport())
    assert c.query("SELECT ...") == ROWS


def test_backoff_then_success():
    t = FakeTransport()
    t.fail_next = 2
    c = SparqlClient("https://example.com/sparql", transport=t, max_backoff_seconds=5)
    assert len(c.query("SELECT ...")) == 25

