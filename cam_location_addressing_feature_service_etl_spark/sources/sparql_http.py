"""Concrete SPARQL endpoint client (connector edge for S1/S2).

Mirrors ``address_etl/crud.py:25-48``: POST the query text, parse the
JSON bindings, exponential backoff on transport errors. Transport is
injected; the default uses stdlib urllib. The ``spark.read.format
("sparql")`` readers (``sources/sparql_datasource.py``) build one client
per task and do all paging, COUNT planning and the reference's
two-phase keys → VALUES-batched detail extract on top of ``query``.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

Transport = Callable[[str, dict], dict]


def urllib_sparql_transport(url: str, form: dict) -> dict:  # pragma: no cover - network
    import urllib.request
    from urllib.parse import urlencode

    req = urllib.request.Request(
        url,
        data=urlencode(form).encode(),
        headers={"Accept": "application/sparql-results+json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=600) as resp:
        return json.loads(resp.read().decode())


class SparqlClient:
    def __init__(
        self,
        endpoint: str,
        transport: Transport = urllib_sparql_transport,
        max_backoff_seconds: float = 900.0,
    ):
        self.endpoint = endpoint
        self.transport = transport
        self.max_backoff_seconds = max_backoff_seconds

    def query(self, query_text: str) -> list[dict[str, dict[str, str]]]:
        """One query → binding rows ({var: {"value": ...}}), with
        exponential backoff on transport failure (crud.py:19-24)."""
        delay, waited = 1.0, 0.0
        while True:
            try:
                resp = self.transport(self.endpoint, {"query": query_text})
                return resp["results"]["bindings"]
            except Exception:
                if waited >= self.max_backoff_seconds:
                    raise
                time.sleep(min(delay, self.max_backoff_seconds - waited))
                waited += delay
                delay *= 2
