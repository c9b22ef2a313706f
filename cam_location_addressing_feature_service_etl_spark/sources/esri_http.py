"""Concrete ESRI FeatureServer HTTP client (connector edge).

Reproduces the reference's connector behaviors
(``address_etl/esri_rest_api.py``, ``address_etl/geocode.py:398-466``,
``address_etl/crud.py:19-24``):

- token auth via ``generateToken`` (15-min expiry)
- re-auth + retry on ESRI error 498 (invalid token)
- exponential backoff on transport errors, bounded budget
- ``returnCountOnly`` counts, paged ``query`` calls with
  ``resultOffset``/``resultRecordCount``/``outFields``

Transport is injected (``send(url, data) -> dict``) so everything is
testable offline; the default transport uses stdlib urllib — no
third-party HTTP dependency. In the engine, the ``spark.read.format
("esri")`` readers (``sources/esri_datasource.py``) construct one
client per Spark task from their options (connections are not
serializable, so only the config travels).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import urlencode

Transport = Callable[[str, dict], dict]


def urllib_transport(url: str, data: dict) -> dict:  # pragma: no cover - network
    import urllib.request

    req = urllib.request.Request(
        url, data=urlencode(data).encode(), method="POST"
    )
    with urllib.request.urlopen(req, timeout=600) as resp:
        return json.loads(resp.read().decode())


class EsriError(RuntimeError):
    def __init__(self, code: int, message: str):
        super().__init__(f"ESRI error {code}: {message}")
        self.code = code


@dataclass
class EsriClient:
    layer_url: str
    token_url: str | None = None
    username: str = ""
    password: str = ""
    transport: Transport = urllib_transport
    max_backoff_seconds: float = 900.0
    token_refresh_margin: float = 60.0
    _token: str | None = field(default=None, repr=False)
    _token_expiry: float = field(default=0.0, repr=False)

    # --- auth -------------------------------------------------------------

    def token(self) -> str | None:
        """S3: generateToken with expiry tracking (esri_rest_api.py:27-54)."""
        if self.token_url is None:
            return None
        now = time.monotonic()
        if self._token is None or now >= self._token_expiry - self.token_refresh_margin:
            resp = self.transport(
                self.token_url,
                {
                    "username": self.username,
                    "password": self.password,
                    "f": "json",
                    "client": "referer",
                    "referer": self.layer_url,
                },
            )
            if "token" not in resp:
                raise EsriError(resp.get("error", {}).get("code", -1), "token request failed")
            self._token = resp["token"]
            self._token_expiry = now + float(resp.get("expires_in", 15 * 60))
        return self._token

    # --- request core with backoff + 498 re-auth --------------------------

    def _request(self, params: dict) -> dict:
        delay = 1.0
        waited = 0.0
        while True:
            try:
                full = dict(params, f="json")
                tok = self.token()
                if tok is not None:
                    full["token"] = tok
                resp = self.transport(f"{self.layer_url}/query", full)
                err = resp.get("error")
                if err:
                    if err.get("code") == 498:
                        # invalid token: force re-auth once, then retry
                        self._token = None
                        continue
                    raise EsriError(err.get("code", -1), str(err.get("message", "")))
                return resp
            except EsriError:
                raise
            except Exception:
                if waited >= self.max_backoff_seconds:
                    raise
                time.sleep(min(delay, self.max_backoff_seconds - waited))
                waited += delay
                delay *= 2

    # --- query surface -----------------------------------------------------

    def count(self, where: str = "1=1") -> int:
        """S4: returnCountOnly=true (esri_rest_api.py:83-113)."""
        resp = self._request({"where": where, "returnCountOnly": "true"})
        return int(resp["count"])

    def fetch_page(
        self,
        offset: int,
        record_count: int,
        where: str = "1=1",
        out_fields: list[str] | None = None,
        order_by: str | None = None,
    ) -> list[dict]:
        """S5: one page of features with their geometry
        (geocode.py:398-427).

        ``order_by`` sends ``orderByFields``: ESRI row order without an
        explicit order is NOT contractual, so any caller that pages by
        resultOffset and needs the same rows on replay (the streaming
        reader's exactly-once contract) must pin a total order.
        """
        params = {
            "where": where,
            "resultOffset": str(offset),
            "resultRecordCount": str(record_count),
            "outFields": ",".join(out_fields) if out_fields else "*",
            "returnGeometry": "true",
        }
        if order_by:
            params["orderByFields"] = order_by
        resp = self._request(params)
        return resp.get("features", [])

    def distinct_values(self, fld: str) -> list:
        """D4: returnDistinctValues pushdown over every row
        (geocode.py:331-338)."""
        resp = self._request(
            {
                "where": "1=1",
                "returnDistinctValues": "true",
                "outFields": fld,
                "returnGeometry": "false",
            }
        )
        return [f["attributes"][fld] for f in resp.get("features", [])]

    def layer_fields(self) -> list[str]:
        """S6: layer definition probe (field list for schema resolution)."""
        resp = self.transport(self.layer_url, {"f": "json"})
        return [f["name"] for f in resp.get("fields", [])]
