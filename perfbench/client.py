"""Closed-loop client side: the HTTP SPARQL client and the operation
record every workload fills."""

from __future__ import annotations

import http.client
import time
from dataclasses import dataclass
from urllib.parse import urlencode

ACCEPT = {"json": "application/sparql-results+json",
          "xml": "application/sparql-results+xml",
          "csv": "text/csv", "tsv": "text/tab-separated-values"}


@dataclass
class Op:
    """One completed client operation.  ``ok`` is decided by the checker
    after the timed window; ``answer`` keeps what it needs."""
    kind: str
    t0: float
    t1: float
    ok: bool = True
    answer: object = None
    nbytes: int = 0
    rows: int = 0
    note: str = ""
    key: int = 0             # hash of the HTTP request body sent
    client: int = 0          # closed-loop client that issued it

    @property
    def ms(self) -> float:
        return 1000.0 * (self.t1 - self.t0)


class HttpClient:
    """One keep-alive connection to the endpoint (SPARQL 1.1 protocol,
    form-encoded POST)."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        self.last_body = ""

    def _post(self, field: str, text: str, accept: str) -> tuple[int, bytes]:
        body = urlencode({field: text})
        self.last_body = body
        self.conn.request("POST", "/sparql", body=body, headers={
            "Content-Type": "application/x-www-form-urlencoded",
            "Accept": accept})
        resp = self.conn.getresponse()
        return resp.status, resp.read()

    def query(self, text: str, fmt: str = "json") -> tuple[int, bytes]:
        return self._post("query", text, ACCEPT[fmt])

    def update(self, text: str) -> tuple[int, bytes]:
        return self._post("update", text, ACCEPT["json"])

    def close(self) -> None:
        self.conn.close()


def timed(kind: str, fn, *args) -> tuple[Op, object]:
    """Run ``fn(*args)``; an exception makes a failed op, never a lost
    one."""
    t0 = time.perf_counter()
    try:
        out = fn(*args)
        op = Op(kind, t0, time.perf_counter())
    except Exception as e:  # noqa: BLE001 — counted, reported, not raised
        op, out = Op(kind, t0, time.perf_counter(), ok=False,
                     note=f"{type(e).__name__}: {e}"[:200]), None
    return op, out
