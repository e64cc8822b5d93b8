"""Local ClickHouse stand-in on 127.0.0.1 (stdlib ``http.server``).

It speaks the HTTP contract ``sinks.clickhouse`` uses: the body is the
query line, then for inserts one JSONCompactEachRow array per line. It
accepts the DDL bootstrap and insert POSTs, checks every row against the
nine insert columns, stamps the receipt time of every accepted row and
counts requests, rows and rejects. An insert with any bad row is refused
with HTTP 400, as ClickHouse refuses the whole block.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from http_log_anonymizer_spark.schema import clickhouse_insert_ddl

INSERT_HEADER = f"{clickhouse_insert_ddl('http_log')} FORMAT JSONCompactEachRow"
# JSON type of each insert column, in insert-DDL order
_KINDS = (int, int, int, int, int, str, str, str, str)
_UINT_MAX = (2**32 - 1, 2**64 - 1, 2**64 - 1, 2**64 - 1, 2**16 - 1)


def parse_row(line: str) -> tuple | None:
    """One JSONCompactEachRow line -> tuple of the nine insert columns, or
    None if it does not fit them (arity, types, unsigned ranges)."""
    try:
        row = json.loads(line)
    except ValueError:
        return None
    if not isinstance(row, list) or len(row) != len(_KINDS):
        return None
    for v, kind in zip(row, _KINDS):
        if type(v) is not kind:  # bool is not an int here
            return None
    if any(not 0 <= v <= hi for v, hi in zip(row, _UINT_MAX)):
        return None
    return tuple(row)


class ClickHouseStub:
    def __init__(self) -> None:
        self.rows: list[tuple] = []  # accepted rows
        self.received_at: list[float] = []  # epoch seconds, one per accepted row
        self.requests = 0
        self.ddl_requests = 0
        self.failed_requests = 0
        self.rejected_rows = 0
        self._lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 - stdlib API name
                body = self.rfile.read(int(self.headers.get("Content-Length", 0))).decode()
                code = stub.handle(body, time.time())
                self.send_response(code)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *a) -> None:
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_port}"
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    def handle(self, body: str, now: float) -> int:
        query, _, data = body.partition("\n")
        with self._lock:
            self.requests += 1
            if query.lstrip().startswith("CREATE TABLE"):
                self.ddl_requests += 1
                return 200
            if query.strip() != INSERT_HEADER:
                self.failed_requests += 1
                return 400
            rows = [parse_row(line) for line in data.split("\n") if line]
            bad = sum(1 for r in rows if r is None)
            if bad:
                self.rejected_rows += bad
                self.failed_requests += 1
                return 400
            self.rows.extend(rows)
            self.received_at.extend([now] * len(rows))
            return 200

    def row_count(self) -> int:
        with self._lock:
            return len(self.rows)

    def __enter__(self) -> "ClickHouseStub":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join()
