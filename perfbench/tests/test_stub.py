"""ClickHouse stub: row parsing against the nine insert columns."""

import json
import urllib.request

import pytest

from stub import INSERT_HEADER, ClickHouseStub, parse_row

GOOD = [1700000000, 7, 100, 20, 200, "HIT", "GET", "1.2.3.x", "/x"]


def test_parse_row_accepts_the_insert_columns():
    assert parse_row(json.dumps(GOOD)) == tuple(GOOD)


@pytest.mark.parametrize("row", [
    GOOD[:-1],                      # arity
    GOOD + ["extra"],
    [True] + GOOD[1:],              # bool is not UInt
    [1.5] + GOOD[1:],               # float timestamp
    GOOD[:1] + [-1] + GOOD[2:],     # negative UInt64
    GOOD[:4] + [70000] + GOOD[5:],  # UInt16 overflow
    GOOD[:5] + [1] + GOOD[6:],      # String column holds a number
])
def test_parse_row_rejects(row):
    assert parse_row(json.dumps(row)) is None


def test_parse_row_rejects_non_json():
    assert parse_row("[1,2") is None


def test_handle_counts_and_refuses_bad_blocks():
    stub = ClickHouseStub()
    try:
        assert stub.handle("CREATE TABLE IF NOT EXISTS http_log (...)", 1.0) == 200
        body = INSERT_HEADER + "\n" + json.dumps(GOOD) + "\n" + json.dumps(GOOD)
        assert stub.handle(body, 2.0) == 200
        assert stub.handle(INSERT_HEADER + "\n[1]", 3.0) == 400
        assert stub.handle("SELECT 1", 4.0) == 400
    finally:
        stub.server.server_close()
    assert stub.rows == [tuple(GOOD)] * 2 and stub.received_at == [2.0, 2.0]
    assert (stub.requests, stub.ddl_requests, stub.failed_requests, stub.rejected_rows) == (4, 1, 2, 1)


def test_stub_serves_http_posts():
    with ClickHouseStub() as stub:
        data = (INSERT_HEADER + "\n" + json.dumps(GOOD)).encode()
        with urllib.request.urlopen(urllib.request.Request(stub.url, data=data), timeout=10) as r:
            assert r.status == 200
    assert stub.row_count() == 1
