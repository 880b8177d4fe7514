"""HTTP statement-API tests (the /v1/statement surface)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from presto_ads_spark.server import StatementServer


@pytest.fixture(scope="module")
def server(engine):
    s = StatementServer(engine)
    s.start()
    yield s
    s.stop()


def _post(server, sql: str) -> dict:
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/v1/statement",
        data=sql.encode(),
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        return json.loads(resp.read())


def test_statement_roundtrip(server):
    body = _post(server, "SELECT count(*) AS n, 'x' AS tag FROM region")
    assert body["stats"]["state"] == "FINISHED"
    assert [c["name"] for c in body["columns"]] == ["n", "tag"]
    assert body["data"] == [[5, "x"]]


def test_statement_presto_dialect(server):
    body = _post(server, "SELECT approx_distinct(n_regionkey) AS nd FROM nation")
    assert body["stats"]["state"] == "FINISHED"
    assert body["data"][0][0] == 5


def test_statement_error_in_band(server):
    body = _post(server, "SELECT FROM nowhere")
    assert body["stats"]["state"] == "FAILED"
    assert "error" in body and body["error"]["message"]


def test_statement_date_and_timestamp_cells(server):
    body = _post(
        server, "SELECT DATE '2020-01-01', TIMESTAMP '2020-01-01 01:02:03'"
    )
    assert body["stats"]["state"] == "FINISHED"
    assert body["data"] == [["2020-01-01", "2020-01-01 01:02:03"]]


def test_statement_serialization_error_in_band(server, monkeypatch):
    from presto_ads_spark import server as server_mod

    def boom(v):
        raise TypeError(f"cannot encode {type(v).__name__}")

    monkeypatch.setattr(server_mod, "_json_default", boom)
    body = _post(server, "SELECT DATE '2020-01-01' AS d")
    assert body["stats"]["state"] == "FAILED"
    assert body["error"]["errorType"] == "TypeError"
    assert "date" in body["error"]["message"]


def test_statement_404(server):
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/v2/nope", data=b"x", method="POST"
    )
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(req, timeout=30)
    assert exc.value.code == 404


def _get(server, uri: str) -> dict:
    with urllib.request.urlopen(uri, timeout=60) as resp:
        return json.loads(resp.read())


def test_pagination_next_uri(engine):
    s = StatementServer(engine, page_rows=100)
    s.start()
    try:
        body = _post(s, "SELECT o_orderkey FROM orders WHERE o_orderkey < 250")
        total = body["stats"]["rows"]
        seen = [r[0] for r in body["data"]]
        pages = 1
        while "nextUri" in body:
            body = _get(s, body["nextUri"])
            seen.extend(r[0] for r in body["data"])
            pages += 1
        assert pages >= 2, "expected multiple pages"
        assert len(seen) == total == len(set(seen))
        # drained query is gone
        import pytest as _pytest

        with _pytest.raises(urllib.error.HTTPError):
            _get(s, f"http://{s.host}:{s.port}/v1/statement/{body['id']}/0")
    finally:
        s.stop()
