"""Minimal HTTP statement API — the reference's primary entry point.

Presto clients POST SQL to ``/v1/statement`` and poll result pages via
``nextUri`` (reference:
presto-main/.../server/protocol/StatementResource.java:84 (@Path), :150
(Query create), :166-170 (GET /v1/statement/{queryId}/{token});
CLI/JDBC speak the same protocol, SURVEY.md §3.2). This facade implements
that flow: POST returns the first page + ``nextUri`` when more rows exist;
GET ``/v1/statement/{id}/{token}`` pages through the buffered result. For
heavy remote clients use Spark Connect instead; this endpoint exists so a
presto-ads user's curl/HTTP integration keeps working.
"""

from __future__ import annotations

import datetime
import decimal
import json
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _json_default(v):
    # datetime is a date subclass, so it is tested first; only datetime's
    # isoformat takes ``sep``
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _error_body(query_id: str | None, e: Exception) -> dict:
    return {
        "id": query_id,
        "error": {
            "message": str(e).split("\n")[0],
            "errorType": type(e).__name__,
        },
        "stats": {"state": "FAILED"},
    }


class StatementServer:
    """``POST /v1/statement`` with the SQL text as the request body;
    ``GET /v1/statement/{id}/{token}`` for subsequent pages."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0,
                 max_rows: int = 100_000, page_rows: int = 1_000):
        self.engine = engine
        self.max_rows = max_rows
        self.page_rows = page_rows
        # queryId → (columns, all rows); bounded by max_rows per query.
        self._results: dict[str, tuple[list[dict], list[list]]] = {}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _reply(self, body: dict) -> None:
                try:
                    payload = json.dumps(body, default=_json_default)
                except Exception as e:  # in-band, never a dropped socket
                    outer._results.pop(body.get("id"), None)
                    payload = json.dumps(_error_body(body.get("id"), e))
                payload = payload.encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def do_POST(self):
                if self.path.rstrip("/") != "/v1/statement":
                    self.send_error(404)
                    return
                length = int(self.headers.get("Content-Length", 0))
                sql = self.rfile.read(length).decode("utf-8")
                self._reply(outer.execute(sql))

            def do_GET(self):
                parts = self.path.strip("/").split("/")
                if len(parts) == 4 and parts[:2] == ["v1", "statement"]:
                    body = outer.page(parts[2], int(parts[3]))
                    if body is not None:
                        self._reply(body)
                        return
                self.send_error(404)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._httpd.server_address
        self._thread: threading.Thread | None = None

    def _page_body(self, query_id: str, token: int) -> dict:
        columns, rows = self._results[query_id]
        start, end = token * self.page_rows, (token + 1) * self.page_rows
        body = {
            "id": query_id,
            "columns": columns,
            "data": rows[start:end],
            "stats": {"state": "FINISHED", "rows": len(rows)},
        }
        if end < len(rows):
            body["nextUri"] = (
                f"http://{self.host}:{self.port}/v1/statement/{query_id}/{token + 1}"
            )
        else:
            self._results.pop(query_id, None)  # drained
        return body

    def execute(self, sql: str) -> dict:
        query_id = str(uuid.uuid4())
        try:
            df = self.engine.sql(sql)
            rows = [list(r) for r in df.limit(self.max_rows).collect()]
            columns = [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in df.schema.fields
            ]
            self._results[query_id] = (columns, rows)
            return self._page_body(query_id, 0)
        except Exception as e:  # Presto reports errors in-band
            return _error_body(query_id, e)

    def page(self, query_id: str, token: int) -> dict | None:
        if query_id not in self._results:
            return None
        return self._page_body(query_id, token)

    def start(self) -> int:
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
