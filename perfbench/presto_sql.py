"""presto_sql workload: Presto-dialect statements over HTTP.

One client in a closed loop sends each statement as ``POST /v1/statement``
to an in-process ``server.StatementServer`` and follows ``nextUri`` until
the result ends. The data is the unprefixed-column views the H2 tier uses.
Rows are decoded by the reply's column types and compared, after the run,
with DuckDB over the same views (the H2 tier's comparison, tolerance cases
included) or with the result the generator recorded.
"""

from __future__ import annotations

import datetime as dt
import decimal
import http.client
import json
import statistics
import threading
import time
import urllib.parse
from contextlib import nullcontext
from dataclasses import dataclass

from . import workloads
from .stats import percentile, reportable_percentile


@dataclass
class Reply:
    columns: list[dict]
    rows: list[list]
    pages: int = 0
    nbytes: int = 0


@dataclass
class OpResult:
    op: workloads.Op
    seconds: float
    timed: bool
    rows: list | None = None
    columns: list | None = None
    error: str | None = None
    pages: int = 0
    nbytes: int = 0


class StatementError(Exception):
    pass


# what one statement over HTTP can raise: an in-band error reply, a dropped
# or malformed HTTP exchange, a reply that is not JSON
_REQUEST_ERRORS = (StatementError, OSError, http.client.HTTPException, ValueError)


# -- reply decoding -----------------------------------------------------------
def _split_top(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def decode(typ: str, v):
    """JSON cell -> Python value, driven by the Spark type string the
    server reports (the server renders timestamps as ISO text, decimals as
    strings and binary as hex)."""
    if v is None:
        return None
    if typ.startswith("array<"):
        inner = typ[6:-1]
        return [decode(inner, x) for x in v]
    if typ.startswith("map<"):
        _, vt = _split_top(typ[4:-1])
        return {k: decode(vt, x) for k, x in v.items()}
    if typ.startswith("struct<"):
        fields = _split_top(typ[7:-1])
        return tuple(decode(f.split(":", 1)[1], x) for f, x in zip(fields, v))
    if typ.startswith("decimal"):
        return decimal.Decimal(v)
    if typ.startswith("timestamp"):
        return dt.datetime.fromisoformat(v)
    if typ == "date":
        return dt.date.fromisoformat(v)
    if typ == "binary":
        return bytes.fromhex(v)
    return v


class Client:
    def __init__(self, port: int, tracer=None):
        self.port = port
        self.tracer = tracer

    def _request(self, method: str, path: str, body: bytes | None) -> tuple[dict, int]:
        span = self.tracer.span("server.request") if self.tracer else nullcontext()
        with span:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=600)
            try:
                conn.request(method, path, body=body)
                resp = conn.getresponse()
                payload = resp.read()
                if resp.status != 200:
                    raise StatementError(f"HTTP {resp.status}")
            finally:
                conn.close()
            return json.loads(payload), len(payload)

    def statement(self, sql: str) -> Reply:
        body, n = self._request("POST", "/v1/statement", sql.encode("utf-8"))
        reply = Reply(body.get("columns") or [], [], 1, n)
        while True:
            if "error" in body:
                raise StatementError(body["error"].get("message", "error"))
            reply.columns = body.get("columns") or reply.columns
            reply.rows.extend(body.get("data") or ())
            nxt = body.get("nextUri")
            if not nxt:
                return reply
            body, n = self._request("GET", urllib.parse.urlsplit(nxt).path, None)
            reply.pages += 1
            reply.nbytes += n


class PrestoSql:
    def __init__(self, spark, data_dir: str, tracer=None):
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.setup_layers: dict[str, float] = {}

    # -- setup ----------------------------------------------------------------
    def setup(self) -> None:
        import _golden_util as gu

        import presto_ads_spark.functions as functions
        from presto_ads_spark.engine import Engine
        from presto_ads_spark.server import StatementServer

        sub = self.spark.newSession()
        t0 = time.perf_counter()
        gu.register_h2_views(sub, self.data_dir)
        t1 = time.perf_counter()
        reg = {"s": 0.0, "calls": 0}
        original = functions.register_all

        def register_all(spark):
            calls = _CallCounter(spark)
            a = time.perf_counter()
            try:
                return original(spark)
            finally:
                reg["s"] += time.perf_counter() - a
                reg["calls"] += calls.close()

        if self.tracer:
            functions.register_all = register_all
        try:
            self.engine = Engine(sub, sf_dir=None)
        finally:
            functions.register_all = original
        t2 = time.perf_counter()
        self.server = StatementServer(self.engine)
        if self.tracer:
            self._instrument()
        self.server.start()
        self.client = Client(self.server.port, self.tracer)
        self.setup_layers = {
            "catalog.views_s": t1 - t0,
            "functions.register_s": reg["s"],
            "functions.register_calls": reg["calls"],
            "engine.init_s": (t2 - t1) - reg["s"],
        }

    def _instrument(self) -> None:
        """Spans around the server's statement execution, ``Engine.sql`` and
        the engine's rewrite call; the time from ``Engine.sql`` returning to
        the reply being built is the Spark execution (collect)."""
        tr, eng, srv = self.tracer, self.engine, self.server
        local = threading.local()
        orig_execute, orig_sql = srv.execute, eng.sql

        def execute(sql):
            with tr.span("server.execute") as s:
                local.sql_end = None
                try:
                    return orig_execute(sql)
                finally:
                    if local.sql_end is not None:
                        tr.add("spark_exec", local.sql_end, time.perf_counter(), s)

        def engine_sql(text):
            try:
                with tr.span("engine.sql"):
                    return orig_sql(text)
            finally:
                local.sql_end = time.perf_counter()

        srv.execute = execute
        eng.sql = engine_sql
        eng._rewrite = tr.wrap(eng._rewrite, "rewrite")

    # -- ops ------------------------------------------------------------------
    def warm_up(self, ops: list[workloads.Op]) -> list[OpResult]:
        """Run the warm-up pass; its results are checked like timed ones."""
        return [self.run_op(op, timed=False) for op in ops]

    def run_op(self, op: workloads.Op, timed: bool) -> OpResult:
        res = OpResult(op, 0.0, timed)
        scope = self.tracer.op(op.kind, op.op_id) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        with scope:
            try:
                for i, sql in enumerate(op.statements):
                    reply = self.client.statement(sql)
                    res.pages += reply.pages
                    res.nbytes += reply.nbytes
                    if i == op.check:
                        res.columns = reply.columns
                        res.rows = reply.rows
            except _REQUEST_ERRORS as e:
                res.error = f"{type(e).__name__}: {e}"[:300]
            finally:
                for sql in op.teardown:
                    try:
                        self.client.statement(sql)
                    except _REQUEST_ERRORS as e:
                        res.error = res.error or f"teardown {type(e).__name__}: {e}"[:300]
        res.seconds = time.perf_counter() - t0
        return res

    def close(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            server.stop()

    # -- checks ---------------------------------------------------------------
    def check(self, results: list[OpResult]) -> None:
        """Set ``error`` on every result whose rows differ from the oracle."""
        import _golden_util as gu
        import duckdb

        con = gu.duckdb_h2_connection(self.data_dir)
        try:
            for r in results:
                if r.error is not None:
                    continue
                op = r.op
                try:
                    got = [
                        tuple(decode(c["type"], v) for c, v in zip(r.columns, row))
                        for row in r.rows
                    ]
                except (ValueError, KeyError, TypeError, decimal.InvalidOperation) as e:
                    r.error = f"undecodable reply: {e}"[:300]
                    continue
                if op.expected is not None:
                    want = [tuple(x) for x in op.expected]
                else:
                    sql = gu.duck_values_parens(gu.duck_int_division(op.oracle))
                    try:
                        want = [tuple(x) for x in con.execute(sql).fetchall()]
                    except duckdb.Error as e:
                        r.error = f"oracle failed: {e}"[:300]
                        continue
                if op.count_only:
                    diff = None if len(got) == len(want) else f"{len(got)} rows != {len(want)}"
                elif op.tolerance is not None:
                    diff = gu.compare_pyrows_tol(got, want, op.tolerance, list(op.tol_cols or ()) or None)
                else:
                    diff = gu.compare_pyrows(got, want)
                if diff is not None:
                    r.error = f"mismatch: {diff}"[:300]
        finally:
            con.close()

    # -- metrics --------------------------------------------------------------
    def client_metrics(self, timed: list[OpResult]) -> dict[str, float]:
        """The workload's own client-side figures (per op type)."""
        by = {k: [r.seconds * 1e3 for r in timed if r.op.kind == k] for k in ("read", "write", "large")}
        out = {
            "sql_read_p50_ms": statistics.median(by["read"]),
            "sql_write_p50_ms": statistics.median(by["write"]),
            "sql_large_p50_ms": statistics.median(by["large"]),
        }
        if reportable_percentile(len(by["read"]), 90):
            out["sql_read_p90_ms"] = percentile(by["read"], 90)
        return out

    def layer_metrics(self, timed: list[OpResult], spans_by_op, status) -> dict[str, float]:
        out: dict[str, float] = {}
        for kind in ("read", "write", "large"):
            ops = [r for r in timed if r.op.kind == kind]
            out[f"rewrite.{kind}_ms"] = statistics.median(
                spans_by_op[r.op.op_id].get("rewrite", 0.0) * 1e3 for r in ops
            )
        total_op = sum(r.seconds for r in timed)
        out["rewrite.share"] = sum(spans_by_op[r.op.op_id].get("rewrite", 0.0) for r in timed) / total_op
        out["engine.sql_ms"] = statistics.median(
            spans_by_op[r.op.op_id].get("engine.sql", 0.0) * 1e3 for r in timed
        )
        out["server.overhead_ms"] = statistics.median(
            sum(spans_by_op[r.op.op_id].get(k, 0.0) for k in ("server.request", "server.execute")) * 1e3
            for r in timed
        )
        out["server.pages"] = sum(r.pages for r in timed) / len(timed)
        out["server.response_bytes"] = sum(r.nbytes for r in timed) / len(timed)
        out["spark_exec.exec_ms"] = statistics.median(
            spans_by_op[r.op.op_id].get("spark_exec", 0.0) * 1e3 for r in timed
        )
        return out


class _CallCounter:
    """Counts ``spark.sql`` and UDF registrations on one session while open."""

    def __init__(self, spark):
        from pyspark.sql.udf import UDFRegistration

        self.n = 0
        self.spark = spark
        self.udf_cls = UDFRegistration
        self.orig_register = UDFRegistration.register
        orig_sql = spark.sql

        def sql(*a, **k):
            self.n += 1
            return orig_sql(*a, **k)

        def register(reg, *a, **k):
            self.n += 1
            return self.orig_register(reg, *a, **k)

        spark.sql = sql
        UDFRegistration.register = register

    def close(self) -> int:
        del self.spark.sql
        self.udf_cls.register = self.orig_register
        return self.n
