"""Spans and Spark-side counters for the traced run (``--trace 1``).

Spans are recorded by the benchmark's own code around calls into the
engine's modules; nothing inside the program is instrumented. A span is
(name, start, end, parent, op id); times are ``time.perf_counter()`` values
and ``wall0``/``perf0`` convert them to epoch time for matching Spark's job
and stage timestamps. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """Collects spans. The client opens an op with ``op()``; a span opened
    while it runs, on any thread, is a child of the innermost open span. The
    client is a closed loop, so the spans of its thread and of the server's
    handler thread nest in time and one stack serves both."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.wall0 = time.time()
        self.perf0 = time.perf_counter()
        self._lock = threading.Lock()
        self._stack: list[Span] = []

    def op(self, name: str, op_id: int) -> "_Open":
        return _Open(self, name, op_id, root=True)

    def span(self, name: str) -> "_Open":
        return _Open(self, name, None, root=False)

    def add(self, name: str, start: float, end: float, parent: Span) -> None:
        """Record an interval measured elsewhere as a child of ``parent``."""
        with self._lock:
            self.spans.append(
                Span(len(self.spans), name, start, end, parent.sid, parent.op_id)
            )

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def epoch(self, t: float) -> float:
        return self.wall0 + (t - self.perf0)

    # -- analysis -------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> own duration minus the part its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            cursor = s.start
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.sid] = (s.end - s.start) - covered
        return out


class _Open:
    def __init__(self, tracer: Tracer, name: str, op_id: int | None, root: bool):
        self.t, self.name, self.op_id, self.root = tracer, name, op_id, root

    def __enter__(self) -> Span:
        t = self.t
        with t._lock:
            parent = None if self.root or not t._stack else t._stack[-1]
            self.s = Span(
                len(t.spans), self.name, time.perf_counter(), 0.0,
                parent.sid if parent else None,
                self.op_id if parent is None else parent.op_id,
            )
            t.spans.append(self.s)
            t._stack.append(self.s)
        return self.s

    def __exit__(self, *exc) -> None:
        with self.t._lock:
            self.s.end = time.perf_counter()
            self.t._stack.remove(self.s)


# -- Spark status store (REST API of the driver UI, localhost only) ---------
def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _ts(s: str | None) -> float | None:
    """'2026-01-01T00:00:00.123GMT' -> epoch seconds."""
    if not s:
        return None
    import datetime as dt

    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkStatus:
    """Jobs, stages and SQL executions of the running application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def fetch(self) -> None:
        self.jobs = _get(f"{self.base}/jobs")
        self.stages = {
            (s["stageId"], s["attemptId"]): s for s in _get(f"{self.base}/stages")
        }
        self.sql = _get(f"{self.base}/sql?details=true&planDescription=false&length=100000")
        for j in self.jobs:
            j["_t"] = _ts(j.get("submissionTime"))
        for q in self.sql:
            q["_t"] = _ts(q.get("submissionTime"))

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs if j["_t"] is not None and t0 <= j["_t"] <= t1]

    def counters(self, jobs: list[dict]) -> dict[str, float]:
        """Stage-level totals over ``jobs`` (skipped stages excluded)."""
        out = dict(jobs=len(jobs), stages=0, tasks=0, failed_tasks=0,
                   shuffle_bytes=0, spill_bytes=0, task_ms=0)
        seen = set()
        for j in jobs:
            for sid in j.get("stageIds", ()):
                for key, st in self.stages.items():
                    if key[0] != sid or key in seen or st["status"] == "SKIPPED":
                        continue
                    seen.add(key)
                    out["stages"] += 1
                    out["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                    out["failed_tasks"] += st.get("numFailedTasks", 0)
                    out["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
                    out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                    out["task_ms"] += st.get("executorRunTime", 0)
        return out

    def python_io(self, t0: float, t1: float) -> tuple[int, int]:
        """(rows, bytes) through Python operators of SQL executions started
        in [t0, t1]: output rows of each Python node plus the bytes Spark
        reports sent to and returned from its Python workers."""
        rows = nbytes = 0
        for q in self.sql:
            if q["_t"] is None or not t0 <= q["_t"] <= t1:
                continue
            for node in q.get("nodes", ()):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", ())}
                if not any("Python" in k for k in metrics):
                    continue
                rows += _num(metrics.get("number of output rows"))
                nbytes += _num(metrics.get("data sent to Python workers"))
                nbytes += _num(metrics.get("data returned from Python workers"))
        return rows, nbytes


def _num(v: str | None) -> int:
    """Spark UI metric strings ('1,234', '12.0 KiB', 'total (min, ...)\\n1.2 MiB
    (...)') -> integer (bytes for sizes)."""
    if not v:
        return 0
    s = v.split("\n")[-1].split("(")[0].strip().replace(",", "")
    units = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
    parts = s.split()
    try:
        if len(parts) == 2 and parts[1] in units:
            return int(float(parts[0]) * units[parts[1]])
        return int(float(parts[0]))
    except (ValueError, IndexError):
        return 0
