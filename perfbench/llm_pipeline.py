"""llm_pipeline workload: the bench-flagged LLM registry entries.

Each timed op builds one entry with its registry ``spark_fn`` (plan
construction, including any eager probe jobs and persists) and executes it
into the ``noop`` sink; the cache is cleared after every call, outside the
timed op. The untimed warm-up pass collects every entry instead and
compares it with its DuckDB oracle (``testing.compare_frames``).
"""

from __future__ import annotations

import statistics
import time
from contextlib import nullcontext

from . import workloads
from .presto_sql import OpResult


class LlmPipeline:
    def __init__(self, spark, data_dir: str, tracer=None):
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.setup_layers: dict[str, float] = {}
        self.persisted: list[int] = []

    def setup(self) -> None:
        from presto_ads_spark.queries import load_all
        from presto_ads_spark.session import apply_runtime_conf

        apply_runtime_conf(self.spark)
        self.registry = load_all()

    def warm_up(self, ops: list[workloads.Op]) -> list[OpResult]:
        """Build, collect and compare every entry with its oracle."""
        from presto_ads_spark.testing import compare_frames, duckdb_connection

        con = duckdb_connection(self.data_dir)
        results = []
        try:
            for op in ops:
                spec = self.registry[op.name]
                res = OpResult(op, 0.0, False)
                t0 = time.perf_counter()
                try:
                    cmp = compare_frames(op.name, spec.spark_fn(self.spark, self.data_dir), con, spec.oracle)
                    if not cmp.ok:
                        res.error = f"mismatch: {cmp.detail}"[:300]
                except Exception as e:  # noqa: BLE001 — a failed entry is a failed op, the run goes on
                    res.error = f"{type(e).__name__}: {e}"[:300]
                res.seconds = time.perf_counter() - t0
                self.spark.catalog.clearCache()
                results.append(res)
        finally:
            con.close()
        return results

    def run_op(self, op: workloads.Op, timed: bool) -> OpResult:
        spec = self.registry[op.name]
        res = OpResult(op, 0.0, timed)
        tr = self.tracer
        scope = tr.op(op.kind, op.op_id) if tr else nullcontext()
        t0 = time.perf_counter()
        try:
            with scope:
                with tr.span("queries.construct") if tr else nullcontext():
                    df = spec.spark_fn(self.spark, self.data_dir)
                with tr.span("spark_exec") if tr else nullcontext():
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failed entry is a failed op, the run goes on
            res.error = f"{type(e).__name__}: {e}"[:300]
        res.seconds = time.perf_counter() - t0
        if tr:
            self.persisted.append(self.spark.sparkContext._jsc.getPersistentRDDs().size())
        self.spark.catalog.clearCache()
        return res

    def check(self, results: list[OpResult]) -> None:
        """Nothing left to check: the warm-up pass compared every output."""

    def close(self) -> None:
        """Nothing to release: the run stops the session."""

    # -- metrics --------------------------------------------------------------
    def client_metrics(self, timed: list[OpResult]) -> dict[str, float]:
        passes: dict[int, float] = {}
        for r in timed:
            passes[r.op.pass_no] = passes.get(r.op.pass_no, 0.0) + r.seconds
        return {"llm_batch_pass_s": statistics.median(passes.values())}

    def layer_metrics(self, timed: list[OpResult], spans_by_op, status) -> dict[str, float]:
        out: dict[str, float] = {}
        n_passes = len({r.op.pass_no for r in timed})
        out["queries.construct_s"] = sum(
            spans_by_op[r.op.op_id].get("queries.construct", 0.0) for r in timed
        ) / n_passes
        jobs = sum(
            len(status.jobs_between(*spans_by_op[r.op.op_id]["_windows"]["queries.construct"]))
            for r in timed
        )
        out["queries.construct_jobs"] = jobs / n_passes
        for name in workloads.LLM_BATCH:
            out[f"queries.{name}.s"] = statistics.median(r.seconds for r in timed if r.op.name == name)
        out["queries.persisted_after"] = sum(self.persisted) / len(self.persisted)
        out["spark_exec.exec_ms"] = statistics.median(
            spans_by_op[r.op.op_id].get("spark_exec", 0.0) * 1e3 for r in timed
        )
        t0 = min(spans_by_op[r.op.op_id]["_start"] for r in timed)
        t1 = max(spans_by_op[r.op.op_id]["_end"] for r in timed)
        rows, nbytes = status.python_io(t0, t1)
        out["llm.python_rows"] = rows / n_passes
        out["llm.python_bytes"] = nbytes / n_passes
        return out
