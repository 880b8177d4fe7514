"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload presto_sql --seed 1 --seconds 3 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md next to this file). The line before it is a full report with
provenance, per-op-type figures and the failed operations.

A run works in its own directory under ``.perfbench_run/`` (data, Spark
warehouse, Spark local dirs, TMPDIR), which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, os.path.join(ROOT, "tests")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

CORES = 4
DRIVER_MEM = "2g"
DATA_SF = 0.01
MAX_PASSES = 50

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pass_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "warmup_s": "s",
    "functions.register_s": "s",
    "functions.register_calls": "count",
    "catalog.views_s": "s",
    "engine.init_s": "s",
    "rewrite.read_ms": "ms",
    "rewrite.write_ms": "ms",
    "rewrite.large_ms": "ms",
    "rewrite.share": "ratio",
    "engine.sql_ms": "ms",
    "server.overhead_ms": "ms",
    "server.pages": "count",
    "server.response_bytes": "bytes",
    "spark_exec.exec_ms": "ms",
    "spark_exec.jobs": "count",
    "spark_exec.stages": "count",
    "spark_exec.tasks": "count",
    "spark_exec.failed_tasks": "count",
    "spark_exec.shuffle_bytes": "bytes",
    "spark_exec.spill_bytes": "bytes",
    "spark_exec.core_util": "ratio",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    **{f"queries.{n}.s": "s" for n in (
        "dedup_exact", "dedup_minhash_lsh", "multimodal_features",
        "pipeline_clean_corpus", "pipeline_decontaminate",
        "pipeline_pack_sequences", "sim_brute_topk", "sim_lsh_topk",
        "text_boilerplate", "text_quality_stats",
    )},
    "queries.persisted_after": "count",
    "llm.python_rows": "count",
    "llm.python_bytes": "bytes",
    "client.sql_read_p50_ms": "ms",
    "client.sql_write_p50_ms": "ms",
    "client.sql_large_p50_ms": "ms",
    "client.llm_batch_pass_s": "s",
    "trace.unattributed_share": "ratio",
    "trace.overhead_ms": "ms",
}


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process in MB (``VmHWM``)."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head, encoding="ascii") as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:]), encoding="ascii") as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _start_spark(run_dir: str):
    from presto_ads_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no /tmp/hsperfdata file, so a run writes only under
    # run_dir (the launcher JVM takes its flags from SPARK_LAUNCHER_OPTS)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.driver.host": "127.0.0.1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    if sc.master != f"local[{CORES}]" or sc.defaultParallelism != CORES:
        raise RuntimeError(
            f"requested local[{CORES}], got {sc.master} with"
            f" defaultParallelism {sc.defaultParallelism}"
        )
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _spans_by_op(tracer) -> dict[int, dict]:
    """op id -> {span name: summed self time (s), '_start'/'_end': epoch,
    '_windows': {name: (epoch start, epoch end)}, '_total': op seconds}.
    The root span's self time is filed under 'op'; the self times of an
    op's spans sum to '_total'."""
    selfs = tracer.self_times()
    out: dict[int, dict] = {}
    for s in tracer.spans:
        if s.op_id is None:
            continue
        d = out.setdefault(s.op_id, {"_windows": {}})
        key = "op" if s.parent is None else s.name
        d[key] = d.get(key, 0.0) + selfs[s.sid]
        d["_windows"][s.name] = (tracer.epoch(s.start), tracer.epoch(s.end))
        if s.parent is None:
            d["_start"], d["_end"] = tracer.epoch(s.start), tracer.epoch(s.end)
            d["_total"] = s.end - s.start
    return out


def _tracing_cost_ms(spans_per_op: float) -> float:
    """Measured cost of recording ``spans_per_op`` spans, in ms."""
    from perfbench.trace import Tracer

    t = Tracer()
    with t.op("x", 0):
        a = time.perf_counter()
        for _ in range(2000):
            with t.span("y"):
                pass
        cost = (time.perf_counter() - a) / 2000
    return cost * spans_per_op * 1e3


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    from perfbench import datagen, workloads
    from perfbench.trace import SparkStatus, Tracer

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{workload}-s{seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    load_start = os.getloadavg()
    spark = wl = by_op = None
    try:
        data_dir = datagen.write(DATA_SF, os.path.join(run_dir, "data"))
        make_ops = workloads.presto_sql_ops if workload == "presto_sql" else workloads.llm_pipeline_ops
        ops = make_ops(seed, MAX_PASSES)
        t_setup = time.perf_counter()
        tracer = Tracer() if trace else None
        spark = _start_spark(run_dir)
        session_s = time.perf_counter() - t_setup
        if workload == "presto_sql":
            from perfbench.presto_sql import PrestoSql as cls
        else:
            from perfbench.llm_pipeline import LlmPipeline as cls
        wl = cls(spark, data_dir, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t_setup

        t_warm = time.perf_counter()
        results = wl.warm_up([o for o in ops if o.pass_no == 0])
        warmup_s = time.perf_counter() - t_warm

        t_begin = time.perf_counter()
        pass_times = []
        p = 1
        while True:
            a = time.perf_counter()
            for op in (o for o in ops if o.pass_no == p):
                results.append(wl.run_op(op, timed=True))
            pass_times.append(time.perf_counter() - a)
            p += 1
            if time.perf_counter() - t_begin >= seconds or p >= MAX_PASSES:
                break
        timed_wall = time.perf_counter() - t_begin

        wl.check(results)
        timed = [r for r in results if r.timed]
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(_jvm_pid())
        sc = spark.sparkContext
        prov = {
            "commit": _git_commit(),
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "nproc": len(os.sched_getaffinity(0)),
            "cpu_count": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "pyspark": __import__("pyspark").__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "data_sf": DATA_SF,
            "loadavg_start": load_start,
        }
        client = wl.client_metrics(timed)
        if trace:
            status = SparkStatus(spark)
            status.fetch()
            by_op = _spans_by_op(tracer)
            metrics = _layer_metrics(wl, tracer, by_op, status, timed, timed_wall, client)
            metrics.update({
                "session.start_s": session_s,
                "warmup_s": warmup_s,
                **wl.setup_layers,
            })
            missing = set(PER_LAYER) - set(metrics)
            metrics.update({k: 0.0 for k in missing})
            out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = {
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss,
                "pass_s": statistics.median(pass_times),
            }
            out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        wl.close()
        failed = [r for r in results if r.error is not None]
        prov["loadavg_end"] = os.getloadavg()
        report = {
            "provenance": prov,
            "ops": {"warmup": len(results) - len(timed), "timed": len(timed),
                    "passes": len(pass_times), "timed_wall_s": timed_wall},
            "failed_ratio": len(failed) / len(results),
            "setup_s": setup_s,
            "warmup_s": warmup_s,
            "peak_rss_mb": peak_rss,
            "client": client,
            "failures": [{"op": r.op.name, "kind": r.op.kind, "error": r.error} for r in failed],
            # [name, kind, seconds] per timed op; traced runs add the op's
            # self time (s) per layer
            "timed_ops": [
                [r.op.name, r.op.kind, r.seconds]
                + ([{k: v for k, v in by_op[r.op.op_id].items() if not k.startswith("_")}] if trace else [])
                for r in timed
            ],
        }
        result = {
            "correct": not failed,
            "attempted": len(results),
            "failed": len(failed),
            "metrics": out,
        }
        return report, result
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            remove_run_dir(run_dir)


def remove_run_dir(run_dir: str) -> None:
    """Delete a run's directory, and ``.perfbench_run/`` once it is empty."""
    shutil.rmtree(run_dir, ignore_errors=True)
    parent = os.path.dirname(run_dir)
    try:
        os.rmdir(parent)
    except OSError:
        pass  # another run's directory is still there


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _layer_metrics(wl, tracer, by_op, status, timed, timed_wall, client) -> dict[str, float]:
    metrics = wl.layer_metrics(timed, by_op, status)
    metrics.update({f"client.{k}": v for k, v in client.items()})
    totals = dict(jobs=0, stages=0, tasks=0, failed_tasks=0, shuffle_bytes=0, spill_bytes=0, task_ms=0)
    for r in timed:
        d = by_op[r.op.op_id]
        for k, v in status.counters(status.jobs_between(d["_start"], d["_end"])).items():
            totals[k] += v
    for k in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_bytes", "spill_bytes"):
        metrics[f"spark_exec.{k}"] = totals[k] / len(timed)
    metrics["spark_exec.core_util"] = totals["task_ms"] / 1e3 / (timed_wall * CORES)
    # the root span's own time: inside an op but in no layer's span
    op_total = sum(by_op[r.op.op_id]["_total"] for r in timed)
    metrics["trace.unattributed_share"] = sum(by_op[r.op.op_id].get("op", 0.0) for r in timed) / op_total
    spans = sum(1 for s in tracer.spans if s.op_id is not None)
    metrics["trace.overhead_ms"] = _tracing_cost_ms(spans / max(len(by_op), 1))
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("presto_sql", "llm_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    report, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for f in report["failures"]:
        print(f"FAILED {f['kind']} {f['op']}: {f['error']}", file=sys.stderr)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
