"""Re-measure the presto_sql statement costs and exclusions.

    python3 perfbench/calibrate.py

Runs every candidate operation twice (in corpus order, then reversed)
through the benchmark's HTTP client on the benchmark's sf0.01 data: the H2-corpus reads under 5 KB, the DDL-fixture
write transactions and the fixed large cases. Each run is checked like a timed
op. Rewrites ``presto_costs.json`` (mean ms per case, used to form the cost
strata) and ``presto_excluded.json`` (cases that fail, and reads slower than
SLOW_READ_S, which would be a large share of one pass; a statement still
running after TIMEOUT_S is cancelled and counts as slow). Takes about
twenty minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run, workloads  # noqa: E402

SLOW_READ_S = 2.0
TIMEOUT_S = 30.0


def main() -> int:
    import tempfile

    from perfbench import datagen
    from perfbench.presto_sql import PrestoSql

    run_dir = os.path.join(run.ROOT, ".perfbench_run", f"calibrate-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = run.DRIVER_MEM
    tempfile.tempdir = None
    spark = None
    try:
        data_dir = datagen.write(run.DATA_SF, os.path.join(run_dir, "data"))
        spark = run._start_spark(run_dir)
        wl = PrestoSql(spark, data_dir)
        wl.setup()
        ops = []
        for case in workloads._corpus():
            if case.get("setup"):
                kind = "write"
            elif case["name"] in workloads.LARGE_CASES:
                kind = "large"
            elif len(case["sql"]) < workloads.MAX_READ_CHARS:
                kind = "read"
            else:
                continue
            ops.append(workloads._case_op(case, len(ops), kind, 0))
        results = []
        for op in ops + ops[::-1]:
            timer = threading.Timer(TIMEOUT_S, spark.sparkContext.cancelAllJobs)
            timer.start()
            try:
                results.append(wl.run_op(op, timed=False))
            finally:
                timer.cancel()
            print(f"{op.name} {results[-1].seconds:.3f} {results[-1].error or ''}", flush=True)
        wl.check(results)
        wl.close()
    finally:
        if spark is not None:
            run._stop_spark(spark)
        run.remove_run_dir(run_dir)

    by_name: dict[str, list] = {}
    for r in results:
        by_name.setdefault(r.op.name, []).append(r)
    costs = {n: round(sum(r.seconds for r in rs) / len(rs) * 1e3, 1) for n, rs in by_name.items()}
    excluded = []
    for name, rs in by_name.items():
        errors = [r.error for r in rs if r.error is not None]
        if rs[0].op.kind == "read" and costs[name] > SLOW_READ_S * 1e3:
            excluded.append({"name": name, "reason": f"slow read: {costs[name] / 1e3:.1f} s at sf0.01"})
        elif errors:
            excluded.append({"name": name, "reason": f"fails: {errors[0]}"})
    with open(os.path.join(HERE, "presto_costs.json"), "w", encoding="utf-8") as f:
        json.dump(costs, f, indent=0, sort_keys=True)
        f.write("\n")
    with open(os.path.join(HERE, "presto_excluded.json"), "w", encoding="utf-8") as f:
        json.dump(excluded, f, indent=1)
        f.write("\n")
    print(f"{len(by_name)} ops, {len(excluded)} excluded", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
