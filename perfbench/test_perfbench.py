"""Tests of the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import re
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import datagen, run, stats, workloads  # noqa: E402
from perfbench.presto_sql import decode  # noqa: E402
from perfbench.trace import Tracer, _num  # noqa: E402


def _key(ops):
    return [(o.kind, o.name, o.statements, o.teardown, o.oracle, o.expected, o.pass_no) for o in ops]


@pytest.mark.parametrize("make", [workloads.presto_sql_ops, workloads.llm_pipeline_ops])
def test_same_seed_same_ops(make):
    assert _key(make(7, 6)) == _key(make(7, 6))


def test_different_seed_different_sample():
    a, b = workloads.presto_sql_ops(1, 6), workloads.presto_sql_ops(2, 6)
    assert {o.name for o in a} != {o.name for o in b}
    la, lb = workloads.llm_pipeline_ops(1, 2), workloads.llm_pipeline_ops(2, 2)
    assert [o.name for o in la] != [o.name for o in lb]
    assert sorted(o.name for o in la) == sorted(o.name for o in lb)


def test_presto_pass_composition():
    ops = workloads.presto_sql_ops(3, 6)
    for p in range(6):
        kinds = [o.kind for o in ops if o.pass_no == p]
        assert kinds.count("read") == (workloads.WARMUP_READS if p == 0 else workloads.READS_PER_PASS)
        assert kinds.count("write") == 1 and kinds.count("large") == 1
    excluded = workloads.load_exclusions()
    assert not {o.name for o in ops} & set(excluded)
    assert all(len(o.statements[o.check]) < workloads.MAX_READ_CHARS for o in ops if o.kind == "read")
    # timed passes: same writes and large kinds for every seed
    other = workloads.presto_sql_ops(4, 6)

    def timed(ops, kind):
        return [(o.pass_no, o.name if kind == "write" else o.name.rstrip("0123456789"))
                for o in ops if o.kind == kind and o.pass_no > 0]

    for kind in ("write", "large"):
        assert timed(ops, kind) == timed(other, kind)


def test_llm_pass_has_every_entry_once():
    ops = workloads.llm_pipeline_ops(5, 3)
    assert {o.pass_no for o in ops} == {0, 1, 2}
    for p in (0, 1, 2):
        assert sorted(o.name for o in ops if o.pass_no == p) == sorted(workloads.LLM_BATCH)


def test_generated_in_expected():
    import random

    rng = random.Random(0)
    sql, exp = workloads.gen_int_in(rng, 50, not_in=False)
    keys = [int(x) for x in sql.split("IN (")[1].rstrip(")").split(", ")]
    hit = [k for k in keys if k < workloads.N_ORDERS_SF001]
    assert exp == ((len(hit), sum(hit) if hit else None),)
    sql, exp = workloads.gen_int_in(rng, 50, not_in=True)
    keys = {int(x) for x in sql.split("IN (")[1].rstrip(")").split(", ")}
    rest = [k for k in range(workloads.N_ORDERS_SF001) if k not in keys]
    assert exp == ((len(rest), sum(rest)),)
    seen = set()
    for _ in range(20):
        sql, ((present,),) = workloads.gen_array_in(rng, 30)
        probe, *listed = re.findall(r"ARRAY\[[^\]]*\]", sql)
        assert len(listed) == 30 and (probe in listed) == present
        seen.add(present)
    assert seen == {True, False}


def test_percentile_and_quartiles():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 5.0
    assert stats.percentile([1.0, 2.0], 90) == pytest.approx(1.9)
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    vals = [float(v) for v in range(1, 11)]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / med)
    assert not stats.reportable_percentile(99, 90)
    assert stats.reportable_percentile(100, 90)


def test_metric_names_and_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_metric_name(n) for n in names)
    assert all(stats.valid_unit(u) for u in list(run.END_TO_END.values()) + list(run.PER_LAYER.values()))
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert not stats.valid_metric_name("_x") and not stats.valid_metric_name("a" * 65)


def test_decode_server_cells():
    assert decode("decimal(10,2)", "1.25") == decimal.Decimal("1.25")
    assert decode("timestamp_ntz", "2024-01-01 00:00:07.179575") == dt.datetime(2024, 1, 1, 0, 0, 7, 179575)
    assert decode("array<decimal(3,1)>", ["1.5", None]) == [decimal.Decimal("1.5"), None]
    assert decode("map<string,array<bigint>>", {"a": [1]}) == {"a": [1]}
    assert decode("struct<a:int,b:binary>", [1, "ff"]) == (1, b"\xff")
    assert decode("bigint", None) is None


def test_self_times_sum_to_op():
    t = Tracer()
    with t.op("read", 0):
        with t.span("server.request"):
            with t.span("engine.sql"):
                with t.span("rewrite"):
                    pass
    selfs = t.self_times()
    root = next(s for s in t.spans if s.parent is None)
    assert sum(selfs.values()) == pytest.approx(root.end - root.start)
    assert all(s.op_id == 0 for s in t.spans)


def test_handler_thread_spans_nest_under_client_span():
    import threading

    t = Tracer()
    with t.op("read", 3):
        with t.span("server.request") as req:
            th = threading.Thread(target=lambda: t.wrap(lambda: None, "server.execute")())
            th.start()
            th.join(timeout=10)
    assert not th.is_alive()
    execute = next(s for s in t.spans if s.name == "server.execute")
    assert execute.parent == req.sid and execute.op_id == 3
    selfs = t.self_times()
    root = next(s for s in t.spans if s.parent is None)
    assert sum(selfs.values()) == pytest.approx(root.end - root.start)


def test_ui_metric_strings():
    assert _num("1,234") == 1234
    assert _num("total (min, med, max (stageId: taskId))\n2.0 KiB (0.0 B, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))") == 2048
    assert _num(None) == 0


def test_datagen_deterministic():
    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert a["lineitem"].num_rows == 6000
