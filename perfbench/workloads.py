"""Seeded operation lists for the benchmark's workloads (no Spark needed).

An operation (``Op``) is what the client times: one statement, one write
transaction, or one registry-entry call. ``presto_sql_ops`` and
``llm_pipeline_ops`` are pure functions of the seed, so the same seed yields
the same operations and the same expected results.

presto_sql passes are stratified so that a pass costs about the same for
every seed: READS_PER_PASS reads, one from each cost stratum of the eligible
corpus (the seed picks the member); one write transaction; one large
statement. Timed passes take the write transactions in a fixed order (those
closest to the median cost first) and cycle the large kinds by pass index
(generated ``IN`` list, generated ``ARRAY[..] IN (...)``, fixed large corpus
case), so only the reads, the generated statements and the order vary with
the seed. The shorter warm-up pass (pass 0) has WARMUP_READS reads, one
seeded write transaction and one large statement. Strata come from
per-statement costs measured at sf0.01 (``presto_costs.json``, written by
``calibrate.py``); stale costs only widen the spread.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("presto_sql", "llm_pipeline")
READS_PER_PASS = 32
WARMUP_READS = 8  # the warm-up pass reads from every fourth stratum
MAX_READ_CHARS = 5000
# fixed large corpus cases (G4317/G4318 take minutes; the generated ARRAY IN
# statements keep their shape at sizes that finish)
LARGE_CASES = ("G825", "G4308", "G4309")
LARGE_ITEMS = 270  # generated list size; rewrite time grows faster than linearly in it
N_ORDERS_SF001 = 15_000  # orders rows at sf0.01 (datagen.tables)

# the bench-flagged LLM registry entries except dedup_minhash_verify and
# streaming_lsh_dedup, each ~11-12 s of a run at sf0.01, left out to keep a
# run within the benchmark's time budget (README.md)
LLM_BATCH = (
    "dedup_exact", "dedup_minhash_lsh",
    "multimodal_features", "pipeline_clean_corpus", "pipeline_decontaminate",
    "pipeline_pack_sequences", "sim_brute_topk", "sim_lsh_topk",
    "text_boilerplate", "text_quality_stats",
)


@dataclass(frozen=True)
class Op:
    op_id: int
    kind: str  # read | write | large | batch
    name: str
    # presto_sql: statements sent in order; ``check`` indexes the one whose
    # rows are compared, ``teardown`` always runs afterwards
    statements: tuple[str, ...] = ()
    check: int = 0
    teardown: tuple[str, ...] = ()
    oracle: str | None = None  # DuckDB SQL giving the expected rows
    expected: tuple | None = None  # expected rows known from the generator
    count_only: bool = False
    tolerance: float | None = None
    tol_cols: tuple | None = None
    pass_no: int = 0


def _corpus():
    import sys

    tests_dir = os.path.join(ROOT, "tests")
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    import h2_corpus

    return h2_corpus.CASES


def load_exclusions() -> dict[str, str]:
    with open(os.path.join(HERE, "presto_excluded.json"), encoding="utf-8") as f:
        return {e["name"]: e["reason"] for e in json.load(f)}


def load_costs() -> dict[str, float]:
    with open(os.path.join(HERE, "presto_costs.json"), encoding="utf-8") as f:
        return json.load(f)


def write_order(names: list[str], costs: dict[str, float]) -> list[str]:
    """Write transactions, closest to the median recorded cost first."""
    med = sorted(costs.get(n, 0.0) for n in names)[len(names) // 2]
    return sorted(names, key=lambda n: (abs(costs.get(n, 0.0) - med), n))


def _strata(names: list[str], costs: dict[str, float], k: int) -> list[list[str]]:
    """Split names (sorted by recorded cost, then name) into k near-equal
    consecutive groups."""
    ordered = sorted(names, key=lambda n: (costs.get(n, 0.0), n))
    return [ordered[i * len(ordered) // k:(i + 1) * len(ordered) // k] for i in range(k)]


def _case_op(case: dict, op_id: int, kind: str, pass_no: int) -> Op:
    setup = tuple(case.get("setup") or ())
    return Op(
        op_id=op_id,
        kind=kind,
        name=case["name"],
        statements=setup + (case["sql"],),
        check=len(setup),
        teardown=tuple(case.get("teardown") or ()),
        oracle=case["oracle"] if case["oracle"] is not None else case["sql"],
        count_only=bool(case["count_only"]),
        tolerance=case.get("tolerance"),
        tol_cols=tuple(case["tol_cols"]) if case.get("tol_cols") else None,
        pass_no=pass_no,
    )


def gen_int_in(rng: random.Random, n: int, not_in: bool) -> tuple[str, tuple]:
    """``orderkey [NOT] IN (<n ints>)`` over the orders view; about half the
    keys exist (orderkeys are 0..N_ORDERS-1)."""
    keys = rng.sample(range(2 * N_ORDERS_SF001), n)
    op = "NOT IN" if not_in else "IN"
    sql = (
        f"SELECT count(*), sum(orderkey) FROM orders WHERE orderkey {op} ("
        + ", ".join(map(str, keys)) + ")"
    )
    hit = {k for k in keys if k < N_ORDERS_SF001}
    if not_in:
        total = N_ORDERS_SF001 * (N_ORDERS_SF001 - 1) // 2
        return sql, ((N_ORDERS_SF001 - len(hit), total - sum(hit)),)
    return sql, ((len(hit), sum(hit) if hit else None),)


def gen_array_in(rng: random.Random, n: int) -> tuple[str, tuple]:
    """``ARRAY[a, b, c] IN (<n arrays>)``, the G4317 shape at size n."""
    arrays = [(i, i + 1, i + 2) for i in rng.sample(range(10 * n), n)]
    present = rng.random() < 0.5
    probe = rng.choice(arrays) if present else (-1, 0, 1)
    body = ", ".join(f"ARRAY[{a}, {b}, {c}]" for a, b, c in arrays)
    sql = f"SELECT ARRAY[{probe[0]}, {probe[1]}, {probe[2]}] IN ({body})"
    return sql, ((present,),)


def presto_sql_ops(seed: int, n_passes: int) -> list[Op]:
    """The first ``n_passes`` passes of the presto_sql op stream for
    ``seed`` (a run consumes passes until its time is up)."""
    rng = random.Random(f"presto_sql:{seed}")
    excluded = load_exclusions()
    costs = load_costs()
    cases = {c["name"]: c for c in _corpus()}
    reads = [
        n for n, c in cases.items()
        if not c.get("setup") and len(c["sql"]) < MAX_READ_CHARS and n not in excluded
    ]
    writes = [n for n, c in cases.items() if c.get("setup") and n not in excluded]
    read_strata = _strata(reads, costs, READS_PER_PASS)
    timed_writes = write_order(writes, costs)
    ops: list[Op] = []
    for p in range(n_passes):
        strata = read_strata[::READS_PER_PASS // WARMUP_READS] if p == 0 else read_strata
        pass_ops: list[tuple[str, object]] = [("read", rng.choice(s)) for s in strata]
        if p == 0:
            pass_ops.append(("write", rng.choice(writes)))
        else:
            pass_ops.append(("write", timed_writes[(p - 1) % len(timed_writes)]))
        pass_ops.append(("large", p % 3))
        rng.shuffle(pass_ops)
        for kind, what in pass_ops:
            op_id = len(ops)
            if kind != "large":
                ops.append(_case_op(cases[what], op_id, kind, p))
                continue
            n = LARGE_ITEMS
            if what == 0:
                sql, exp = gen_int_in(rng, n, not_in=rng.random() < 0.5)
                ops.append(Op(op_id, "large", f"gen_int_in_{n}", (sql,), expected=exp, pass_no=p))
            elif what == 1:
                sql, exp = gen_array_in(rng, n)
                ops.append(Op(op_id, "large", f"gen_array_in_{n}", (sql,), expected=exp, pass_no=p))
            else:
                name = LARGE_CASES[(p // 3) % len(LARGE_CASES)]
                ops.append(_case_op(cases[name], op_id, "large", p))
    return ops


def llm_pipeline_ops(seed: int, n_passes: int) -> list[Op]:
    """Every pass, the warm-up pass 0 included, runs the LLM_BATCH entries
    in a seeded order."""
    rng = random.Random(f"llm_pipeline:{seed}")
    ops: list[Op] = []
    for p in range(n_passes):
        order = list(LLM_BATCH)
        rng.shuffle(order)
        for name in order:
            ops.append(Op(len(ops), "batch", name, pass_no=p))
    return ops
