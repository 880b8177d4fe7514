"""Byte-identity gate for ``rewrite()``.

``tests/rewrite_snapshot.json`` holds the sha256 of ``rewrite(sql)``
(default arguments) for every statement of the golden, H2 and scalar
corpora: each golden and H2 case's ``sql``, each H2 case's ``setup``
statements, and each scalar expression wrapped as ``SELECT <expr>``. A
statement ``rewrite`` rejects is recorded as ``error:<ExceptionType>``.
The clock and the counter behind generated aliases (``__wi3`` …) are
pinned per statement while digesting: statements that read the current
time (``current_time``, the TIME WITH TIME ZONE folds) embed it, and the
counter would otherwise depend on every rewrite run before.

Any change to ``rewrite.py`` that is meant to be a pure refactor must
keep every digest. When a rewrite change is *meant* to alter output,
regenerate the file and say which cases moved and why:

    python tests/test_rewrite_snapshot.py --emit
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from unittest import mock

import pytest

SNAPSHOT = os.path.join(os.path.dirname(__file__), "rewrite_snapshot.json")
CORPORA = ("golden", "h2", "scalar")
PINNED_CLOCK = 1_700_000_000.0  # 2023-11-14T22:13:20Z


def corpus_statements(corpus: str) -> dict[str, str]:
    """Statement key -> SQL text for one corpus; duplicate case names get
    a ``#n`` suffix in corpus order."""
    from tests import golden_corpus, h2_corpus, scalar_corpus

    out: dict[str, str] = {}

    def put(key: str, sql: str) -> None:
        k, n = key, 1
        while k in out:
            n += 1
            k = f"{key}#{n}"
        out[k] = sql

    if corpus == "golden":
        for c in golden_corpus.CASES:
            put(f"{c['category']}/{c['name']}", c["sql"])
    elif corpus == "h2":
        for c in h2_corpus.CASES:
            put(c["name"], c["sql"])
            for i, st in enumerate(c.get("setup") or []):
                put(f"{c['name']}/setup{i}", st)
    else:
        for c in scalar_corpus.CASES:
            put(c["name"], f"SELECT {c['sql']}")
    return out


def digest(sql: str) -> str:
    from presto_ads_spark import rewrite as rw

    try:
        with mock.patch("time.time", return_value=PINNED_CLOCK), \
                mock.patch.object(rw, "_uniq_counter", [0]):
            out = rw.rewrite(sql)
    except Exception as e:  # noqa: BLE001 — the failure type is the pin
        return f"error:{type(e).__name__}"
    return hashlib.sha256(out.encode()).hexdigest()


def _load() -> dict[str, dict[str, str]]:
    with open(SNAPSHOT) as f:
        return json.load(f)


@pytest.mark.parametrize("corpus", CORPORA)
def test_rewrite_snapshot(corpus):
    want = _load()[corpus]
    stmts = corpus_statements(corpus)
    assert sorted(stmts) == sorted(want), "corpus changed: re-emit snapshot"
    moved = [k for k, sql in stmts.items() if digest(sql) != want[k]]
    assert not moved, f"{len(moved)} rewrite outputs moved: {moved[:20]}"


def main() -> int:
    if sys.argv[1:] != ["--emit"]:
        print(__doc__)
        return 2
    snap = {
        corpus: {k: digest(sql) for k, sql in corpus_statements(corpus).items()}
        for corpus in CORPORA
    }
    with open(SNAPSHOT, "w") as f:
        json.dump(snap, f, indent=0, sort_keys=True)
        f.write("\n")
    print({c: len(v) for c, v in snap.items()})
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
