#!/usr/bin/env python
"""Pre-commit gate: the tiers that pin reference behavior.

Three consecutive rounds ended with a red suite because engine-semantics
commits landed after the last full test run. This runner is the
structural fix: run it BEFORE every commit that touches
presto_ads_spark/ (engine semantics), and run the full suite before the
end-of-round snapshot.

Tiers (fastest first, so a red tier fails fast):

  golden    tests/test_golden.py          — hand-pinned reference cases
  property  tests/test_property.py        — hypothesis invariants
  scalar    tests/test_scalar_corpus.py   — the ported assertFunction corpus
  oracle    tests/test_oracle_parity.py   — DuckDB cross-checks
  rewrite   tests/test_rewrite.py         — rewrite-layer unit pins, plus
            tests/test_rewrite_snapshot.py  the byte-identity gate over every
                                            corpus statement (run it after
                                            any rewrite.py edit)

Usage:
  python tools/preflight.py           # the default pre-commit tier set
  python tools/preflight.py --full    # entire tests/ directory
  python tools/preflight.py golden    # one named tier

Exit status is pytest's: 0 = green, anything else = DO NOT COMMIT.
"""

from __future__ import annotations

import subprocess
import sys
import time

TIERS = {
    "golden": ["tests/test_golden.py"],
    "property": ["tests/test_property.py"],
    "rewrite": ["tests/test_rewrite.py", "tests/test_rewrite_snapshot.py"],
    "scalar": ["tests/test_scalar_corpus.py"],
    "oracle": ["tests/test_oracle_parity.py"],
}
DEFAULT = ["golden", "rewrite", "property", "scalar", "oracle"]


def main() -> int:
    args = sys.argv[1:]
    if args == ["--full"]:
        names, paths = ["full"], [["tests/"]]
    elif args:
        unknown = [a for a in args if a not in TIERS]
        if unknown:
            print(f"unknown tier(s): {unknown}; pick from {sorted(TIERS)}")
            return 2
        names, paths = args, [TIERS[a] for a in args]
    else:
        names, paths = DEFAULT, [TIERS[a] for a in DEFAULT]
    for name, path in zip(names, paths):
        t0 = time.time()
        print(f"--- preflight tier: {name} ({' '.join(path)})", flush=True)
        rc = subprocess.call(
            [sys.executable, "-m", "pytest", "-q", "-x", *path]
        )
        dt = time.time() - t0
        if rc != 0:
            print(f"--- preflight RED in tier {name} after {dt:.0f}s — "
                  f"do not commit")
            return rc
        print(f"--- {name} green in {dt:.0f}s", flush=True)
    print("--- preflight GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
