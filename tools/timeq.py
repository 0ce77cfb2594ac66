"""Time individual catalog queries at a given sf via tools/measure.py.

Usage: python tools/timeq.py [sf_dir] q22_lang_id [q26_...]  (reps via
SPARK_GRAFT_BENCH_REPS, default 3; warms on sf0.001 first). Prints one
TIMEQ line per query with the median and every rep; exits 1 if any
query failed. A per-query A/B is this tool run on two checkouts.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.measure import measure  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    results = measure(sf_dir, sys.argv[2:])
    for name, t in results.items():
        detail = f"error={t.error}" if t.error else f"all={t.reps}"
        print(f"TIMEQ {name}: median={t.median} {detail}", flush=True)
    return 1 if any(t.error for t in results.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
