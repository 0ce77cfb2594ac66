"""sf1 correctness mirror: run tools/check.py's protocol per query at
the synthesized 1000x scale (testdata_sf1), one query per line, with a
wall-clock budget per query so one infeasible oracle cannot sink the
batch.

The candidate set is the whole catalog. Through r12 the five uncapped
pair miners (q25/q26/q35/q67/q38) were excluded as output-size-
infeasible (~10^8 pair rows on the then-saturated 31-token shingle
space). The r12 gen_sf1 Heaps-law hapax tail de-saturated that space;
an r13 probe of the oracles on the regenerated corpus measured the
full-sf1 result sets at q25: 35,114 rows/2.5s, q26: 1/13.2s, q35:
12,397/2.1s, q67: 35,114/2.1s, q38: 11,373/22.1s, so every row now runs
here (CORRECTNESS_LOCAL_r13_sf1_miners.txt). If a corpus regen
re-saturates the shingle space, re-probe the oracle COUNTs first.

Usage: python tools/sf1_mirror.py [out_txt] [query ...]
       (default: every catalog query)
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dropbox_duckdb_playground_spark import catalog  # noqa: E402

SF1 = os.path.join(REPO, "testdata_sf1")
PER_QUERY_TIMEOUT = 1200  # seconds, both engines + hash compare


def main() -> int:
    args = [a for a in sys.argv[1:]]
    out_txt = args[0] if args and args[0].endswith(".txt") else os.path.join(
        REPO, "CORRECTNESS_LOCAL_r5_sf1.txt"
    )
    names = args[1:] if args and args[0].endswith(".txt") else args
    if not names:
        names = list(catalog.REGISTRY)
    lines = [
        "sf1 (1000x, testdata_sf1) correctness mirror — tools/sf1_mirror.py",
        f"per-query timeout {PER_QUERY_TIMEOUT}s; protocol = tools/check.py",
        "(row count + column names + order-insensitive value hash vs DuckDB)",
        "",
    ]
    n_pass = n_fail = 0
    for q in names:
        t0 = time.time()
        try:
            r = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools", "check.py"), SF1, q],
                capture_output=True,
                text=True,
                timeout=PER_QUERY_TIMEOUT,
                cwd=REPO,
            )
            tail = [
                ln
                for ln in r.stdout.splitlines()
                if ln.startswith(("PASS", "FAIL"))
            ]
            dt = time.time() - t0
            if tail:
                lines.append(f"{tail[-1]}  [{dt:.0f}s total both engines]")
                n_pass += tail[-1].startswith("PASS")
                n_fail += tail[-1].startswith("FAIL")
            else:
                lines.append(f"FAIL {q}: no verdict line (rc={r.returncode}) [{dt:.0f}s]")
                n_fail += 1
        except subprocess.TimeoutExpired:
            lines.append(f"TIMEOUT {q}: exceeded {PER_QUERY_TIMEOUT}s")
            n_fail += 1
        print(lines[-1], flush=True)
    lines += ["", f"{n_pass} pass, {n_fail} fail"]
    with open(out_txt, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out_txt}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
