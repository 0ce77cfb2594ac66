"""Steady-state sf1 bench — DRIFT-PROOF protocol (r10).

The r9 artifact ran every Spark row first, then every oracle row: on a
host whose background load drifted over the night, three runs of the
SAME code+data read 83.3s / 107.0s / 148.2s total while the oracle
column moved 463 -> 538 -> 448s, and per-query ratios (q106 9.67x vs
SCALING's same-night slope-1.14 reading) became committed noise. The
fix is the protocol the r-N per-query probes used (git history):
INTERLEAVE the engines per query — spark rep, oracle rep, spark rep,
oracle rep, all within a ~minute window — so host drift hits both
columns of a row equally, and commit the MEDIAN of reps plus the
spread and a loadavg stamp so a reader can see whether a row is
trustworthy without archaeology.

Per query, through tools/measure.py:
  1. untimed sf0.001 warm run of the query (JIT/codegen)
  2. rep loop ($SPARK_GRAFT_BENCH_REPS, default 3): timed Spark
     noop-write on sf1, then a timed DuckDB subprocess run on the same
     sf1 parquet (page cache shared)
  3. record per-engine rep lists, medians, relative spread, loadavg

Usage: python tools/sf1_bench.py [out_json] [query ...]
       (default SF1_BENCH.json, every catalog query)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dropbox_duckdb_playground_spark.catalog import TABLES  # noqa: E402
from tools.measure import default_reps, measure  # noqa: E402

SF1 = os.path.join(REPO, "testdata_sf1")
ORACLE_TIMEOUT = 900  # seconds per oracle rep subprocess

# One timed run per subprocess: the rep cadence (and hence warm/cold
# mix) is controlled by the interleaving loop below, not hidden inside
# a best-of-N here. Page cache is shared with the Spark reps that run
# seconds earlier on the same files, so rep 1 is storage-warm.
_ORACLE_RUNNER = r"""
import json, os, sys, time
import duckdb
sf1, sql = sys.argv[1], sys.stdin.read()
con = duckdb.connect()
con.execute("SET enable_progress_bar = false")
for t in %r:
    p = os.path.join(sf1, f"{t}.parquet")
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
t0 = time.time()
con.execute(sql).fetchall()
print(json.dumps({"oracle": round(time.time() - t0, 3)}))
""" % (TABLES,)


def _oracle_rep(sql: str) -> tuple[float | None, str | None]:
    try:
        r = subprocess.run(
            [sys.executable, "-c", _ORACLE_RUNNER, SF1],
            input=sql,
            capture_output=True,
            text=True,
            timeout=ORACLE_TIMEOUT,
            cwd=REPO,
        )
    except subprocess.TimeoutExpired:
        return None, f"timeout >{ORACLE_TIMEOUT}s"
    if r.returncode != 0:
        return None, r.stderr.strip()[-200:]
    payload = r.stdout.strip()
    return json.loads(payload[payload.rfind("{"):])["oracle"], None


def _spread(reps: list[float]) -> float:
    med = statistics.median(reps)
    return round((max(reps) - min(reps)) / max(med, 1e-9), 3)


def oracle_row_fields(
    oracle_reps: list[float], oracle_errs: list[str], reps: int
) -> dict:
    """Finalize one row's oracle fields. A row carries a median ONLY at
    the full rep count the artifact's protocol string claims; a partial
    row (any rep failed) reports oracle=None + oracle_err with the
    succeeded count — never both a median and an error (r10 ADVICE).
    Partial rep times stay under oracle_reps for transparency."""
    out: dict = {"oracle_rep_count": len(oracle_reps)}
    if oracle_reps:
        out["oracle_reps"] = [round(x, 3) for x in oracle_reps]
    if len(oracle_reps) == reps:
        out["oracle"] = round(statistics.median(oracle_reps), 3)
        out["oracle_spread"] = _spread(oracle_reps)
    else:
        out["oracle"] = None
        out["oracle_err"] = (
            (oracle_errs[-1] if oracle_errs else "no oracle rep")
            + f" [{len(oracle_reps)}/{reps} reps succeeded]"
        )
    return out


def main() -> int:
    args = sys.argv[1:]
    out_json = os.path.join(REPO, "SF1_BENCH.json")
    if args and args[0].endswith(".json"):
        out_json = args.pop(0)
    from dropbox_duckdb_playground_spark import catalog

    oracles = catalog.oracle_sql()
    names = [q for q in catalog.REGISTRY if not args or q in args]
    reps = default_reps()
    loadavg: dict[str, float] = {}
    oracle_reps: dict[str, list[float]] = {q: [] for q in names}
    oracle_errs: dict[str, list[str]] = {q: [] for q in names}

    def oracle_rep(name: str) -> None:
        # keep attempting ALL reps after a failure (r10 ADVICE): a
        # transient-error row either recovers to a full median-of-reps
        # or is reported as failed — never a silent partial median
        loadavg.setdefault(name, round(os.getloadavg()[0], 2))
        if name in oracles:
            o, err = _oracle_rep(oracles[name])
            if err is not None:
                oracle_errs[name].append(err)
            else:
                oracle_reps[name].append(o)

    results: dict[str, dict] = {}
    for name, t in measure(SF1, names, reps, after_rep=oracle_rep).items():
        row: dict = {"loadavg": loadavg.get(name)}
        if t.error is not None:
            row["spark"] = None
            row["spark_err"] = t.error
        else:
            row["spark"] = t.median
            row["spark_reps"] = t.reps
            row["spark_spread"] = _spread(t.reps)
        if name not in oracles:
            row["oracle"] = None
            row["oracle_err"] = "rows-only query (no oracle)"
        else:
            row.update(oracle_row_fields(oracle_reps[name], oracle_errs[name], reps))
        results[name] = row
        print(
            f"SF1BENCH {name}: spark={row.get('spark')} "
            f"oracle={row.get('oracle')} load={row['loadavg']}",
            flush=True,
        )

    both = [
        (v["spark"], v["oracle"])
        for v in results.values()
        if v.get("spark") is not None and v.get("oracle") is not None
    ]
    artifact = {
        "metric": "sf1_steady_state_wall",
        "unit": "sec",
        "sf": 1,
        "protocol": (
            "interleaved per query (spark rep / oracle rep alternating in "
            f"one ~minute window), median of {reps} reps per engine, "
            "sf0.001-warmed Spark session (tools/measure.py), noop write "
            "vs DuckDB fetchall on the same sf1 parquet; per-row loadavg "
            "+ rep spread recorded"
        ),
        "spark_total": round(sum(s for s, _ in both), 3),
        "oracle_total": round(sum(o for _, o in both), 3),
        "ratio": round(
            sum(s for s, _ in both) / max(sum(o for _, o in both), 1e-9), 3
        ),
        "n_compared": len(both),
        "queries": results,
    }
    with open(out_json, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(
        f"\nSF1_BENCH: spark {artifact['spark_total']}s vs oracle "
        f"{artifact['oracle_total']}s -> {artifact['ratio']}x "
        f"({len(both)} rows) -> {out_json}"
    )
    return 1 if any(v["spark"] is None for v in results.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
