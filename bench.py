"""Benchmark harness: runs every catalog query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "n_failed": ..., "failed": [...], "sf": ...,
"oracle_total_warm": ..., "oracle_queries": {...}}.

Each cell is the median of $SPARK_GRAFT_BENCH_REPS (default 3) noop-sink
runs after an untimed warm run, timed by tools/measure.py. If any query
fails, ``value`` is null and the exit code is 1.

The DuckDB oracle suite is also timed on the same parquet (one cold pass
then one warm pass, warm reported per-query) so the Spark-vs-baseline
comparison is self-contained in this file's output.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def time_oracles(sf_dir: str) -> tuple[float, float, dict[str, float]]:
    """DuckDB oracle wall-times on the same parquet: (cold_total,
    warm_total, warm_per_query). Skips queries with no oracle SQL."""
    import duckdb

    from dropbox_duckdb_playground_spark import catalog

    oracles = catalog.oracle_sql()
    con = duckdb.connect()
    for t in catalog.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    totals = []
    per_q: dict[str, float] = {}
    for label in ("cold", "warm"):
        t_all = 0.0
        for name, sql in oracles.items():
            t0 = time.time()
            try:
                con.execute(sql).fetchall()
            except Exception as exc:
                sys.stderr.write(f"bench: oracle {name} failed: {exc}\n")
                per_q[name] = -1.0
                continue
            dt = time.time() - t0
            t_all += dt
            if label == "warm":
                per_q[name] = round(dt, 3)
        totals.append(round(t_all, 3))
    return totals[0], totals[1], per_q


def summarise(timings: dict[str, float | None]) -> dict:
    """The bench's headline fields from per-query medians (None = the
    query failed). A failed query is listed and nulls the total, which
    would otherwise shrink by that query's time; its cell reads -1."""
    failed = [name for name, t in timings.items() if t is None]
    return {
        "metric": "catalog_total_wall",
        "value": None if failed else round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {name: -1.0 if t is None else t for name, t in timings.items()},
        "n_failed": len(failed),
        "failed": failed,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from dropbox_duckdb_playground_spark import catalog
    from tools.measure import measure

    results = measure(sf_dir, list(catalog.REGISTRY))
    out = summarise({name: t.median for name, t in results.items()})
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    out["sf"] = float(sf) if sf else None
    if os.environ.get("SPARK_GRAFT_NO_ORACLE") != "1":
        cold, warm, per_q = time_oracles(sf_dir)
        out["oracle_total_cold"] = cold
        out["oracle_total_warm"] = warm
        out["oracle_queries"] = per_q
    line = json.dumps(out)
    # Durable copy first: the stdout line rides on megabytes of Spark
    # progress noise and has been truncated in captured tails before.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(REPO, "bench_out.json")
    )
    try:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    except OSError as exc:
        sys.stderr.write(f"bench: could not write {out_path}: {exc}\n")
    sys.stderr.flush()
    sys.stdout.flush()
    print(line, flush=True)
    # The driver records only the LAST 2000 bytes of stdout; the full
    # line above is ~7KB, so it can never survive that window whole.
    # Emit a second, compact line (<2KB: short query keys, 2dp) as the
    # FINAL stdout line so the captured tail always ends with one
    # complete, parseable JSON document. Full payload: bench_out.json.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "queries": {
            name.split("_", 1)[0]: round(t, 2) for name, t in out["queries"].items()
        },
        "n_failed": out["n_failed"],
        "failed": [name.split("_", 1)[0] for name in out["failed"]],
        "full": os.path.basename(out_path),
    }
    for k in ("oracle_total_cold", "oracle_total_warm"):
        if k in out:
            compact[k] = out[k]
    print(json.dumps(compact, separators=(",", ":")), flush=True)
    return 1 if out["n_failed"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
