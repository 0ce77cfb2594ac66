"""catalog: a fixed cross-section of the catalog queries over generated
sf0.001-sized tables. Each operation builds one query, plans it and
collects its rows to the driver. Execution does little at this size, so
the per-query floor (py4j plan build, Catalyst planning, job scheduling)
dominates.

The tables are the same in every run; the seed only reorders the
queries. A run makes one cold pass over them, then at least two
measured passes, so each query's latency is a median of two samples or
more. The cross-section holds the queries that run the stages of the
training-data funnel (examples/training_data_pipeline.py) through the
``operators`` package, plus every STRIDE-th query in name order, so each
run covers the same spread of query families whatever the seed."""

from __future__ import annotations

import os
import statistics

import gen

STRIDE = 40
DATA_SEED = 0
# Measured passes per run: --seconds of work at this many seconds a pass,
# and at least MIN_PASSES.
PASS_S = 4.0
MIN_PASSES = 2
# funnel stage -> the catalog query that runs it
OPERATOR_QUERIES = {
    "exact_dedup": "q24_exact_dedup",
    "fuzzy_dedup": "q47_neardup_survivors",
    "decontam": "q48_contamination",
    "quality": "q21_quality_score",
    "mixture": "q104_source_mixture",
    "chunks": "q66_doc_chunks",
}


def query_set() -> dict:
    from dropbox_duckdb_playground_spark import catalog

    fns = catalog.queries()
    names = sorted(set(sorted(fns)[::STRIDE]) | set(OPERATOR_QUERIES.values()))
    return {n: fns[n] for n in names}


def prepare(ctx) -> None:
    ctx.data = os.path.join(ctx.work, "catalog")
    gen.catalog_tables(ctx.data, DATA_SEED)
    ctx.results = {}
    ctx.per_query = []


def _collect(ctx, name: str, fn):
    spark, tr = ctx.spark, ctx.tracer
    with tr.span("catalog.build"):
        df = fn(spark, ctx.data)
    if tr.enabled:
        with tr.span("catalog.plan"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("catalog.exec"):
        return df.toPandas()


def run(ctx) -> None:
    from dropbox_duckdb_playground_spark.session import clear_persisted, quiesce

    spark = ctx.spark
    # The check compares against the oracle under ANSI, so the measured
    # executions run under it too.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    qs = query_set()
    order = [list(qs)[i] for i in ctx.rng.permutation(len(qs))]
    for name in order:  # warm-up pass: first execution of every query
        ctx.results[name] = ctx.loop.op(_collect, ctx, name, qs[name], phase="warmup")
        clear_persisted(spark)
    quiesce(spark)
    for _ in range(max(MIN_PASSES, round(ctx.seconds / PASS_S))):
        for name in order:
            n0 = len(ctx.tracer.spans)
            ctx.loop.op(_collect, ctx, name, qs[name], kind=name)
            pinned = clear_persisted(spark)
            ctx.per_query.append((name, n0, len(ctx.tracer.spans), pinned))
        quiesce(spark)


def check(ctx) -> list[str]:
    """Digest of every query's first result against its DuckDB oracle,
    with ``tools/check.py``'s canonical digest."""
    import duckdb

    from dropbox_duckdb_playground_spark import catalog
    from tools.check import TABLES, frame_digest

    oracles = catalog.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(ctx.data, t)}.parquet'")
    errors = []
    for name, pdf in ctx.results.items():
        if name not in oracles:
            continue
        got = frame_digest(pdf)
        want = frame_digest(con.execute(oracles[name]).df())
        if got != want:
            errors.append(f"{name}: spark {got[0]} rows {got[2][:8]} != "
                          f"oracle {want[0]} rows {want[2][:8]}")
    con.close()
    return errors


def layers(ctx, totals: dict) -> dict[str, float]:
    tr = ctx.tracer
    per = {"build": [], "plan": [], "exec": []}
    by_query: dict[str, list[float]] = {}
    for name, lo, hi, _ in ctx.per_query:
        spans = tr.spans[lo:hi]
        for s in spans:
            per[s["name"].split(".")[1]].append(s["end"] - s["start"])
        by_query.setdefault(name, []).append(spans[-1]["end"] - spans[0]["start"])
    n = len(ctx.per_query)
    out = {f"catalog.{k}_s": statistics.median(v) for k, v in per.items()}
    for stage, query in OPERATOR_QUERIES.items():
        out[f"operators.{stage}_s"] = statistics.median(by_query[query])
    counted = {}
    for span in ("catalog.plan", "catalog.exec", "catalog.build"):
        for k, v in totals.get(span, {}).items():
            counted[k] = counted.get(k, 0.0) + v
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_ms"):
        out[f"catalog.{k}"] = counted.get(k, 0.0) / ctx.loop.attempted
    out["materialize.pinned_rdds"] = sum(p for *_, p in ctx.per_query) / n
    return out
