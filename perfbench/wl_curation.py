"""curation: the funnel of examples/training_data_pipeline.py over a seeded
document corpus: exact dedup -> MinHash/LSH -> connected components ->
decontamination -> quality gate -> temperature mixture -> chunks, with a
count after every stage as the example prints them (each count runs its
upstream plan again). The operators are those of the catalog queries, at
a size where shuffle and execution, not the per-query floor, dominate.

One operation is one pass of the funnel. A pass is a batch job, so every
measured pass is the first in its session."""

from __future__ import annotations

import os

import gen

N_DOCS = 3000
STAGES = ("exact_dedup", "fuzzy_dedup", "decontam", "quality", "mixture", "chunks")
# This workload is not in BENCHMARK.json, so its per-layer metrics and
# their units are listed here.
EXTRA_LAYERS = {
    **{f"curation.{s}_s": "s" for s in STAGES},
    "curation.jobs": "count", "curation.shuffle_write_bytes": "bytes",
    "curation.spill_bytes": "bytes", "curation.exec_cpu_ms": "ms",
    "curation.lsh_candidate_pairs": "count", "curation.lsh_pair_yield": "ratio",
}


def prepare(ctx) -> None:
    ctx.data = os.path.join(ctx.work, "docs")
    ctx.near_pairs = gen.curation_documents(ctx.data, ctx.seed, N_DOCS)


def _mixture(docs):
    from pyspark.sql import functions as F

    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    rates = counts.select(
        "source",
        F.floor(F.least(F.lit(1.0), F.lit(2.0) / F.sqrt("n")) * 1_000_000)
        .cast("long").alias("rate_ppm"),
    )
    h = F.conv(F.substring(F.md5(F.concat(
        F.lit("mix:"), F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))),
        1, 15), 16, 10).cast("bigint")
    return (docs.join(F.broadcast(rates), "source")
            .filter(h % 1_000_000 < F.col("rate_ppm")).drop("rate_ppm"))


def _funnel(ctx) -> None:
    from pyspark.sql import functions as F

    from dropbox_duckdb_playground_spark.catalog import load
    from dropbox_duckdb_playground_spark.operators import dedup as D
    from dropbox_duckdb_playground_spark.operators import text as TX

    tr, counts = ctx.tracer, {}
    with tr.span("curation.load"):
        docs = load(ctx.spark, ctx.data, "documents").select("doc_id", "source", "text")
        bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
        docs = docs.filter(F.col("doc_id") % 50 != 0)
        counts["corpus"] = docs.count()
    with tr.span("curation.exact_dedup"):
        keep = D.exact_dedup_groups(docs).select(F.col("keeper").alias("doc_id"))
        docs = docs.join(keep, "doc_id", "semi")
        counts["exact_dedup"] = docs.count()
    with tr.span("curation.fuzzy_dedup"):
        sig = D.minhash_signatures(D.shingles(docs, n=3), num_perm=8)
        pairs = D.lsh_candidate_pairs(sig, num_perm=8, bands=4, max_bucket_size=100)
        docs = docs.join(D.neardup_survivors(docs, pairs).select("doc_id"), "doc_id", "semi")
        counts["fuzzy_dedup"] = docs.count()
    with tr.span("curation.decontam"):
        contam = D.contamination_check(D.shingles(docs, n=3), D.shingles(bench, n=3))
        docs = docs.join(contam.filter(F.col("contamination") < 0.3).select("doc_id"),
                         "doc_id", "semi")
        counts["decontam"] = docs.count()
    with tr.span("curation.quality"):
        q = TX.quality_score(docs)
        docs = docs.join(q.filter((F.col("quality") >= 0.4)
                                  & F.col("n_tokens").between(5, 100_000))
                         .select("doc_id"), "doc_id", "semi")
        # the survivors' ids, not just their count: the check recomputes
        # the mixture from them
        kept = docs.select("doc_id").toPandas()
        counts["quality"] = len(kept)
    with tr.span("curation.mixture"):
        docs = _mixture(docs)
        counts["mixture"] = docs.count()
    with tr.span("curation.chunks"):
        counts["chunks"] = TX.chunk_documents(docs, chunk_tokens=50, overlap=10).count()
    ctx.counts, ctx.kept, ctx.lsh_pairs = counts, kept, pairs


def run(ctx) -> None:
    ctx.loop.op(_funnel, ctx)


def check(ctx) -> list[str]:
    """The funnel never grows, and the exact-dedup and mixture counts
    equal a DuckDB recomputation (the mixture from the quality stage's
    survivors)."""
    import duckdb

    c = ctx.counts
    errors = []
    funnel = [c["corpus"]] + [c[s] for s in STAGES[:-1]]
    if any(b > a for a, b in zip(funnel, funnel[1:])) or not c["mixture"]:
        errors.append(f"funnel grows or ends empty: {c}")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM "
                f"'{os.path.join(ctx.data, 'documents.parquet')}' WHERE doc_id % 50 != 0")
    exact = con.sql("SELECT count(DISTINCT md5(regexp_replace(lower(trim(text)), "
                    "'\\s+', ' ', 'g'))) FROM docs").fetchone()[0]
    if exact != c["exact_dedup"]:
        errors.append(f"exact dedup {c['exact_dedup']} != DuckDB {exact}")
    con.register("kept", ctx.kept)
    mixture = con.sql("""
        WITH q AS (SELECT d.* FROM docs d JOIN kept USING (doc_id)),
             r AS (SELECT source, floor(least(1.0, 2.0 / sqrt(count(*))) * 1000000)
                          AS rate_ppm FROM q GROUP BY source)
        SELECT count(*) FROM q JOIN r USING (source)
        WHERE ('0x' || substr(md5('mix:' || source || ':' || doc_id::VARCHAR), 1, 15)
              )::BIGINT % 1000000 < rate_ppm""").fetchone()[0]
    if mixture != c["mixture"]:
        errors.append(f"mixture {c['mixture']} != DuckDB {mixture}")
    con.close()
    return errors


def layers(ctx, totals: dict) -> dict[str, float]:
    tr = ctx.tracer
    out = {f"curation.{s}_s": tr.seconds(f"curation.{s}") for s in STAGES}
    summed: dict[str, float] = {}
    for name, tot in totals.items():
        if name.startswith("curation."):
            for k, v in tot.items():
                summed[k] = summed.get(k, 0.0) + v
    for k in ("jobs", "shuffle_write_bytes", "spill_bytes", "exec_cpu_ms"):
        out[f"curation.{k}"] = summed.get(k, 0.0)
    pairs = {tuple(sorted(p)) for p in ctx.lsh_pairs.select("a_id", "b_id").collect()}
    out["curation.lsh_candidate_pairs"] = len(pairs)
    # candidate pairs that are generated near duplicates
    out["curation.lsh_pair_yield"] = len(pairs & ctx.near_pairs) / len(pairs) if pairs else 0.0
    return out
