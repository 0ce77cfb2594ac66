"""pypi-graph: the flagship journey of examples/pypi_graph_pipeline.py over
a seeded package corpus with known author spelling variants and dangling
requirements. One operation builds the whole graph:

crawl (``fetch_json_table`` with an injected fetcher, landed as Parquet)
-> SQL/Py nodes and ``ValidateLinkIds`` through ``plans.pipeline.Pipeline``
-> ``resolve_entities`` and ``convert_ids`` -> ``MetaGraph`` grouping ->
RedisGraph CSV export and ``Engine.save`` Parquet.

It is the write-heavy, Python-worker and entity-resolution workload, and
the only one that runs ``sources``, ``plans``, ``engine``, ``er`` and
``graph``."""

from __future__ import annotations

import json
import os

import gen

N_PACKAGES = 600
# Warm builds per run: --seconds of work at this many seconds a build, and
# at least MIN_BUILDS. A run pays about 10 s of session set-up and a 20 s
# cold build before its first 7-8 s warm build, so two warm builds keep a
# run under a minute.
BUILD_S = 7.0
MIN_BUILDS = 2
INFO_SCHEMA = "name string, author string, license string, requires_dist array<string>"
STAGES = ("package", "author", "has_author", "requires")
TRIPLETS = {"has_author": ("package", "author"), "requires": ("package", "package")}


def make_fetcher(packages: dict[str, dict]):
    """(status, body, etag) like ``sources.http.default_fetcher``, served
    from the generated corpus instead of the network."""
    def fetch(url: str, etag):
        pkg = url[:-len("/json")].rsplit("/", 1)[-1]
        if pkg not in packages:
            return 404, None, None
        return 200, json.dumps({"info": packages[pkg]}), f'W/"{pkg}-v1"'
    return fetch


def prepare(ctx) -> None:
    packages, ctx.truth = gen.pypi_corpus(ctx.seed, N_PACKAGES)
    ctx.fetcher = make_fetcher(packages)
    ctx.crawled_bytes = sum(len(json.dumps({"info": p})) for p in packages.values())
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    ctx.urls = ctx.spark.createDataFrame(
        [(f"https://pypi.org/pypi/{p}/json",) for p in packages], ["url"]
    ).repartition(cores)
    ctx.out = os.path.join(ctx.work, "graph")


def _pipeline():
    from pyspark.sql import functions as F

    from dropbox_duckdb_playground_spark.graph.metagraph import MetaGraph
    from dropbox_duckdb_playground_spark.operators.relational import stable_id
    from dropbox_duckdb_playground_spark.plans.pipeline import Pipeline, PyNode, SQLNode
    from dropbox_duckdb_playground_spark.sources.http import parse_json_body

    def tabularize(ins):
        flat = parse_json_body(ins[0], f"info struct<{INFO_SCHEMA}>").select("parsed.info.*")
        reqs = flat.select("name", F.explode("requires_dist").alias("spec")).withColumn(
            "req", F.regexp_extract("spec", r"^[A-Za-z0-9_\-]+", 0))
        return [flat, reqs]

    def extract(ins):
        flat, reqs = ins
        return [
            flat.select(stable_id("name").alias("node_id"), "name", "license"),
            flat.filter(F.col("author").isNotNull()).select(
                stable_id("author").alias("node_id"),
                F.col("author").alias("name")).distinct(),
            flat.filter(F.col("author").isNotNull()).select(
                stable_id("name").alias("from_id"), stable_id("author").alias("to_id")),
            reqs.select(stable_id("name").alias("from_id"), stable_id("req").alias("to_id")),
        ]

    mg = MetaGraph(triplets=TRIPLETS)
    nodes = [
        PyNode(tabularize, ["raw_latest"], ["latest_flat", "latest_requires"]),
        PyNode(extract, ["latest_flat", "latest_requires"],
               ["package", "author_messy", "has_author_messy", "requires_all"]),
        # dangling requirements are excluded, as the reference does
        SQLNode({"requires": "SELECT r.* FROM requires_all r "
                             "LEFT SEMI JOIN package p ON r.to_id = p.node_id",
                 "author": "SELECT * FROM author_messy",
                 "has_author": "SELECT * FROM has_author_messy"},
                input_ids=["requires_all", "package", "author_messy", "has_author_messy"]),
        *mg.validators(),
    ]
    return mg, Pipeline(nodes=nodes, sources=["raw_latest"])


def _build(ctx) -> None:
    from pyspark.sql import functions as F

    from dropbox_duckdb_playground_spark.engine import Engine
    from dropbox_duckdb_playground_spark.er.clustering import convert_ids
    from dropbox_duckdb_playground_spark.er.resolution import resolve_entities
    from dropbox_duckdb_playground_spark.sources.http import fetch_json_table
    from dropbox_duckdb_playground_spark.sources.redisgraph import (
        write_redisgraph_links_csv,
        write_redisgraph_nodes_csv,
    )

    tr = ctx.tracer
    eng = Engine(spark=ctx.spark, root=os.path.join(ctx.out, "parquet"))
    with tr.span("sources.crawl"):
        fetched = fetch_json_table(ctx.urls, fetcher=ctx.fetcher)
        eng.register("raw_latest", fetched.filter(F.col("status") == 200))
        eng.save("raw_latest")
    mg, pipeline = _pipeline()
    with tr.span("plans.execute"):
        pipeline.execute(eng)
    with tr.span("er.resolve"):
        eng.register("author_map", resolve_entities(eng.table("author"), canon=None))
        eng.save("author_map")
        mapper = eng.table("author_map")
        eng.register("has_author", convert_ids(eng.table("has_author"), mapper, ["to_id"]))
        eng.register("author", convert_ids(eng.table("author"), mapper, ["node_id"])
                     .groupBy("node_id").agg(F.min("name").alias("name")))
    with tr.span("graph.group"):
        groups = [(mg.group_nodes(eng, n), n, True) for n in mg.nodes]
        groups += [(mg.group_links(eng, link), link, False) for link in mg.links]
    with tr.span("sources.export"):
        for df, name, is_node in groups:
            path = os.path.join(ctx.out, "csv", name)
            if is_node:
                write_redisgraph_nodes_csv(df, path, label=name)
            else:
                write_redisgraph_links_csv(df, path)
    with tr.span("engine.save"):
        for obj_id in STAGES:
            eng.save(obj_id)
    ctx.eng = eng


def run(ctx) -> None:
    ctx.loop.op(_build, ctx, phase="warmup")
    for _ in range(max(MIN_BUILDS, round(ctx.seconds / BUILD_S))):
        ctx.loop.op(_build, ctx)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def _csv_rows(path: str) -> int:
    n = 0
    for f in os.listdir(path):
        if f.endswith(".csv"):
            with open(os.path.join(path, f)) as fh:
                n += sum(1 for _ in fh) - 1
    return n


def pair_f1(ctx) -> float:
    """Pairwise F1 of the resolved author clusters against the generator's
    ground truth, over distinct author strings."""
    from collections import Counter

    from pyspark.sql import functions as F

    eng = ctx.eng
    rows = (eng.table("author_messy").join(
        eng.table("author_map"), F.col("node_id") == F.col("messy_id"), "left")
        .select("name", F.coalesce("new_id", "node_id").alias("cluster")).collect())
    pred = Counter(r.cluster for r in rows)
    true = Counter(ctx.truth[r.name] for r in rows)
    both = Counter((r.cluster, ctx.truth[r.name]) for r in rows)

    def pairs(c):
        return sum(v * (v - 1) // 2 for v in c.values())

    tp, p, t = pairs(both), pairs(pred), pairs(true)
    return 2 * tp / (p + t) if p + t else 1.0


def check(ctx) -> list[str]:
    """The validators ran inside every build (a dangling link raises);
    here: CSV rows equal the distinct ids of each saved stage table, and
    the author clustering keeps a pairwise F1 of at least 0.9."""
    import duckdb

    con = duckdb.connect()
    errors = []
    for name in STAGES:
        parquet = os.path.join(ctx.out, "parquet", f"{name}.parquet", "*.parquet")
        key = "node_id" if name in ("package", "author") else "from_id, to_id"
        want = con.sql(f"SELECT count(*) FROM (SELECT DISTINCT {key} FROM '{parquet}')"
                       ).fetchone()[0]
        got = _csv_rows(os.path.join(ctx.out, "csv", name))
        if got != want or want == 0:
            errors.append(f"{name}: {got} CSV rows, {want} distinct table rows")
    con.close()
    ctx.f1 = pair_f1(ctx)
    if ctx.f1 < 0.9:
        errors.append(f"author pairwise F1 {ctx.f1:.3f} < 0.9")
    return errors


def layers(ctx, totals: dict) -> dict[str, float]:
    from dropbox_duckdb_playground_spark.er.blocking import block_table, candidate_pairs
    from dropbox_duckdb_playground_spark.er.features import engineer_features
    from dropbox_duckdb_playground_spark.er.scoring import expression_scorer, select_matches

    tr, eng = ctx.tracer, ctx.eng
    feats = engineer_features(eng.table("author_messy"))
    fields = [c for c in feats.columns if c != "node_id"]
    pairs = candidate_pairs(block_table(feats, fields), feats)
    n_pairs = pairs.count()
    n_match = select_matches(expression_scorer(fields)(pairs), threshold=0.5).count()
    parquet = sum(_dir_bytes(os.path.join(ctx.out, "parquet", f"{s}.parquet"))
                  for s in ("raw_latest", "author_map") + STAGES)
    csv = _dir_bytes(os.path.join(ctx.out, "csv"))
    out = {f"{k}_s": tr.per_op_median(k) for k in (
        "sources.crawl", "plans.execute", "plans.validate", "er.resolve",
        "graph.group", "sources.export", "engine.save")}
    out.update({
        "plans.validate_jobs": totals.get("plans.validate", {}).get("jobs", 0)
        / len(ctx.loop.phases["warmup"] + ctx.loop.phases["measure"]),
        "sources.export_bytes": csv,
        "engine.bytes_written": parquet,
        "engine.stored_bytes_ratio": (parquet + csv) / ctx.crawled_bytes,
        "er.candidate_pairs": n_pairs,
        "er.match_yield": n_match / n_pairs if n_pairs else 0.0,
        "er.clusters": eng.table("author").count(),
        "er.pair_f1": ctx.f1,
    })
    return out


def trace_hooks(ctx) -> None:
    from dropbox_duckdb_playground_spark.plans.pipeline import ValidateLinkIds

    ctx.tracer.wrap(ValidateLinkIds, "run", "plans.validate")
