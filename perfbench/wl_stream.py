"""stream-ingest: the journey of examples/streaming_incremental.py at
scale. Each operation lands one seeded event batch (10% replayed ids) as
a Parquet file, then runs the per-batch aggregate-state stream
(``incremental_file_stream``) and the stateful first-seen dedup stream
(``first_seen_dedup``), both ``availableNow`` over the landing directory
with their own checkpoints. The run ends by merging the aggregate
states. It is the only user of ``streaming/``, and it writes checkpoints
and state beside every read."""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

import gen

BATCH_ROWS = 400
# Batches after the first: --seconds of work at this many seconds a batch,
# and at least MIN_BATCHES.
BATCH_S = 2.0
MIN_BATCHES = 7
SCHEMA = "event_id long, user_id long, event_type string, ts timestamp, value double"
DEDUP_SCHEMA = "event_id long, event_type string, value double"


def prepare(ctx) -> None:
    ctx.batches = gen.stream_batches(
        ctx.seed, 1 + max(MIN_BATCHES, round(ctx.seconds / BATCH_S)), BATCH_ROWS)
    ctx.land = os.path.join(ctx.work, "landing")
    ctx.firsts = os.path.join(ctx.work, "firsts")
    os.makedirs(ctx.land)
    ctx.states = []
    ctx.progress = []


def _batch(ctx, i: int) -> None:
    from dropbox_duckdb_playground_spark.streaming.incremental import (
        incremental_agg_state,
        incremental_file_stream,
    )
    from dropbox_duckdb_playground_spark.streaming.stateful import first_seen_dedup

    spark, tr = ctx.spark, ctx.tracer
    pq.write_table(ctx.batches[i], os.path.join(ctx.land, f"batch-{i:05d}.parquet"))

    def process_batch(batch_df, epoch_id):
        deduped = batch_df.dropDuplicates(["event_id"])
        state = incremental_agg_state(
            deduped, keys=["event_type"], value="value",
            fns=["sum", "count", "avg"])
        ctx.states.append(state.collect())

    with tr.span("streaming.agg_batch"):
        q = incremental_file_stream(
            spark, ctx.land, SCHEMA, process_batch,
            os.path.join(ctx.work, "ckpt_agg"))
        q.awaitTermination()
    with tr.span("streaming.dedup_batch"):
        stream = spark.readStream.schema(SCHEMA).parquet(ctx.land)
        firsts = first_seen_dedup(stream, key="event_id", out_schema=DEDUP_SCHEMA)
        d = (firsts.writeStream.format("parquet").option("path", ctx.firsts)
             .option("checkpointLocation", os.path.join(ctx.work, "ckpt_dedup"))
             .trigger(availableNow=True).start())
        d.awaitTermination()
    for query in (q, d):
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
    if tr.enabled:
        ctx.progress.append(d.lastProgress)


def _merge(ctx):
    from dropbox_duckdb_playground_spark.streaming.incremental import (
        finalize_agg,
        merge_agg_states,
    )

    with ctx.tracer.span("streaming.merge"):
        states = [ctx.spark.createDataFrame(rows) for rows in ctx.states if rows]
        merged = merge_agg_states(states, keys=["event_type"])
        return finalize_agg(merged, keys=["event_type"],
                            fns=["sum", "count", "avg"]).toPandas()


def run(ctx) -> None:
    ctx.loop.op(_batch, ctx, 0, phase="warmup")
    for i in range(1, len(ctx.batches)):
        ctx.loop.op(_batch, ctx, i)
    ctx.final = ctx.loop.op(_merge, ctx, phase="final")


def check(ctx) -> list[str]:
    """First-seen rows equal the distinct landed ids, and the merged
    aggregate state equals a one-shot DuckDB aggregate of every landed
    row."""
    import duckdb

    con = duckdb.connect()
    land = os.path.join(ctx.land, "*.parquet")
    errors = []
    n_ids = con.sql(f"SELECT count(DISTINCT event_id) FROM '{land}'").fetchone()[0]
    got = con.sql(
        f"SELECT count(*), count(DISTINCT event_id) FROM "
        f"'{os.path.join(ctx.firsts, '*.parquet')}'").fetchone()
    if got != (n_ids, n_ids):
        errors.append(f"first-seen rows/ids {got} != distinct landed ids {n_ids}")
    want = {r[0]: r[1:] for r in con.sql(
        f"SELECT event_type, sum(value), count(value) FROM '{land}' GROUP BY 1"
    ).fetchall()}
    have = {r.event_type: (r.sum, r.count) for r in ctx.final.itertuples()}
    if set(have) != set(want) or any(
            have[k][1] != want[k][1]
            or abs(have[k][0] - want[k][0]) > 1e-9 * max(1.0, abs(want[k][0]))
            for k in want):
        errors.append(f"merged aggregate {have} != one-shot {want}")
    con.close()
    return errors


def layers(ctx, totals: dict) -> dict[str, float]:
    tr = ctx.tracer
    state = ctx.progress[-1]["stateOperators"][0]
    return {
        "streaming.agg_batch_s": tr.per_op_median("streaming.agg_batch"),
        "streaming.dedup_batch_s": tr.per_op_median("streaming.dedup_batch"),
        "streaming.state_rows": state["numRowsTotal"],
        "streaming.state_memory_bytes": state["memoryUsedBytes"],
        "streaming.input_rows_per_s": statistics.median(
            p["processedRowsPerSecond"] for p in ctx.progress[1:]),
        "streaming.merge_s": tr.seconds("streaming.merge"),
    }
