"""Multimodal column plumbing + Structured Streaming wrappers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.operators.multimodal import (
    attach_media_meta,
    decode_features,
    fake_image_decode,
    frame_sample_plan,
)
from dropbox_duckdb_playground_spark.streaming.incremental import (
    incremental_file_stream,
)
from dropbox_duckdb_playground_spark.streaming.windows import (
    sessionized,
    windowed_counts,
)


def _media(spark):
    rows = [(i, bytes([i]) * 32) for i in range(5)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    return attach_media_meta(df, "image", "image/png")


def test_media_schema(spark):
    df = _media(spark)
    assert dict(df.dtypes)["meta"].startswith("struct<modality:string")


def test_decode_features_deterministic(spark):
    df = _media(spark)
    out1 = {r.media_id: (r.width, r.height, tuple(r.features)) for r in decode_features(df).collect()}
    out2 = {r.media_id: (r.width, r.height, tuple(r.features)) for r in decode_features(df).collect()}
    assert out1 == out2
    assert all(64 <= v[0] < 256 and len(v[2]) == 4 for v in out1.values())


def test_decode_stub_raises_on_null(spark):
    with pytest.raises(NotImplementedError):
        fake_image_decode(None)


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, 3500)], "media_id long, duration long"
    ).select(
        "media_id",
        F.struct(F.col("duration").alias("duration_ms")).alias("meta"),
    )
    got = [r.frame_ts_ms for r in frame_sample_plan(df, every_ms=1000).collect()]
    assert got == [0, 1000, 2000, 3000]


def test_windowed_counts_batch(spark, sf_dir):
    from dropbox_duckdb_playground_spark.catalog import load

    e = load(spark, sf_dir, "events")
    out = windowed_counts(e, window="1 hour")
    row = out.orderBy("win", "event_type").first()
    assert row.n >= 1 and row.win.start is not None


def test_sessionized_batch(spark, sf_dir):
    from dropbox_duckdb_playground_spark.catalog import load

    e = load(spark, sf_dir, "events")
    out = sessionized(e, gap="1 hour")
    assert out.count() > 0


def test_incremental_file_stream_available_now(spark, tmp_path):
    """availableNow semantics: first run consumes existing files; a second
    run with the same checkpoint consumes only NEW files (exactly-once)."""
    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, "a")], ["k", "v"]).write.parquet(src)
    schema = spark.read.parquet(src).schema

    seen: list[int] = []

    def collect_batch(df, epoch_id):
        seen.append(df.count())

    q = incremental_file_stream(spark, src, schema, collect_batch, ckpt)
    q.awaitTermination(60)
    assert sum(seen) == 1

    spark.createDataFrame([(2, "b"), (3, "c")], ["k", "v"]).write.mode(
        "append"
    ).parquet(src)
    seen.clear()
    q2 = incremental_file_stream(spark, src, schema, collect_batch, ckpt)
    q2.awaitTermination(60)
    assert sum(seen) == 2  # only the two new rows


def _dedup_stream(spark, tmp_path, files, schema, **dedup):
    """Land each row list in ``files`` as its own Parquet file, stream them
    one file per micro-batch through ``first_seen_dedup`` and return
    ``(output schema, [(batch id, row tuple), ...], query)``."""
    from dropbox_duckdb_playground_spark.streaming.stateful import (
        first_seen_dedup,
    )

    src = tmp_path / "in"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = first_seen_dedup(stream, **dedup)
    got: list = []
    q = (
        out.writeStream.foreachBatch(
            lambda df, eid: got.extend((eid, tuple(r)) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    return out.schema, got, q


def test_first_seen_dedup_stateful(spark, tmp_path):
    """Duplicate keys across micro-batches emit exactly once (state
    persists across batches; maxFilesPerTrigger forces multiple)."""
    _, got, _ = _dedup_stream(
        spark, tmp_path, [[(1, "a"), (2, "b")], [(1, "dup"), (3, "c")]],
        "k long, v string", key="k", out_schema="k long, v string",
    )
    assert sorted(r for _, r in got) == [(1, "a"), (2, "b"), (3, "c")]


def test_first_seen_dedup_within_batch_and_null_key(spark, tmp_path):
    """A key repeated inside one micro-batch is emitted once, and so is
    the null key (null is one key, as in a groupBy)."""
    _, got, _ = _dedup_stream(
        spark, tmp_path,
        [[(1, "a"), (1, "a2"), (None, "n1"), (None, "n2")],
         [(None, "n3"), (2, "b")]],
        "k long, v string", key="k", out_schema="k long, v string",
    )
    keys = [r[0] for _, r in got]
    assert sorted(keys, key=lambda k: (k is not None, k)) == [None, 1, 2]
    assert {r[1] for _, r in got if r[0] == 1} <= {"a", "a2"}
    assert {r[1] for _, r in got if r[0] is None} <= {"n1", "n2"}


def test_first_seen_dedup_projects_and_casts(spark, tmp_path):
    """``out_schema`` keeps only its columns, casts each to its declared
    type and puts the key first."""
    schema, got, _ = _dedup_stream(
        spark, tmp_path, [[(1, "a", 2.5), (1, "b", 3.0)]],
        "k long, v string, x double",
        key="k", out_schema="x string, k int",
    )
    assert schema.simpleString() == "struct<k:int,x:string>"
    assert [r for _, r in got] in ([(1, "2.5")], [(1, "3.0")])


def test_first_seen_dedup_ttl_reemits_after_watermark(spark, tmp_path):
    """With an event-time ttl, a duplicate inside the window is dropped;
    once the watermark passes first-seen time + ttl the key's state
    expires and the key is emitted again."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    _, got, q = _dedup_stream(
        spark, tmp_path,
        [[(1, "a", ts(0))],
         [(1, "dup", ts(1)), (2, "b", ts(30))],  # watermark -> 0:20
         [(3, "c", ts(40))],  # evicts k=1 (expiry 0:10 < 0:20)
         [(1, "again", ts(41))]],
        "k long, v string, t timestamp",
        key="k", out_schema="k long, v string", event_time="t",
        ttl="10 minutes",
    )
    assert got == [(0, (1, "a")), (1, (2, "b")), (2, (3, "c")), (3, (1, "again"))]
    assert all(p["eventTime"].get("watermark") for p in q.recentProgress)


def test_first_seen_dedup_rejects_bad_arguments(spark):
    from dropbox_duckdb_playground_spark.streaming.stateful import (
        first_seen_dedup,
    )

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="event_time"):
        first_seen_dedup(df, "k", "k long, v string", ttl="1 hour")
    with pytest.raises(ValueError, match="key"):
        first_seen_dedup(df, "k", "v string")
    with pytest.raises(ValueError, match="lacks"):
        first_seen_dedup(df, "k", "k long, nope string")


def test_first_seen_dedup_plan_is_native(spark, tmp_path, capsys):
    """The dedup runs as Spark's StreamingDeduplicate, not as a Python
    stateful operator: no row goes to a Python worker."""
    _, _, q = _dedup_stream(
        spark, tmp_path, [[(1, "a")]], "k long, v string",
        key="k", out_schema="k long, v string",
    )
    q.explain()
    plan = capsys.readouterr().out
    assert "StreamingDeduplicate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


def test_running_totals_stateful(spark, tmp_path):
    from dropbox_duckdb_playground_spark.streaming.stateful import running_totals

    src = tmp_path / "in2"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], "k long, value double"
    ).coalesce(1).write.parquet(str(src / "f1"))

    stream = spark.readStream.schema("k long, value double").parquet(str(src / "*"))
    out = running_totals(stream, "k")
    got: list = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, _e: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    by = {r["k"]: (r["n"], r["total"]) for r in got}
    assert by[1] == (2, 15.0) and by[2] == (1, 1.0)


def test_resize_images_plumbing(spark):
    from dropbox_duckdb_playground_spark.operators import multimodal as MM

    rows = [(i, bytes([i]) * 32) for i in range(6)]
    df = spark.createDataFrame(rows, "media_id bigint, content binary")
    out = MM.resize_images(df, 128, 96).collect()
    assert len(out) == 6
    assert all(r.width == 128 and r.height == 96 for r in out)
    # deterministic fake: same input -> same bytes, distinct inputs differ
    again = {r.media_id: bytes(r.content) for r in MM.resize_images(df, 128, 96).collect()}
    first = {r.media_id: bytes(r.content) for r in out}
    assert first == again
    assert len(set(first.values())) == 6


# -- real-codec path (PIL optional) -----------------------------------------

# minimal valid 1x1 red PNG (public PNG spec; generated by the stdlib
# encoder in operators/multimodal.py and verified by its decoder —
# the previous hand-transcribed fixture carried a corrupt zlib Adler-32
# that no codec in this container had ever actually inflated)
_PNG_1x1 = bytes.fromhex(
    "89504e470d0a1a0a0000000d4948445200000001000000010802000000907753de"
    "0000000c49444154789c63f8cfc0000003010100c9fe92ef"
    "0000000049454e44ae426082"
)


def test_default_decode_ladder_without_pil(spark):
    """Without PIL, default_image_decode runs the REAL stdlib PNG
    decoder for PNG content and degrades to the deterministic fake
    only for non-PNG bytes."""
    import importlib.util

    from dropbox_duckdb_playground_spark.operators import multimodal as MM

    if importlib.util.find_spec("PIL") is None:
        assert MM.default_image_decode(_PNG_1x1) == MM.stdlib_png_decode(
            _PNG_1x1
        )
    assert MM.default_image_decode(b"not an image") == MM.fake_image_decode(
        b"not an image"
    )


def test_real_codec_decode_png(spark):
    """Real-codec path: decode an actual PNG through the default codec
    ladder inside the Spark pipeline. Runs in EVERY environment — PIL
    when installed, the stdlib PNG decoder otherwise — so the
    real-decode path is always exercised. The fixture is a 1x1 pure-red
    pixel: exact dims and exact mean-RGB features."""
    from dropbox_duckdb_playground_spark.operators import multimodal as MM

    df = spark.createDataFrame([(1, _PNG_1x1)], ["media_id", "content"])
    row = MM.decode_features(df).collect()[0]
    assert (row.width, row.height) == (1, 1)
    r, g, b, lum = row.features
    assert abs(r - 1.0) < 1e-9 and g == 0.0 and b == 0.0
    assert abs(lum - 0.2126) < 1e-9


def test_stdlib_png_resize_roundtrip(spark):
    """stdlib_png_resize emits a valid PNG: nearest-neighbor upscale of
    the 1x1 red fixture to 4x3 decodes back (through the real stdlib
    decoder) to the right dims and the same pure-red features."""
    from dropbox_duckdb_playground_spark.operators import multimodal as MM

    out = MM.stdlib_png_resize(_PNG_1x1, 4, 3)
    assert (out["width"], out["height"]) == (4, 3)
    d = MM.stdlib_png_decode(out["content"])
    assert (d["width"], d["height"]) == (4, 3)
    r, g, b, _ = d["features"]
    assert abs(r - 1.0) < 1e-9 and g == 0.0 and b == 0.0


def test_resize_images_stage_real_codec(spark):
    """The Arrow-batched resize stage emits decodable PNGs through the
    default codec ladder (real codec in every environment)."""
    from dropbox_duckdb_playground_spark.operators import multimodal as MM

    df = spark.createDataFrame([(1, _PNG_1x1)], ["media_id", "content"])
    row = MM.resize_images(df, 8, 5).collect()[0]
    assert (row.width, row.height) == (8, 5)
    d = MM.stdlib_png_decode(bytes(row.content))
    assert (d["width"], d["height"]) == (8, 5)
    r, g, _b, _ = d["features"]
    assert abs(r - 1.0) < 1e-9 and g == 0.0


def test_streaming_incremental_crawl_e2e(spark, tmp_path):
    """End-to-end shape of the reference's etag re-crawl loop on
    Structured Streaming: JSON batches land in a directory; each
    availableNow pass merges new/updated records into the engine table
    with keep-first (newest batch wins) semantics and re-snapshots.
    Run 1 ingests the initial crawl; run 2 sees only the delta files
    (checkpoint), and the merge keeps the update over the snapshot."""
    from dropbox_duckdb_playground_spark.engine import Engine
    from dropbox_duckdb_playground_spark.streaming.incremental import (
        IncrementalCache,
        incremental_file_stream,
    )

    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    eng = Engine(spark=spark, root=str(tmp_path / "store"))
    cache = IncrementalCache(eng)

    spark.createDataFrame(
        [(1, "v1"), (2, "v1")], ["pkg", "payload"]
    ).write.parquet(land)
    schema = spark.read.parquet(land).schema

    def ingest(batch_df, _epoch):
        batches = [batch_df]
        if "pkgs" in eng:
            batches.append(eng.table("pkgs"))
        merged = cache.merge_batches(batches, keys=["pkg"]).localCheckpoint()
        eng.register("pkgs", merged)
        eng.save("pkgs")
        cache.snapshot("pkgs")

    incremental_file_stream(spark, land, schema, ingest, ckpt).awaitTermination(60)
    assert dict((r.pkg, r.payload) for r in eng.table("pkgs").collect()) == {
        1: "v1",
        2: "v1",
    }

    # delta crawl: pkg 2 updated (etag changed), pkg 3 new
    spark.createDataFrame(
        [(2, "v2"), (3, "v1")], ["pkg", "payload"]
    ).write.mode("append").parquet(land)
    incremental_file_stream(spark, land, schema, ingest, ckpt).awaitTermination(60)
    assert dict((r.pkg, r.payload) for r in eng.table("pkgs").collect()) == {
        1: "v1",
        2: "v2",
        3: "v1",
    }
    # snapshot matches the merged state for the next diff
    assert cache.load("pkgs").count() == 3


def test_interval_join_stream_stream(spark, tmp_path):
    """Stream-stream event-time interval join with watermarks on both
    sides: signups joined to errors of the same user within +30 min.
    The static-frame run of the same builder is the oracle."""
    import datetime as dt

    from dropbox_duckdb_playground_spark.streaming.windows import interval_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    signups = [(1, 7, ts(0)), (2, 7, ts(100)), (3, 8, ts(0))]
    errors = [(10, 7, ts(10)), (11, 7, ts(95)), (12, 8, ts(20)), (13, 9, ts(5))]
    s_schema = "sid long, user_id long, ts timestamp"
    e_schema = "eid long, user_id long, ts timestamp"

    sdir, edir = str(tmp_path / "s"), str(tmp_path / "e")
    spark.createDataFrame(signups, s_schema).write.parquet(sdir)
    spark.createDataFrame(errors, e_schema).write.parquet(edir)

    s_stream = spark.readStream.schema(s_schema).parquet(sdir)
    e_stream = spark.readStream.schema(e_schema).parquet(edir)
    joined = interval_join(
        s_stream, e_stream, key="user_id", lower="0 seconds", upper="30 minutes"
    )
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r.sid, r.eid_r) for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, 10), (3, 12)]  # within +30min, same user only

    # batch oracle: the same builder on the static frames
    want = sorted(
        (r.sid, r.eid_r)
        for r in interval_join(
            spark.createDataFrame(signups, s_schema),
            spark.createDataFrame(errors, e_schema),
            key="user_id",
            lower="0 seconds",
            upper="30 minutes",
        ).collect()
    )
    assert got == want


def test_stream_static_contamination(spark, tmp_path):
    """Stream-static broadcast join: a document stream scored against a
    static benchmark shingle set — the streaming form of the q48
    decontamination scan. The static side re-resolves per micro-batch
    and joins broadcast, so the streaming plan stays stateless."""
    from pyspark.sql import functions as F

    from dropbox_duckdb_playground_spark.operators.dedup import (
        contamination_check,
        shingles,
    )

    src = str(tmp_path / "doc_stream")
    spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w")], ["doc_id", "text"]
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    bench = shingles(
        spark.createDataFrame([(100, "a b c z")], ["doc_id", "text"]), n=3
    )

    got: list[tuple] = []

    def score_batch(df, epoch_id):
        out = contamination_check(shingles(df, n=3), bench)
        got.extend(
            (r.doc_id, r.n_contaminated, float(r.contamination))
            for r in out.collect()
        )

    q = (
        spark.readStream.schema(schema)
        .parquet(src)
        .writeStream.foreachBatch(score_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_c"))
        .start()
    )
    q.awaitTermination(60)
    assert sorted(got) == [(1, 1, 0.5), (2, 0, 0.0)]


def test_incremental_agg_equals_full_recompute(spark):
    """Differential: maintaining sum/count/min/max/avg by merging
    partial states over three batches == one aggregation over all rows."""
    from pyspark.sql import functions as F

    from dropbox_duckdb_playground_spark.plans.pipeline import (
        assert_frames_equal,
    )
    from dropbox_duckdb_playground_spark.streaming.incremental import (
        finalize_agg,
        incremental_agg_state,
        merge_agg_states,
    )

    batches = [
        spark.createDataFrame(rows, ["k", "v"])
        for rows in (
            [(1, 10.0), (2, 5.0), (1, 3.0)],
            [(2, -1.0), (3, 7.0)],
            [(1, 100.0)],
        )
    ]
    fns = ["sum", "count", "min", "max", "avg"]
    state = incremental_agg_state(batches[0], ["k"], "v", fns)
    for b in batches[1:]:
        state = merge_agg_states(
            [state, incremental_agg_state(b, ["k"], "v", fns)], ["k"]
        )
    inc = finalize_agg(state, ["k"], fns)

    full = batches[0].unionByName(batches[1]).unionByName(batches[2])
    expected = full.groupBy("k").agg(
        F.sum("v").alias("sum"),
        F.count("v").alias("count"),
        F.min("v").alias("min"),
        F.max("v").alias("max"),
        F.avg("v").alias("avg"),
    )
    assert_frames_equal(inc, expected)

    import pytest

    with pytest.raises(ValueError):
        incremental_agg_state(batches[0], ["k"], "v", ["median"])


def test_streaming_example_end_to_end(spark):
    """examples/streaming_incremental.py: availableNow streams,
    cross-batch stateful dedup, and incremental agg states run clean;
    the replay-safe composition drops the duplicate and the replay."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "streaming_incremental",
        os.path.join(os.path.dirname(__file__), "..", "examples",
                     "streaming_incremental.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main()
    assert spark.table("firsts").count() == 5  # 7 landed - dup - replay
