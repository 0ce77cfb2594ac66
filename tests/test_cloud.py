"""Cloud object-storage profile: conf construction, landing on a live
session, and Engine over scheme'd URIs (exercised with file:// — the
same Hadoop-FS code path s3a/gs take, minus the network)."""

from __future__ import annotations

from dropbox_duckdb_playground_spark.engine import Engine, _hadoop_ls, _is_uri, _join
from dropbox_duckdb_playground_spark.session import (
    apply_storage_conf,
    gcs_conf,
    s3a_conf,
)


def test_s3a_conf_magic_committer_keys():
    conf = s3a_conf(access_key="AK", secret_key="SK", endpoint="https://minio:9000")
    assert conf["spark.hadoop.fs.s3a.access.key"] == "AK"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "SK"
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "https://minio:9000"
    assert conf["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert conf["spark.hadoop.fs.s3a.committer.magic.enabled"] == "true"
    assert "PathOutputCommitProtocol" in conf["spark.sql.sources.commitProtocolClass"]


def test_s3a_conf_fs_option_passthrough():
    conf = s3a_conf(
        magic_committer=False,
        fs_options={
            "fs.s3a.connection.maximum": "200",
            "spark.hadoop.fs.s3a.fast.upload": "true",
        },
    )
    assert conf["spark.hadoop.fs.s3a.connection.maximum"] == "200"
    assert conf["spark.hadoop.fs.s3a.fast.upload"] == "true"
    assert "spark.hadoop.fs.s3a.committer.name" not in conf


def test_gcs_conf_keys():
    conf = gcs_conf(project="proj-1", service_account_json="/keys/sa.json")
    assert conf["spark.hadoop.fs.gs.project.id"] == "proj-1"
    assert (
        conf["spark.hadoop.google.cloud.auth.service.account.json.keyfile"]
        == "/keys/sa.json"
    )
    assert "GoogleHadoopFileSystem" in conf["spark.hadoop.fs.gs.impl"]


def test_storage_conf_lands_on_live_session(spark):
    apply_storage_conf(
        spark, s3a_conf(endpoint="https://example:9000", magic_committer=False)
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "https://example:9000"


def test_uri_helpers():
    assert _is_uri("s3a://bucket/dir") and _is_uri("file:///tmp/x")
    assert not _is_uri("/root/testdata/sf0.001")
    assert _join("s3a://b/dir/", "t.parquet") == "s3a://b/dir/t.parquet"
    assert _join("/tmp/dir", "t.parquet") == "/tmp/dir/t.parquet"


def test_engine_over_scheme_uri_roundtrip(spark, tmp_path):
    """Engine save + register_dir over a file:// URI — the exact Hadoop
    FileSystem path a cloud deploy takes for s3a://."""
    eng = Engine(spark, root=f"file://{tmp_path}")
    eng.register("t1", spark.range(10).toDF("n"))
    out = eng.save("t1")
    assert out.startswith("file://")

    eng2 = Engine(spark)
    eng2.register_dir(f"file://{tmp_path}")
    assert "t1" in eng2
    assert eng2.table("t1").count() == 10
    assert sorted(_hadoop_ls(spark, f"file://{tmp_path}")) == ["t1.parquet"]


def test_open_cost_env_resolved_at_call_time(monkeypatch):
    """r9 ADVICE: SPARK_GRAFT_OPEN_COST must be read when the session
    builder runs (not at module import) and validated as an integer,
    falling back to the measured 512 KB default on garbage."""
    import warnings

    from dropbox_duckdb_playground_spark.session import _open_cost

    monkeypatch.delenv("SPARK_GRAFT_OPEN_COST", raising=False)
    assert _open_cost() == "524288"
    monkeypatch.setenv("SPARK_GRAFT_OPEN_COST", "4194304")
    assert _open_cost() == "4194304"  # set AFTER import -> still honored
    for bad in ("4MB", "", "-1", "1.5e6"):
        monkeypatch.setenv("SPARK_GRAFT_OPEN_COST", bad)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            assert _open_cost() == "524288"
        assert any("SPARK_GRAFT_OPEN_COST" in str(x.message) for x in w)


def test_host_sizing_from_host_and_env(monkeypatch):
    """Session defaults follow the host: every usable core, and physical
    memory minus max(4 GiB, a quarter) as the driver heap (1 GiB floor).
    SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM override both."""
    from dropbox_duckdb_playground_spark.session import host_sizing

    gib = 1 << 30
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert host_sizing(4, 15 * gib) == (4, f"{11 * 1024}m")
    assert host_sizing(64, 256 * gib) == (64, f"{192 * 1024}m")
    assert host_sizing(1, 2 * gib) == (1, "1024m")
    cores, heap = host_sizing()
    assert cores >= 1 and heap.endswith("m") and int(heap[:-1]) >= 1024

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert host_sizing(4, 15 * gib) == (3, "2g")
