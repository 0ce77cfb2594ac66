"""SparkSession factory.

One session replaces the reference's DuckDB connection + paradag thread
pool + fsspec storage (reference: batch_framework/rdb.py:83-95,
batch_framework/etl.py:248-265). Temp views are the namespace, Catalyst
is the optimizer, Parquet directories are persistence.

Scale notes (100 TB design): the settings below are profile-driven.
`local` profiles pin shuffle partitions ≈ cores; a cluster deploy leaves
`spark.sql.shuffle.partitions` to AQE coalescing and instead sets an
initial partition number sized by input bytes / 128MB. AQE is always on:
it re-plans skewed joins and converts sort-merge→broadcast at runtime,
which is exactly the decision DuckDB's optimizer made per-query in the
reference.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-planning (skew-join split, smj->broadcast, partition
    # coalescing). At 100 TB this is the main defence against skewed keys.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamps vs the DuckDB oracle (duckdb is UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: match DuckDB's permissive casts in the reference SQL.
    "spark.sql.ansi.enabled": "false",
    # 128 MB split targets — the right granularity for large parquet scans.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Split small files like a cluster would split big ones. Spark's
    # maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    # bytes/parallelism)), so openCost is the FLOOR that keeps a small
    # compute-heavy scan (tokenize costs ~100x the byte decode on the
    # text tables) glued to 1-2 tasks: at the 4 MB default a 5.8 MB
    # corpus file gets 2 splits no matter how many cores are idle.
    # 512 KB lets it split to its row groups while the formula's
    # bytes/parallelism term still self-scales big tables to ~cores
    # splits. Measured (r9, interleaved single-session A/B): q89 at sf1
    # 1.17s -> 0.71s; whole-catalog sf0.1 total a wash (80.6 vs 80.8s)
    # with no row slower by >0.3s. Object-store deployments where a
    # file OPEN costs real latency can restore the 4 MB default via
    # SPARK_GRAFT_OPEN_COST — resolved at get_spark() call time (not
    # module import) by _open_cost() below.
    "spark.sql.files.openCostInBytes": "524288",
    # Broadcast threshold: dimension tables (region/nation/mappers) are
    # small even at sf=100TB fact scale; 64 MB keeps them map-side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


def _open_cost() -> str:
    """Resolve ``SPARK_GRAFT_OPEN_COST`` at call time (so setting the env
    var after import still takes effect) and validate it parses as a
    non-negative integer byte count; malformed values fall back to the
    measured 512 KB default with a warning rather than crashing session
    construction or silently shipping garbage to Spark."""
    raw = os.environ.get("SPARK_GRAFT_OPEN_COST")
    if raw is None:
        return _DEFAULTS["spark.sql.files.openCostInBytes"]
    try:
        val = int(raw)
        if val < 0:
            raise ValueError
    except ValueError:
        import warnings

        warnings.warn(
            f"SPARK_GRAFT_OPEN_COST={raw!r} is not a non-negative integer; "
            "using default 524288",
            stacklevel=3,
        )
        return _DEFAULTS["spark.sql.files.openCostInBytes"]
    return str(val)


def s3a_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
    magic_committer: bool = True,
    fs_options: dict[str, str] | None = None,
) -> dict[str, str]:
    """Spark conf for reading/writing ``s3a://`` paths — the cloud profile
    the reference served with its Dropbox backend
    (batch_framework/filesystem.py:167-274, chunked parallel remote IO;
    here the S3A connector's multipart upload + prefetch replace it).

    - ``magic_committer=True`` enables the S3A *magic committer*: task
      commits become zero-rename multipart-upload completions, the only
      correct+fast commit path on S3's non-atomic-rename store.
    - ``fs_options`` passes any ``fs.s3a.*`` key through verbatim
      (e.g. ``{"fs.s3a.connection.maximum": "200"}``).

    Keys are returned ``spark.hadoop.``-prefixed so they can be fed to
    :func:`get_spark(storage_conf=...)` at build time, or applied to a
    live session with :func:`apply_storage_conf`. Credentials default to
    the provider chain (env/instance profile) when not given."""
    conf: dict[str, str] = {}
    if access_key is not None:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key is not None:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    if endpoint is not None:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if magic_committer:
        conf.update(
            {
                "spark.hadoop.fs.s3a.committer.name": "magic",
                "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
                "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a": (
                    "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"
                ),
                "spark.sql.parquet.output.committer.class": (
                    "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
                ),
                "spark.sql.sources.commitProtocolClass": (
                    "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
                ),
            }
        )
    for k, v in (fs_options or {}).items():
        key = k if k.startswith("spark.hadoop.") else f"spark.hadoop.{k}"
        conf[key] = v
    return conf


def gcs_conf(
    project: str | None = None,
    service_account_json: str | None = None,
    fs_options: dict[str, str] | None = None,
) -> dict[str, str]:
    """Spark conf for ``gs://`` paths via the GCS Hadoop connector.
    GCS renames are server-side copies (no S3-style listing
    inconsistency), so the default FileOutputCommitter v2 is safe; the
    keys here wire the filesystem impl + credentials."""
    conf = {
        "spark.hadoop.fs.gs.impl": (
            "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
        ),
        "spark.hadoop.fs.AbstractFileSystem.gs.impl": (
            "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS"
        ),
    }
    if project is not None:
        conf["spark.hadoop.fs.gs.project.id"] = project
    if service_account_json is not None:
        conf["spark.hadoop.google.cloud.auth.service.account.enable"] = "true"
        conf["spark.hadoop.google.cloud.auth.service.account.json.keyfile"] = (
            service_account_json
        )
    for k, v in (fs_options or {}).items():
        key = k if k.startswith("spark.hadoop.") else f"spark.hadoop.{k}"
        conf[key] = v
    return conf


def apply_storage_conf(spark: SparkSession, conf: dict[str, str]) -> None:
    """Apply ``spark.hadoop.*`` storage keys to a LIVE session's Hadoop
    configuration (SQL keys go through spark.conf). Build-time
    ``get_spark(storage_conf=...)`` is preferred — committer classes read
    some keys at job-setup only — but credentials/endpoint/tuning keys
    are honored at next filesystem access."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        if k.startswith("spark.hadoop."):
            hconf.set(k[len("spark.hadoop.") :], v)
        else:
            spark.conf.set(k, v)


_GIB = 1 << 30


def host_sizing(
    cores: int | None = None, mem_bytes: int | None = None
) -> tuple[int, str]:
    """``(cores, driver heap)`` for a local session.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` win when set. Otherwise
    the cores are those this process may run on, and the heap is physical
    memory minus headroom for the OS, Python workers and off-heap buffers:
    a quarter of it, at least 4 GiB, with a 1 GiB floor. ``cores`` and
    ``mem_bytes`` stand in for the host's figures."""
    if cores is None:
        cores = (
            len(os.sched_getaffinity(0))
            if hasattr(os, "sched_getaffinity")
            else os.cpu_count() or 1
        )
    if mem_bytes is None:
        mem_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = max(_GIB, mem_bytes - max(4 * _GIB, mem_bytes // 4)) >> 20
    return (
        int(os.environ.get("SPARK_GRAFT_CPUS", cores)),
        os.environ.get("SPARK_DRIVER_MEM", f"{heap_mb}m"),
    )


def get_spark(
    app_name: str = "dropbox_duckdb_playground_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    storage_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, and the driver
    heap of a local master to ``$SPARK_DRIVER_MEM``; both default to the
    host's figures (:func:`host_sizing`), so tests and bench share one
    code path; on a real cluster pass
    ``master=None`` with ``spark.master`` preset in spark-submit.

    ``storage_conf`` is an object-store profile from :func:`s3a_conf` /
    :func:`gcs_conf` (or any ``spark.hadoop.*`` dict); pass it at build
    time so commit-protocol classes are in force for every write.
    """
    cpus, driver_mem = host_sizing()
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.files.openCostInBytes"] = _open_cost()
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # local mode: driver is the only JVM — give it the memory.
    if master.startswith("local"):
        conf.setdefault("spark.driver.memory", driver_mem)
    if storage_conf:
        conf.update(storage_conf)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if storage_conf:
        # getOrCreate may have returned a pre-existing session whose
        # builder confs were ignored — make the storage profile land
        # either way.
        apply_storage_conf(spark, storage_conf)
    return spark


def clear_persisted(spark: SparkSession) -> int:
    """Unpersist every cached/localCheckpointed RDD in the context.

    Operators materialize intermediates with localCheckpoint (self-join
    inputs, iteration state); across a long session those blocks
    accumulate and pressure the block manager / GC. Harness code (bench,
    batch runners) calls this between independent queries. Returns the
    number of RDDs released."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jmap.values())
    for jrdd in rdds:
        jrdd.unpersist(False)
    return len(rdds)


def quiesce(spark: SparkSession) -> None:
    """Release everything a finished query can still pin, between
    independent queries in a long-lived session.

    ``clear_persisted`` + JVM ``System.gc()`` alone is NOT enough: plan
    objects on the Python side form reference cycles, and until CPython's
    cyclic collector runs, their py4j bindings hold the JVM-side plans
    (and hence every shuffle/broadcast those plans reference) alive —
    ContextCleaner only removes shuffle files whose dependencies have
    been garbage-collected.  Measured on the bench suite: without the
    Python ``gc.collect()`` the accumulated shuffle state degraded the
    final query ~4-10× (22.5s vs 6.0s); with it, steady-state timing.
    """
    import gc

    from dropbox_duckdb_playground_spark.materialize import clear_staging

    clear_persisted(spark)
    spark.catalog.clearCache()
    # Python cycle collection FIRST: the finished query's frames often
    # sit in plan-object reference cycles, and clear_staging() keeps any
    # staging dir whose frame is still reachable (weakref guard). With
    # gc.collect() before it, dead frames are truly dead and their dirs
    # release this quiesce instead of next; frames the caller still
    # holds keep their files either way (see materialize.clear_staging).
    gc.collect()
    clear_staging(spark)
    spark.sparkContext._jvm.System.gc()
