"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout; nothing needs building. The run makes
the workload's inputs from the seed under ``perfbench/_work/``, sizes the
product's Spark session from the host (see :func:`deployment`), runs the
workload as a closed loop with one client, checks its outputs outside
every timed window, and prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``.
The exit code is 0 only when no operation failed and every check passed;
a failed run reports ``correct: false`` and no timings.

Workloads (``wl_*.py``; each module's docstring says why it exists):
``catalog``, ``pypi-graph`` and ``stream-ingest`` are the three in
BENCHMARK.json; ``curation`` runs the same way by hand. A workload does
a fixed amount of work per ``--seconds``: its warm operations are
``--seconds`` divided by a nominal operation time fixed in its module,
with a floor of a few operations so that a median has samples to take.
The metric names and units are those BENCHMARK.json lists.

End-to-end metrics (``--trace 0``), one value per run:

- ``setup_s``: process start to a ready session with a first trivial job
  done.
- ``op_s``: typical latency of a warm operation: a catalog query (plan
  build, planning, execution, rows collected), a graph build, a stream
  batch (landing to both streams terminated), a funnel pass. It is the
  median of each kind of operation; each catalog query is a kind of its
  own, and their medians are combined by geometric mean.
- ``cold_s``: the first executions in the session: the first pass over
  the catalog queries, the first graph build or stream batch.
- ``wall_s``: all operations of the run, without the harness's
  housekeeping between them.
- ``cpu_s``: user plus system CPU of the driver, its JVM and the Python
  workers during those operations.

``--trace 1`` is a separate run of the same work with spans around the
calls into each layer (``harness.Tracer``); it reports the per-layer
metrics, 0 for layers the workload does not run, and its
own cost: ``trace.op_s`` against the untraced ``op_s``, and the span
bookkeeping time ``trace.overhead_s``. The spans themselves go to
``perfbench/_traces/<workload>-<seed>.json``."""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dropbox_duckdb_playground_spark"

WORKLOADS = {
    "catalog": "wl_catalog",
    "curation": "wl_curation",
    "pypi-graph": "wl_pypi",
    "stream-ingest": "wl_stream",
}



def metric_units(wl) -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    lists them, plus the per-layer metrics of a workload that is not in
    it (its module's ``EXTRA_LAYERS``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    per_layer.update(getattr(wl, "EXTRA_LAYERS", {}))
    return {m["name"]: m["unit"] for m in spec["end_to_end"]}, per_layer


def deployment(work: str) -> dict[str, str]:
    """Session sizing from the host: every core, a driver heap of a
    quarter of physical memory capped at 4 GiB, Spark local and temp dirs
    inside the checkout, and the checkout on PYTHONPATH so Python workers
    can import the package."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, mem_kb // 4 // 1024))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": pythonpath,
    }


def emit(correct: bool, loop, metrics: dict[str, float], units: dict[str, str]) -> None:
    """The result line. A run that failed an operation or a check reports
    ``correct: false`` and no timings."""
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, loop.attempted),
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = deployment(work)
    os.environ.update(env)
    print(json.dumps({"deployment": env}), flush=True)
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from harness import start_session, stop_session

    wl = importlib.import_module(WORKLOADS[args.workload])
    spark = start_session(f"perfbench-{args.workload}", work)
    setup_s = time.perf_counter() - T0
    try:
        return measure(args, work, wl, spark, setup_s)
    finally:
        stop_session(spark)
        print(f"perfbench: {args.workload} took {time.perf_counter() - T0:.1f} s",
              file=sys.stderr)


def measure(args, work: str, wl, spark, setup_s: float) -> int:
    from contextlib import nullcontext

    import numpy as np
    from pyspark import SparkContext

    from harness import Loop, OperationFailed, RssSampler, Tracer

    tracer = Tracer(spark, bool(args.trace))
    loop = Loop(tracer)
    ctx = SimpleNamespace(
        spark=spark, seed=args.seed, seconds=args.seconds, work=work,
        rng=np.random.default_rng(args.seed), loop=loop, tracer=tracer,
    )
    wl.prepare(ctx)
    if hasattr(wl, "trace_hooks"):
        wl.trace_hooks(ctx)
    # peak memory is a per-layer metric: sample /proc in traced runs only
    sampler = RssSampler(SparkContext._gateway.proc.pid) if args.trace else None
    errors: list[str] = []
    t_run = time.perf_counter()
    try:
        with sampler or nullcontext():
            wl.run(ctx)
    except OperationFailed as exc:
        traceback.print_exc()
        errors.append(str(exc))
    finally:
        tracer.unwrap_all()
    t_check = time.perf_counter()
    e2e, per_layer = metric_units(wl)
    units = per_layer if args.trace else e2e
    metrics = dict.fromkeys(units, 0.0)
    if not errors:
        try:
            errors = wl.check(ctx)
            if args.trace and not errors:
                metrics.update(wl.layers(ctx, tracer.layer_totals()))
        except Exception as exc:  # a check that cannot run is a failed check
            traceback.print_exc()
            errors.append(f"check raised {exc!r}")
    print(f"perfbench: setup {setup_s:.1f} s, run {t_check - t_run:.1f} s "
          f"(operations {loop.wall():.1f} s), check {time.perf_counter() - t_check:.1f} s; "
          f"operation seconds "
          f"{ {k: [round(v, 3) for v in vs] for k, vs in loop.phases.items()} }",
          file=sys.stderr)
    for e in errors:
        print(f"perfbench: {args.workload}: {e}", file=sys.stderr)
    ok = not errors
    if ok and args.trace:
        metrics.update({
            "session.start_s": setup_s,
            "driver.peak_rss_mb": sampler.peak_kb / 1024,
            "trace.op_s": loop.typical(),
            "trace.overhead_s": tracer.overhead_s,
        })
        tracer.flush(os.path.join(HERE, "_traces", f"{args.workload}-{args.seed}.json"))
    elif ok:
        metrics.update({
            "setup_s": setup_s,
            "op_s": loop.typical(),
            "cold_s": loop.cold(),
            "wall_s": loop.wall(),
            "cpu_s": loop.cpu_s,
        })
    emit(ok, loop, metrics, units)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
