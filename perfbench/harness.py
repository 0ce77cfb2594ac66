"""Measurement plumbing shared by the workloads: session set-up and
tear-down, the closed-loop operation timer, the span tracer that reads
Spark's status store, and CPU and peak memory of the process tree from
/proc."""

from __future__ import annotations

import json
import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager


class OperationFailed(Exception):
    """An attempted operation raised; the run is invalid."""


def start_session(app: str, work: str):
    """Build the product's session and finish one trivial job, so the
    returned session has paid its first-job cost. Everything the JVM
    writes goes under ``work``."""
    from dropbox_duckdb_playground_spark.session import get_spark

    spark = get_spark(app, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and its gateway JVM, and wait until the JVM and
    every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    started = _subtree(_proc_table(), proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        live = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not live:
            return
        time.sleep(0.1)
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Tracer:
    """Spans around calls into the program's layers.

    Disabled, a span does nothing. Enabled, each span runs its Spark jobs
    under a job group of its own; at the end of the run
    :meth:`layer_totals` maps every group to its jobs and stages through
    the status tracker and the status store. Spans stay in memory until
    :meth:`flush` writes them out once."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.op_no = 0
        self.phase = "setup"
        self.overhead_s = 0.0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        gid = f"{name}#{len(self.spans)}"
        rec = {"name": name, "group": gid, "op": self.op_no, "phase": self.phase,
               "parent": self._stack[-1] if self._stack else None}
        t0 = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(gid)
        sc.setJobGroup(gid, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1], self._stack[-1].split("#")[0])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a function that runs the original
        inside ``span(name)``. Only in a traced run; undone by
        :meth:`unwrap_all`."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def per_op_median(self, name: str) -> float:
        """Median over measured operations of the time each spent in
        spans called ``name``."""
        per: dict[int, float] = {}
        for s in self.spans:
            if s["name"] == name and s["phase"] == "measure":
                per[s["op"]] = per.get(s["op"], 0.0) + s["end"] - s["start"]
        return statistics.median(per.values()) if per else 0.0

    def flush(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: jobs, completed stages, tasks, shuffle write,
        spill, executor CPU and GC of the jobs launched while a span of
        that name was the innermost one."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        stages: dict[int, dict[str, float]] = {}
        listed = jsc.statusStore().stageList(None, False, False, no_quantiles, None)
        for sd in sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(listed):
            if sd.status().toString() != "COMPLETE":
                continue
            acc = stages.setdefault(sd.stageId(), dict.fromkeys(
                ("tasks", "shuffle_write_bytes", "spill_bytes", "gc_ms", "exec_cpu_ms"), 0.0))
            acc["tasks"] += sd.numTasks()
            acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            acc["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            acc["gc_ms"] += sd.jvmGcTime()
            acc["exec_cpu_ms"] += sd.executorCpuTime() / 1e6
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            tot = out.setdefault(s["name"], {"jobs": 0, "stages": 0})
            for job_id in tracker.getJobIdsForGroup(s["group"]):
                tot["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else []):
                    if stage_id in stages:
                        tot["stages"] += 1
                        for k, v in stages[stage_id].items():
                            tot[k] = tot.get(k, 0.0) + v
        return out


class Loop:
    """Closed-loop, single-client operation timer. Every call to
    :meth:`op` is one attempted operation; its CPU time is added to
    ``cpu_s``, outside its latency. Latencies are kept per phase:
    ``warmup`` (first executions in a fresh session), ``measure`` (the
    samples behind the latency metrics) and ``final`` (end-of-run work).
    An operation that raises marks the run as failed and stops it."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.phases: dict[str, list[float]] = {
            "warmup": [], "measure": [], "final": []}
        self.kinds: dict[str, list[float]] = {}
        self.cpu_s = 0.0
        self.errors: list[str] = []

    def op(self, fn, *args, phase: str = "measure", kind: str = "op", **kwargs):
        self.attempted += 1
        self.tracer.op_no += 1
        self.tracer.phase = phase
        c0 = cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {exc!r}")
            raise OperationFailed(self.errors[-1]) from exc
        dt = time.perf_counter() - t0
        self.phases[phase].append(dt)
        if phase == "measure":
            self.kinds.setdefault(kind, []).append(dt)
        self.cpu_s += cpu_s() - c0
        return out

    def typical(self) -> float:
        """Typical warm latency: the median latency of each kind of
        measured operation, and the geometric mean of those medians
        across kinds, so a mix of cheap and costly operations (the
        catalog's queries) weighs each kind alike. Operations are keyed
        by the ``kind`` passed to :meth:`op`."""
        medians = [statistics.median(v) for v in self.kinds.values()]
        return math.exp(sum(map(math.log, medians)) / len(medians))

    def wall(self) -> float:
        """Time of every operation of the run, outside the harness's
        between-operation housekeeping."""
        return sum(map(sum, self.phases.values()))

    def cold(self) -> float:
        """Time of the first executions in the fresh session: the warm-up
        phase, or the first measured operation when the workload has no
        warm-up because each of its operations is the first of its kind."""
        return sum(self.phases["warmup"]) or self.phases["measure"][0]


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, resident pages, CPU ticks) of every process in
    /proc. CPU is user plus system time, including that of children
    already reaped, such as exited Python workers."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(entry)] = (int(fields[1]), int(fields[21]),
                             sum(int(f) for f in fields[11:15]))
    return table


def _subtree(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_stats(root: int) -> tuple[int, float]:
    """(resident KiB, CPU seconds) of ``root`` and every process under it."""
    table = _proc_table()
    rows = [table[p] for p in _subtree(table, root) if p in table]
    return (sum(r[1] for r in rows) * _PAGE_KB,
            sum(r[2] for r in rows) * _TICK_S)


def cpu_s() -> float:
    """CPU seconds used so far by this process, the driver JVM it
    launched and the JVM's Python workers."""
    return _tree_stats(os.getpid())[1]


class RssSampler:
    """Peak resident memory of the driver JVM and every process under it
    (the Python workers), sampled from /proc every 250 ms."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, _tree_stats(self.root)[0])
            if self._stop.wait(0.25):
                return
