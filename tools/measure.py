"""The one catalog timing loop, shared by bench.py, tools/timeq.py,
tools/scaling.py and tools/sf1_bench.py.

Per query: one untimed warm run on sf0.001 (JIT/codegen for the
query's own shapes), then ``reps`` timed runs at the target scale
factor with ``quiesce()`` between them, outside the timed window. The
cell is the median of the reps. Every run goes to the noop sink, which
consumes every output column, so the timed plan is the full plan a
real consumer would run (``count()`` lets Catalyst prune unused
columns and aggregates).

A warm or timed run that raises marks the query failed: its error is
kept on the result and printed to stderr, and no cell is reported.

One local JVM degrades over hundreds of executions (GC, broadcast and
shuffle-tracker state that ``quiesce()`` cannot fully release), and a
heavy query inflates the ones after it, so each ``measure()`` call
starts a fresh session and restarts it every ``RESTART_EVERY`` queries
and after any query slower than ``HEAVY_S``.

Reps default to ``$SPARK_GRAFT_BENCH_REPS`` (3). ``SPARK_GRAFT_NO_WARM=1``
skips the warm run for a fully cold measurement.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

WARM_DIR = "/root/testdata/sf0.001"
RESTART_EVERY = 40
HEAVY_S = 15.0


@dataclass
class Timing:
    reps: list[float] = field(default_factory=list)
    error: str | None = None

    @property
    def median(self) -> float | None:
        if self.error is not None or not self.reps:
            return None
        return round(statistics.median(self.reps), 3)


def default_reps() -> int:
    return int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def run_full(df) -> None:
    """Execute the complete plan, consuming all output columns."""
    df.write.format("noop").mode("overwrite").save()


def time_query(
    spark,
    fn: Callable,
    sf_dir: str,
    reps: int,
    after_rep: Callable[[], None] | None = None,
) -> Timing:
    """Warm ``fn`` on sf0.001, then time ``reps`` runs at ``sf_dir``.
    ``after_rep`` runs after each timed rep, outside the timed window."""
    from dropbox_duckdb_playground_spark.session import quiesce

    out = Timing()
    try:
        if os.path.isdir(WARM_DIR) and os.environ.get("SPARK_GRAFT_NO_WARM") != "1":
            run_full(fn(spark, WARM_DIR))
            quiesce(spark)
        for _ in range(reps):
            t0 = time.perf_counter()
            run_full(fn(spark, sf_dir))
            out.reps.append(round(time.perf_counter() - t0, 3))
            quiesce(spark)
            if after_rep is not None:
                after_rep()
    except Exception as exc:  # noqa: BLE001 - recorded on the result, not dropped
        traceback.print_exc(file=sys.stderr)
        out.error = f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:200]}"
        quiesce(spark)
    return out


def measure(
    sf_dir: str,
    names: Iterable[str],
    reps: int | None = None,
    after_rep: Callable[[str], None] | None = None,
) -> dict[str, Timing]:
    """Time each catalog query in ``names`` at ``sf_dir`` (see the
    module docstring for the protocol). ``after_rep(name)`` runs after
    each timed rep, outside the timed window."""
    from dropbox_duckdb_playground_spark import catalog
    from dropbox_duckdb_playground_spark.session import get_spark

    reps = default_reps() if reps is None else reps
    qs = catalog.queries()
    spark = None
    results: dict[str, Timing] = {}
    since_restart = 0
    for name in names:
        if spark is None or since_restart >= RESTART_EVERY:
            if spark is not None:
                spark.stop()
            spark = get_spark("measure")
            spark.sparkContext.setLogLevel("ERROR")
            since_restart = 0
        hook = (lambda: after_rep(name)) if after_rep is not None else None
        t = results[name] = time_query(spark, qs[name], sf_dir, reps, hook)
        since_restart += 1
        if t.error is not None:
            sys.stderr.write(f"measure: {name} failed: {t.error}\n")
        elif max(t.reps, default=0.0) > HEAVY_S:
            since_restart = RESTART_EVERY
    if spark is not None:
        spark.stop()
    return results
