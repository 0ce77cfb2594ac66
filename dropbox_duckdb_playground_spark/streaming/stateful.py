"""Stateful streaming operators on Spark's native state store.

The reference is batch-only; its incrementality is snapshot+diff
(SURVEY §2.12). These are the stateful-stream versions of the two
recurring shapes in its workload — keep-first dedup (crawl.py's
keep-first merge C3) and running per-key tallies — so the pattern
generalizes to any training-data-pipeline stream (e.g. first-seen URL
dedup at ingest).

Both run inside the engine: first-seen dedup is Spark's streaming
deduplication (``StreamingDeduplicate``) and running totals a streaming
aggregate, so no row leaves the JVM for a Python worker. State lives in
the executor state store partitioned by key (RocksDB-backed on a real
cluster if the deploy selects that provider); each micro-batch touches
only the keys present in that batch. Event-time expiry is exposed via
``ttl`` so unbounded key spaces don't accumulate state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def first_seen_dedup(
    events: DataFrame,
    key: str,
    out_schema: str,
    event_time: str | None = None,
    ttl: str | None = None,
) -> DataFrame:
    """Emit only the FIRST row ever seen per key; drop every later
    duplicate. Streaming twin of ``keep_first_merge`` (C3).

    ``out_schema`` (a DDL string) names the columns to keep and the type
    each is cast to; the output has the key first, then the other
    columns in ``out_schema`` order. With ``ttl`` (an interval such as
    ``"1 hour"``) a key's seen-marker expires once the watermark on the
    ``event_time`` column passes the first row's event time plus ``ttl``
    — bounded state for unbounded keys; the key is emitted again if it
    reappears after that. Rows older than the watermark are dropped as
    late. Raises ``ValueError`` for ``ttl`` without ``event_time``, and
    for an ``out_schema`` that omits ``key`` or names a column
    ``events`` lacks."""
    from pyspark.sql.types import _parse_datatype_string

    if ttl is not None and event_time is None:
        raise ValueError("first_seen_dedup: ttl needs an event_time column")
    # proper schema parse — naive comma-splitting breaks on types that
    # contain commas themselves (decimal(10,2), struct<...>)
    fields = {f.name: f.dataType for f in _parse_datatype_string(out_schema).fields}
    if key not in fields:
        raise ValueError(f"first_seen_dedup: out_schema must name the key {key!r}")
    missing = [c for c in fields if c not in events.columns]
    if missing:
        raise ValueError(
            f"first_seen_dedup: out_schema names columns the input lacks: {missing}"
        )
    names = [key] + [c for c in fields if c != key]

    # narrow before the dedup so only the kept columns are shuffled to it
    if ttl is None:
        firsts = events.select(*names).dropDuplicates([key])
    else:
        kept = names if event_time in names else [*names, event_time]
        firsts = (
            events.select(*kept)
            .withWatermark(event_time, ttl)
            .dropDuplicatesWithinWatermark([key])
        )
    return firsts.select(*(F.col(c).cast(fields[c]).alias(c) for c in names))


def running_totals(
    events: DataFrame,
    key: str,
    value_col: str = "value",
) -> DataFrame:
    """Cumulative (count, sum) per key across the whole stream — the
    stateful version of a groupBy that a snapshot+diff batch pipeline
    rebuilds from scratch each run. A streaming aggregate: write it with
    ``outputMode("update")`` to get each changed key's new totals per
    micro-batch. ``total`` is 0.0 for a key whose values are all null."""
    return events.groupBy(key).agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(value_col), F.lit(0.0)).alias("total"),
    )
