"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is the smoke check. ``queries()`` returns every
catalog query in registration order, and each one is compared against
the matching ``oracle_sql()[name]`` via DuckDB (row count + schema +
order-insensitive value hash; ``tools/check.py`` and the Tier-1
``tests/test_driver_contract.py`` run that comparison for all of them).

All query definitions live in ``dropbox_duckdb_playground_spark.catalog``;
this module is the thin adapter over it.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from dropbox_duckdb_playground_spark import catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shape pricing summary) on sf0.001."""
    return catalog.q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return catalog.queries()


def oracle_sql() -> dict[str, str]:
    return catalog.oracle_sql()
