"""Guard: no oracle may emit a HUGEINT/UHUGEINT column.

DuckDB types ``sum(CASE WHEN ... THEN 1 ELSE 0 END)`` (and INT128
arithmetic generally) as HUGEINT; ``duckdb.df()`` converts HUGEINT to
float64, so the driver's value hash compares e.g. ``0.0`` against
Spark's long ``0`` and flags a mismatch even though both engines are
correct (round-5 driver red row q54_table_stats). Every such column
must be ``CAST(... AS BIGINT)`` in the oracle SQL. This test DESCRIBEs
all 124 oracles against the sf0.001 views so the class cannot recur.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from dropbox_duckdb_playground_spark.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver-generated testdata absent"
)
def test_no_oracle_emits_hugeint():
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    offenders = []
    failures = []
    oracles = entrymod.oracle_sql()
    assert oracles, "oracle catalog is empty"
    for name, sql in oracles.items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as exc:  # staged-model oracles must still bind
            failures.append((name, str(exc).splitlines()[0]))
            continue
        for col, typ, *_ in desc:
            # "HUGEINT" also matches UHUGEINT and nested list/struct types
            if "HUGEINT" in typ.upper():
                offenders.append((name, col, typ))
    assert not failures, f"oracles failed to DESCRIBE: {failures}"
    assert not offenders, (
        "HUGEINT-typed oracle columns (duckdb.df() renders them float64 "
        f"and the driver hash diverges from Spark's long): {offenders} — "
        "wrap with CAST(... AS BIGINT)"
    )
