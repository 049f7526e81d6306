"""Mirror of the driver's t2 gate: every registered query with an
oracle must match DuckDB exactly at sf0.001 (fast) — run manually at
sf0.01 before shipping via SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01.
Every oracle must also run in DuckDB in under ORACLE_BOUND_S.
"""

from __future__ import annotations

import os
import time

import pytest

from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY
from geoscale_healthflow_etl_django_analytics_spark.testing import (
    compare_query,
    duckdb_connection,
)

PARITY_SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")
ORACLE_BOUND_S = 60.0


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, name):
    ok, msg = compare_query(spark, name, PARITY_SF)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize(
    "name", sorted(n for n, spec in REGISTRY.items() if spec.oracle)
)
def test_oracle_runs_under_bound(name):
    """DuckDB (2 threads) executes each oracle in under ORACLE_BOUND_S.
    DuckDB 1.0 inlines every CTE reference, so a CTE read twice
    without ``AS MATERIALIZED`` is recomputed per read; in the chained
    split oracles that compounds to minutes per query."""
    con = duckdb_connection(PARITY_SF)
    try:
        con.execute("SET threads=2")
        t0 = time.perf_counter()
        con.execute(REGISTRY[name].oracle).fetchall()
        elapsed = time.perf_counter() - t0
    finally:
        con.close()
    assert elapsed < ORACLE_BOUND_S, f"{name}: oracle took {elapsed:.1f} s"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_contract_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())
