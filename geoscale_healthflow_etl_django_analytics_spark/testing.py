"""Local mirror of the driver's DuckDB-oracle correctness gate.

``compare_query`` runs a registered query's Spark builder AND its
DuckDB oracle SQL on the same parquet tables, then compares
row-count, column names, dtypes (loosely) and exact values after
order-insensitive normalization. Used by tests/test_oracle_parity.py
so a parity break is caught locally before the driver's verify.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from .registry import REGISTRY
from .sources.catalog import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    # unify nullable/arrow dtypes to plain python objects for compare
    return df


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    # both-missing of any flavor (None/NaN/NaT) is equal — mirrors the
    # driver's repr-hash, where repr(NaT) == repr(NaT)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass  # array-likes: fall through to element compare
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf
    return a == b


def compare_query(
    spark: SparkSession, name: str, sf_dir: str
) -> tuple[bool, str]:
    """Returns (ok, message). Exact comparison — no tolerance — since
    the driver hashes values."""
    spec = REGISTRY[name]
    if spec.oracle is None:
        sdf = spec.builder(spark, sf_dir)
        n = sdf.count()
        return True, f"rows-only check: {n} rows"

    spark_pd = spec.builder(spark, sf_dir).toPandas()
    con = duckdb_connection(sf_dir)
    try:
        duck_pd = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()

    s, d = _normalize(spark_pd), _normalize(duck_pd)
    if list(s.columns) != list(d.columns):
        return False, f"column mismatch: spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return False, f"row-count mismatch: spark={len(s)} duck={len(d)}"
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if not _values_equal(a, b):
                return (
                    False,
                    f"value mismatch in '{col}' row {i}: spark={a!r} duck={b!r}",
                )
    return True, f"ok: {len(s)} rows x {len(s.columns)} cols"
