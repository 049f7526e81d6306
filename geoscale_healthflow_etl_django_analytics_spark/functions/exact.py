"""Order-independent exact aggregation helpers.

Summing doubles is order-dependent in the last bits; with hundreds of
thousands of rows the accumulated error (~1e-4 on 1e10 totals) is
LARGER than the 0.01 granularity the analytics round to, so two
engines (or two partitionings of the same engine!) can disagree after
round(sum(x), 2). That is both an oracle-parity and a
reproducibility-at-scale problem: the same job on 32 vs 1000
partitions must report the same revenue.

Fix: cast each row's (double-computed, IEEE-deterministic) value to a
wide decimal, sum decimals EXACTLY (associative, partitioning-
independent), cast the total back to double, then round. DuckDB
oracle mirror: ``round(CAST(sum(CAST(x AS DECIMAL(30,8))) AS DOUBLE), n)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DECIMAL_TYPE = "decimal(30,8)"


def fround(col: Column, decimals: int) -> Column:
    """Half-away-from-zero rounding on the BINARY double value —
    matches C / DuckDB ``round()`` for ALL reals (ADVICE r5 #3: the
    previous non-negative-only floor form was half-UP, which diverges
    from DuckDB at exact negative .5 ties and yields +0.0 where
    DuckDB yields -0.0 for small negatives — latent until a
    log-prob/cosine/latitude query hit such a value).

    Spark's ``F.round`` rounds the *shortest decimal representation*
    of the double (4.4749999…964 prints as "4.475" → rounds to 4.48),
    while DuckDB rounds the binary value (→ 4.47). sign(x)·floor(|x|·
    10ⁿ + 0.5) / 10ⁿ is engine-independent: multiply, add, floor and
    divide are all exact IEEE ops evaluated identically everywhere,
    and the sign factor reproduces DuckDB's half-away ties AND its
    signed zero (sign(-ε)·0 = -0.0), property-pinned across the full
    real line in tests/test_properties.py.
    """
    factor = float(10**decimals)
    return F.signum(col) * F.floor(F.abs(col) * factor + F.lit(0.5)) / factor


def fround_sql(expr: str, decimals: int) -> str:
    """Spark-SQL-string twin of :func:`fround` — the identical
    sign·floor half-away tree composed as text, for hot builders that
    batch whole subtrees into one expr() parse (r12, guide §5; see
    hashing.md5_int32_sql for the drift guard)."""
    factor = float(10**decimals)
    return (
        f"(signum({expr}) * floor(abs({expr}) * {factor!r}D + 0.5D) "
        f"/ {factor!r}D)"
    )


def exact_sum(col: Column, decimals: int = 2) -> Column:
    """Partitioning-independent sum of a double column, rounded."""
    return fround(F.sum(col.cast(DECIMAL_TYPE)).cast("double"), decimals)


def exact_sum_sql(expr: str) -> str:
    """The DuckDB-side mirror of :func:`exact_sum` at 2 dp."""
    return f"round(CAST(sum(CAST({expr} AS DECIMAL(30,8))) AS DOUBLE), 2)"


def exact_wavg(value: Column, weight: Column) -> Column:
    """Weighted mean Σ(v·w)/Σw with exact decimal numerator and
    denominator (A13/A14 shape), rounded to 6 dp."""
    num = F.sum((value * weight).cast(DECIMAL_TYPE)).cast("double")
    den = F.sum(weight.cast(DECIMAL_TYPE)).cast("double")
    return fround(num / den, 6)


def exact_wavg_sql(value: str, weight: str) -> str:
    return (
        f"round(CAST(sum(CAST(({value}) * ({weight}) AS DECIMAL(30,8))) AS DOUBLE)"
        f" / CAST(sum(CAST({weight} AS DECIMAL(30,8))) AS DOUBLE), 6)"
    )
