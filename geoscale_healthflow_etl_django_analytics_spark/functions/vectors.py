"""Vector math over array<float|double> embedding columns.

All pure expressions (`zip_with`/`aggregate` run inside codegen) — no
UDF, no driver collect; suitable for billion-row embedding tables.
Cast to double FIRST so both Spark and the DuckDB oracle do identical
double-precision arithmetic in identical (sequential) order.

One spelling: each ``*_sql`` function composes its tree as SQL text
over column names (or any SQL expression, e.g. an ``array(...)``
literal), and the Column form is ``F.expr`` of that text — one JVM
parse per subtree instead of one py4j round trip per node (r12,
guide §5), and no second hand-kept tree that could drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_sql(expr: str) -> str:
    return f"CAST({expr} AS ARRAY<DOUBLE>)"


def dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({as_double_sql(a)}, {as_double_sql(b)}, "
        f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({as_double_sql(a)}, 0.0D, "
        f"(acc, x) -> acc + x * x))"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"{dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)})"


def normalized_sql(vec: str) -> str:
    """Unit-normalize once per ROW so pairwise cosine degrades to a
    single dot fold — the pre-shuffle step that makes bucketed
    similarity self-joins 3× cheaper per pair (norms computed n times,
    not n² times; the join exchange materializes the normalized
    arrays). The norm is BOUND via the 1-element-array trick:
    referencing norm(vec) directly inside the transform lambda would
    get re-inlined per element by projection collapse (O(d²)/row)."""
    return (
        f"element_at(transform(array({norm_sql(vec)}), "
        f"n -> transform({as_double_sql(vec)}, x -> x / n)), 1)"
    )


def as_double(vec: str) -> Column:
    return F.expr(as_double_sql(vec))


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(norm_sql(a))


def cosine(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def normalized(vec: str) -> Column:
    return F.expr(normalized_sql(vec))


def sign_bucket(vec: Column, n_dims: int = 8) -> Column:
    """Cheap deterministic LSH-ish bucket: bit-pack the signs of the
    first ``n_dims`` components. Turns O(n^2) similarity self-joins
    into per-bucket joins (the scale path for near-dup detection).
    """
    d = vec.cast("array<double>")
    bucket = F.lit(0)
    for i in range(n_dims):
        bucket = bucket + F.when(F.element_at(d, i + 1) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return bucket.cast("int")
