"""Drift guard for the SQL-string expression twins that remain, and a
value pin for the single-spelling vector math and split bucket.

The round-12 optimization composes the hot builders' repetitive
expression trees as SQL strings (one JVM parse instead of one py4j
round trip per node — OPTIMIZATION_r12.md finding #1).  Where a helper
still keeps a hand-written Column form next to its `_sql` twin, this
suite pins the two spellings VALUE-EQUAL on adversarial inputs so an
edit to one side cannot silently desynchronize the other.  The twins
that remain, and why:

- ``fround``, ``md5_int32``, ``md5_int60`` and ``tokens``: their Column
  forms are also applied to computed Columns and to lambda variables
  (e.g. inside ``transform``), which have no SQL text to hand to the
  string form.

The vector math (``functions/vectors.py``) and the split bucket
(``splitting.split_of_cluster``) have ONE spelling — the Column form
is ``F.expr`` of the SQL text — so there is no second tree to pin
against; instead their values are checked repr-exact against pure
Python over the same rows (a left-to-right fold for the vectors, the
evaluation order the DuckDB oracles replay; an md5 bucket for the
split).  (The full value oracles prove the queries end-to-end; this
is the focused unit pin for the helpers themselves.)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.functions.exact import (
    fround,
    fround_sql,
)
from geoscale_healthflow_etl_django_analytics_spark.functions.hashing import (
    md5_int32,
    md5_int32_sql,
    md5_int60,
    md5_int60_sql,
)
from geoscale_healthflow_etl_django_analytics_spark.functions.text import (
    tokens,
    tokens_sql,
)
from geoscale_healthflow_etl_django_analytics_spark.functions.vectors import (
    cosine,
    dot,
    norm,
    normalized,
)
from geoscale_healthflow_etl_django_analytics_spark.operators.splitting import (
    split_of_cluster,
    split_of_cluster_sql,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "  leading and   trailing   whitespace  ",
    "one",
    "",
    "a b",
    "Mixed CASE text WITH 42 numbers & punct!  tabs\tand runs",
]


@pytest.fixture(scope="module")
def text_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def _pairs(df, col_form, sql_form):
    rows = df.select(
        col_form.alias("a"), F.expr(sql_form).alias("b")
    ).collect()
    return [(r["a"], r["b"]) for r in rows]


def test_tokens_twin(text_df):
    for a, b in _pairs(text_df, tokens(F.col("text")), tokens_sql("text")):
        assert a == b


def test_md5_int_twins(text_df):
    for a, b in _pairs(text_df, md5_int32(F.col("text")), md5_int32_sql("text")):
        assert a == b
    for start in (1, 16):
        for a, b in _pairs(
            text_df,
            md5_int60(F.col("text"), start=start),
            md5_int60_sql("text", start=start),
        ):
            assert a == b


def test_fround_twin(spark):
    vals = [0.0, -0.0, 1.2345649, -1.2345651, 4.475, -4.475, 1e-9, -1e-9]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    for d in (2, 6):
        for a, b in _pairs(df, fround(F.col("x"), d), fround_sql("x", d)):
            assert repr(a) == repr(b), (a, b, d)


def _py_dot(u, v):
    acc = 0.0
    for x, y in zip(u, v):
        acc = acc + x * y
    return acc


def _py_norm(u):
    return math.sqrt(_py_dot(u, u))


def test_vector_math_matches_python_fold(spark):
    rows = [
        ([1.0, 2.0, 3.0, 4.0], [0.5, -0.25, 0.125, 2.0]),
        ([-1.5, 0.0, 2.5, -3.0], [1.0, 1.0, 1.0, 1.0]),
        # order-sensitive sums: a reassociated fold gives other bits
        ([0.1, 0.2, 0.3, 1e-17], [0.7, -0.3, 1e16, 3.0]),
        ([1e-3, -7.25, 1.0 / 3.0, 2.0 / 3.0], [-0.1, 0.1, 3.3, -1e-9]),
    ]
    df = spark.createDataFrame(rows, "u array<double>, v array<double>")
    got = df.select(
        dot("u", "v").alias("dot"),
        norm("u").alias("norm"),
        normalized("u").alias("normalized"),
        cosine("u", "v").alias("cosine"),
    ).collect()
    assert len(got) == len(rows)
    for (u, v), r in zip(rows, got):
        n = _py_norm(u)
        assert repr(r["dot"]) == repr(_py_dot(u, v))
        assert repr(r["norm"]) == repr(n)
        assert [repr(x) for x in r["normalized"]] == [repr(x / n) for x in u]
        want = _py_dot(u, v) / (n * _py_norm(v))
        assert repr(r["cosine"]) == repr(want)


def test_split_of_cluster_values(spark):
    """Repr-exact against a pure-Python md5 bucket over the same ids."""
    import hashlib

    ids = list(range(0, 2000, 7))
    df = spark.createDataFrame([(i,) for i in ids], "cluster_id long")
    got = [
        r["split"]
        for r in df.orderBy("cluster_id")
        .select(split_of_cluster("cluster_id").alias("split"))
        .collect()
    ]

    def py_split(cid: int) -> str:
        b = int(hashlib.md5(f"split-{cid}".encode()).hexdigest()[:8], 16) % 100
        return "train" if b < 80 else "val" if b < 90 else "test"

    assert got == [py_split(c) for c in ids]


def test_split_of_cluster_rejects_quoted_salt():
    with pytest.raises(ValueError):
        split_of_cluster("cluster_id", salt="split'-")

