"""Bigram LM scoring (operators/retrieval.py::bigram_lm_scores):
predictable-text docs score lower NLL than novel-text docs; short
docs drop; smoothing keeps unseen-context math finite."""

from __future__ import annotations

import math

from geoscale_healthflow_etl_django_analytics_spark.operators import retrieval as tx


def test_bigram_lm_prefers_repetitive_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b a b"),  # one dominant bigram pattern
            (2, "c d e f g h i j k l"),  # every bigram unique
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.bigram_lm_scores(docs).collect()}
    assert out[1]["mean_nll"] < out[2]["mean_nll"]
    assert out[1]["perplexity"] < out[2]["perplexity"]
    # perplexity is exp(mean_nll) of the rounded mean
    for r in out.values():
        assert abs(r["perplexity"] - round(math.exp(r["mean_nll"]), 4)) < 1e-9


def test_bigram_lm_drops_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two tokens")],
        "doc_id long, text string",
    )
    out = tx.bigram_lm_scores(docs).collect()
    assert [r["doc_id"] for r in out] == [3]
    assert out[0]["n_bigrams"] == 1


def test_bigram_lm_probabilities_normalized(spark):
    """With add-k smoothing, sum over observed continuations of an
    observed context is < 1 (mass reserved for unseen) and every
    per-bigram probability is in (0, 1)."""
    docs = spark.createDataFrame(
        [(1, "x y x z x y")], "doc_id long, text string"
    )
    row = tx.bigram_lm_scores(docs).collect()[0]
    # 5 bigrams, all probabilities < 1 -> mean_nll strictly positive
    assert row["n_bigrams"] == 5
    assert row["mean_nll"] > 0


# -------------------------------------- pretrained char-4-gram apply


def test_chargram_table_is_deterministic_and_complete(spark):
    """The pretrained table holds ALL 27^3 grams for n=3 (the cheap
    tier — same generator as the registered 27^4), counts in
    [1000, 9999], regenerable to the identical artifact."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import (
        lm_pretrained as lm,
    )

    t = lm.chargram_table(spark, n=3)
    assert t.count() == 27**3
    mm = t.agg({"cnt": "min"}).collect()[0][0], t.agg({"cnt": "max"}).collect()[0][0]
    assert 1000 <= mm[0] and mm[1] <= 9999
    import hashlib

    row = t.filter(t.gram == "ab_").collect()[0]
    assert row["cnt"] == int(hashlib.md5(b"ab_").hexdigest()[:8], 16) % 9000 + 1000


def test_chargram_model_context_totals(spark):
    """ctx(prefix) is the exact integer sum of its 27 continuations —
    derived FROM the gram table, so P(.|prefix) sums to 1."""
    from pyspark.sql import functions as F

    from geoscale_healthflow_etl_django_analytics_spark.operators import (
        lm_pretrained as lm,
    )

    m = lm.chargram_model(spark, n=3)
    chk = (
        m.groupBy(F.substring("gram", 1, 2).alias("p"))
        .agg(
            F.sum("cnt").alias("s"),
            F.min("ctx").alias("lo"),
            F.max("ctx").alias("hi"),
            F.count("*").alias("n"),
        )
        .filter((F.col("s") != F.col("lo")) | (F.col("lo") != F.col("hi"))
                | (F.col("n") != 27))
        .count()
    )
    assert chk == 0


def test_chargram_closed_vocabulary_scores_every_token(spark):
    """No backoff needed: a w-char token yields exactly w+1 grams and
    ALL of them join the table (n_chargrams = sum(len+1))."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import (
        lm_pretrained as lm,
    )

    docs = spark.createDataFrame(
        [(1, "Hello, w0rld!"), (2, "a")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in lm.chargram_lm_scores(docs).collect()}
    # "hello," -> 6 chars -> 7 grams; "w0rld!" -> 6 chars -> 7 grams
    assert out[1]["n_chargrams"] == 14
    assert out[2]["n_chargrams"] == 2
    assert out[1]["mean_nll"] > 0 and out[1]["perplexity"] > 1
