"""Trained quality classifier (operators/classifier.py): learning
dynamics on a separable corpus, exactness of the driver-side rounding
mirror, and the degenerate-label behavior the corpus query exhibits
(the synthetic corpus' lang label is independent of the features, so
the honest outcome there is the majority predictor — asserted here so
a future corpus change that makes it learnable shows up as a test
diff, not silence)."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.operators import classifier as cls


def _separable_corpus(spark):
    """Positive docs: long, stopword-rich, clean. Negative docs:
    short, stopword-free, symbol-heavy. x1/x2/x3 all separate."""
    pos = [
        (i, "the data is on the table and it is a fast row of the "
            "merge key for the scan plan with the sort")
        for i in range(1, 21)
    ]
    neg = [(100 + i, "zzz@@ ##qq!!") for i in range(1, 21)]
    return spark.createDataFrame(pos + neg, "doc_id long, text string")


def test_classifier_learns_separable_labels(spark):
    docs = _separable_corpus(spark)
    row = cls.classifier_summary(
        docs, F.col("doc_id") < 100, iters=8
    ).collect()[0]
    assert row["train_accuracy"] == 1.0
    assert row["n_selected"] == row["n_positive"] == 20
    assert row["mean_score_pos"] > row["mean_score_neg"]
    # the separating features carry positive weight
    assert row["w1"] > 0 and row["w2"] > 0


def test_classifier_weight_trajectory_is_deterministic(spark):
    """Same input, different partitioning -> identical weights (the
    DECIMAL-sum + round6 contract)."""
    docs = _separable_corpus(spark)
    feats1 = cls.quality_features(docs.repartition(1), F.col("doc_id") < 100)
    feats8 = cls.quality_features(docs.repartition(8), F.col("doc_id") < 100)
    w1 = cls.train_hardsig_logreg(feats1, iters=4)
    w8 = cls.train_hardsig_logreg(feats8, iters=4)
    assert w1 == w8


def test_fround_py_matches_engine_fround(spark):
    """The driver-side update must round exactly like the engines."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.exact import fround

    vals = [0.1234565, -0.1234565, 1.9999995, -2.0000005, 0.0, 4.4749999964]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        fround(F.col("x"), 6).alias("r")
    )
    engine = [r["r"] for r in df.collect()]
    driver = [cls._fround_py(v) for v in vals]
    assert engine == driver


def test_classifier_noise_label_converges_to_majority(spark):
    """Labels independent of features -> the model should NOT invent
    structure: it converges toward the majority predictor (every doc
    scored near the label mean, one side of 0.5)."""
    docs = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog again and again")
            for i in range(1, 41)
        ],
        "doc_id long, text string",
    )
    # 40 identical docs, 30% positive by id — nothing to learn
    row = cls.classifier_summary(
        docs, F.col("doc_id") % 10 < 3, iters=5
    ).collect()[0]
    assert row["n_positive"] == 12
    # identical features -> identical scores -> all-or-nothing selection
    assert row["n_selected"] in (0, row["n_docs"])
    assert row["train_accuracy"] in (
        row["n_positive"] / row["n_docs"],
        1.0 - row["n_positive"] / row["n_docs"],
    )
