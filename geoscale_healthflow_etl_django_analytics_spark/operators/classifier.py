"""In-Spark trained quality classifier — the fastText/GPT-3-style
curation gate (train a tiny linear model on weak labels, score every
document, keep the high-scoring fraction) expressed so the ENTIRE
training loop is cross-engine exact and oracle-replayable.

Model: logistic regression with the HARD sigmoid
``hsig(z) = clamp(0.25*z + 0.5, 0, 1)`` (piecewise-linear; public —
e.g. the quantized-network literature and Theano/Keras
``hard_sigmoid``).  The choice is deliberate: ``exp`` differs across
engines in the last ulp, while the hard sigmoid is +,*,clamp — every
step exact IEEE arithmetic both engines evaluate identically, which
makes full-batch gradient descent REPLAYABLE: the registry oracle
re-runs every iteration as chained CTEs and value-hashes the learned
weights (the Lloyd-codebook precedent, applied to a classifier).

Training: full-batch GD on MSE, ``w <- round6(w - lr * mean(2 *
(hsig(z) - y) * hsig'(z) * x))``.  Per-row gradient terms quantize to
DECIMAL(30,8) before the sum (the exact_sum discipline) so the
gradient — hence the whole weight trajectory — is independent of
partitioning and aggregation order.  Weights round to 6 decimals each
step (same half-away rule as functions/exact.fround) so both engines
carry bit-identical weights into the next iteration.

Scale: each iteration is ONE map-side-combinable aggregation over the
feature table (4 decimal sums + a count — constant-width state); the
driver holds only the 4 weights (bounded by construction, the Lloyd /
CMS collect precedent).  At 100 TB: k iterations = k linear passes;
the feature table is computed once (one scan, pure Column
expressions) and checkpointed.

Reference scope note: the reference has no trained model anywhere —
this is part of the LLM-data-pipeline brief (quality scoring), not
reference parity.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.exact import DECIMAL_TYPE, fround

ITERS = 3
LR = 4.0
N_WEIGHTS = 4  # bias + 3 features


def _fround_py(x: float) -> float:
    """Driver-side mirror of functions/exact.fround at 6 dp (sign *
    floor(|x| * 10^6 + 0.5) / 10^6) — the weight update happens on the
    driver, so it must round EXACTLY like the engines do."""
    f = 10.0**6
    return math.copysign(math.floor(abs(x) * f + 0.5) / f, x)


def quality_features(docs: DataFrame, positive: Column) -> DataFrame:
    """(doc_id, y, x1, x2, x3): weak label + the three quality-score
    ingredients, each rounded to 6 decimals so downstream arithmetic
    starts from identical doubles in every engine.

    x1 = capped length term  min(token_count/20, 1)
    x2 = capped stopword term min(round6(stopword_ratio) * 4, 1)
    x3 = alpha cleanliness    1 - round6(non_alpha_ratio)
    """
    t = F.col("text")
    tc = T.token_count(t)
    x1 = fround(F.least(tc / F.lit(20.0), F.lit(1.0)), 6)
    x2 = F.least(T.stopword_ratio(t, 6) * F.lit(4.0), F.lit(1.0))
    x3 = F.lit(1.0) - T.non_alpha_ratio(t, 6)
    return docs.select(
        "doc_id",
        F.when(positive, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        x1.alias("x1"),
        x2.alias("x2"),
        x3.alias("x3"),
    )


def _raw(w: list[float]) -> Column:
    """0.25*z + 0.5 with the weight literals, in the FIXED
    left-associated order both engines share."""
    z = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    return F.lit(0.25) * z + F.lit(0.5)


def _hsig(raw: Column) -> Column:
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), raw))


def train_hardsig_logreg(feats: DataFrame, iters: int = ITERS) -> list[float]:
    """Full-batch GD; returns the learned weights [w0, w1, w2, w3].
    One aggregation job per iteration; the only driver state is the
    4-float weight vector (bounded by construction)."""
    w = [0.0] * N_WEIGHTS
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    for _ in range(iters):
        raw = _raw(w)
        deriv = F.when(
            (raw > F.lit(0.0)) & (raw < F.lit(1.0)), F.lit(0.25)
        ).otherwise(F.lit(0.0))
        err = _hsig(raw) - F.col("y")
        g = feats.agg(
            *[
                (
                    F.sum(
                        (F.lit(2.0) * err * deriv * x).cast(DECIMAL_TYPE)
                    ).cast("double")
                    / F.count("*")
                ).alias(f"g{j}")
                for j, x in enumerate(xs)
            ]
        ).collect()[0]
        w = [
            _fround_py(w[j] - LR * g[f"g{j}"]) for j in range(N_WEIGHTS)
        ]
    return w


def classifier_summary(
    docs: DataFrame,
    positive: Column,
    iters: int = ITERS,
) -> DataFrame:
    """Train, then evaluate in one final pass: ONE row with the
    learned weights, selection counts at the 0.5 threshold, training
    accuracy and per-class mean scores — everything value-exact."""
    feats = quality_features(docs, positive).localCheckpoint()
    w = train_hardsig_logreg(feats, iters=iters)
    yhat = _hsig(_raw(w))
    sel = yhat >= F.lit(0.5)
    pos = F.col("y") == F.lit(1.0)
    dsum = lambda c: F.sum(c.cast(DECIMAL_TYPE)).cast("double")  # noqa: E731
    return feats.agg(
        F.max(F.lit(w[0])).alias("w0"),
        F.max(F.lit(w[1])).alias("w1"),
        F.max(F.lit(w[2])).alias("w2"),
        F.max(F.lit(w[3])).alias("w3"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum(pos.cast("long")).cast("long").alias("n_positive"),
        F.sum(sel.cast("long")).cast("long").alias("n_selected"),
        fround(
            F.sum((sel == pos).cast("long")).cast("double") / F.count("*"),
            6,
        ).alias("train_accuracy"),
        fround(
            dsum(F.when(pos, yhat).otherwise(F.lit(0.0)))
            / F.sum(pos.cast("long")),
            6,
        ).alias("mean_score_pos"),
        fround(
            dsum(F.when(~pos, yhat).otherwise(F.lit(0.0)))
            / F.sum((~pos).cast("long")),
            6,
        ).alias("mean_score_neg"),
    )
