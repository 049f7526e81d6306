"""EWMA rolling baseline + anomaly flags over an event stream.

Own module rather than operators/timeseries.py so the resample/
interpolate module's bytes stay untouched by this round's additions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import DECIMAL_TYPE, fround

EWMA_ALPHA = 0.5  # halves are exact binary doubles -> cross-engine exact
EWMA_WINDOW = 8


def ewma_weights() -> list[float]:
    """w_i = alpha * (1-alpha)^(i-1) for the i-th most recent PRIOR
    bucket, alpha = ``EWMA_ALPHA``, i <= ``EWMA_WINDOW``.  With
    alpha=0.5 every weight is a power of two — exact in IEEE doubles,
    so both engines' weighted sums agree bit-for-bit when written in
    the same order."""
    alpha = EWMA_ALPHA
    return [alpha * (1.0 - alpha) ** (i - 1) for i in range(1, EWMA_WINDOW + 1)]


def ewma_baseline_anomaly(
    df: DataFrame,
    time_col: str,
    value_col: str,
    key_col: str,
) -> DataFrame:
    """Time-decayed rolling baseline + anomaly flag — the monitoring
    shape over an event stream: per (key, hour) volume, an EWMA of
    the previous ``EWMA_WINDOW`` observed buckets (weights renormalized
    over the buckets that exist, so the series start is well-defined
    without an extrapolation branch), and a flag when the current
    bucket is 2x above / below half the baseline.

    Exactness: bucket volumes are decimal-exact sums rounded 6dp;
    the EWMA numerator/denominator are FIXED-order sums of
    power-of-two weights (exact doubles), so the whole chain is
    engine- and partitioning-independent.  Bounded window => pure
    ``lag`` algebra, no recursion — the classical unbounded EWMA is
    a sequential recurrence Spark cannot shuffle; truncating at 8
    terms bounds the error by (1-alpha)^8 < 0.4% of the weight mass
    and keeps the operator a window expression.

    Scale: the groupBy pre-aggregates events to (key, bucket) rows —
    window partitions then hold #buckets rows (time-range-bounded),
    not #events, so per-key windows stay small at any corpus size;
    the events scan is one pass.
    """
    step_ms = 3600 * 1000
    bucket = F.floor(
        F.unix_millis(F.col(time_col).cast("timestamp")) / F.lit(step_ms)
    )
    x = (
        df.select(
            F.col(key_col).alias("key"),
            bucket.alias("b"),
            F.col(value_col).alias("v"),
        )
        .groupBy("key", "b")
        .agg(
            fround(
                F.sum(F.col("v").cast(DECIMAL_TYPE)).cast("double"), 6
            ).alias("x")
        )
    )
    w = Window.partitionBy("key").orderBy("b")
    lags = [F.lag("x", i).over(w).alias(f"l{i}") for i in range(1, EWMA_WINDOW + 1)]
    lagged = x.select("key", "b", "x", *lags)

    weights = ewma_weights()
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i, wi in enumerate(weights, start=1):
        li = F.col(f"l{i}")
        num = num + F.lit(wi) * F.coalesce(li, F.lit(0.0))
        den = den + F.when(li.isNotNull(), F.lit(wi)).otherwise(F.lit(0.0))
    ewma_prev = fround(num / F.when(den != 0.0, den), 6)

    scored = lagged.select(
        "key", "b", "x", ewma_prev.alias("ewma_prev")
    )
    ratio = F.when(
        F.col("ewma_prev") > 0,
        fround(F.col("x") / F.col("ewma_prev"), 4),
    )
    return scored.select(
        "key",
        "b",
        "x",
        "ewma_prev",
        ratio.alias("ratio"),
        F.coalesce(
            (ratio > F.lit(2.0)) | (ratio < F.lit(0.5)), F.lit(False)
        ).alias("is_anomaly"),
    )
