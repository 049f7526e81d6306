"""Pandas-UDF aggregators — SURVEY.md §2.11.

The relational core of this engine is UDF-free by policy (enforced:
tests/test_plans.py asserts no Python evaluation in any oracle-checked
plan). This module is the sanctioned escape hatch for aggregation
semantics Spark genuinely lacks, as GROUPED_AGG pandas UDFs:
Arrow-batched, one Python invocation per group — not per row.

Example implemented: 10-90% trimmed mean (robust location estimate a
quality pipeline uses to summarize skewed metrics). Not expressible
natively because the trim bounds are group-dependent quantiles of the
same column being averaged.
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf
# infers the UDF eval type from REAL annotations; stringified ones
# (PEP 563) raise UNSUPPORTED_SIGNATURE.
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@lru_cache(maxsize=1)
def _trimmed_mean_udf():
    # built lazily: pandas_udf registration needs an active session.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean_10_90(v: pd.Series) -> float:
        """Mean of values within the [p10, p90] quantile band (linear
        interpolation, matching SQL quantile_cont)."""
        if len(v) == 0:
            return float("nan")
        lo, hi = v.quantile(0.1), v.quantile(0.9)
        kept = v[(v >= lo) & (v <= hi)]
        return float(kept.mean())

    return trimmed_mean_10_90


def trimmed_mean_by_type(events: DataFrame) -> DataFrame:
    from ..functions.exact import fround

    udf = _trimmed_mean_udf()
    # GROUPED_AGG pandas UDFs cannot share an agg() with JVM
    # aggregates — two aggregations joined on the (tiny) group key.
    trimmed = events.groupBy("event_type").agg(
        fround(udf(F.col("value")), 4).alias("trimmed_mean")
    )
    plain = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        fround(F.avg("value"), 4).alias("plain_mean"),
    )
    return plain.join(trimmed, "event_type").select(
        "event_type", "n", "trimmed_mean", "plain_mean"
    )
