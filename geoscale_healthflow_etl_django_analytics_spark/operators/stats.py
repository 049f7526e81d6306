"""Statistical aggregates — SURVEY.md §2.5 A13/A14 (slope statistics,
area-weighted means) generalized over the lineitem fact table, plus
the pricing-summary scan-heavy aggregation used as the bench
headliner.

A13's median/std come from `geoJson_slope_etl_view.py:558-577`
(count/min/max/mean/median/std + area-weighted mean Σ(v·a)/Σa). The
weighted mean needs no UDAF — it is sum(v*w)/sum(w), fully native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, exact_wavg, fround


def weighted_stats(
    df: DataFrame, value_col: str, weight_col: str
) -> DataFrame:
    """A13 — full descriptive block over a value column with an
    area-weighted mean over the weight column."""
    v, w = F.col(value_col), F.col(weight_col)
    return df.agg(
        F.count(v).alias("n"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
        fround(F.avg(v), 4).alias("mean_value"),
        fround(F.expr(f"percentile({value_col}, 0.5)"), 4).alias("median_value"),
        fround(F.stddev_samp(v), 4).alias("std_value"),
        exact_wavg(v, w).alias("weighted_mean"),
    )


def pricing_summary(lineitem: DataFrame, ship_before: str = "1998-09-01") -> DataFrame:
    """Scan-heavy pricing summary per (returnflag, linestatus) — the
    engine's bench headliner: one full fact scan, map-side partial
    aggregation into 6 groups, predicate pushed to parquet."""
    li = lineitem.filter(F.col("l_shipdate") < F.lit(ship_before).cast("timestamp_ntz"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity"), 2).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            exact_sum(disc_price, 2).alias("sum_disc_price"),
            exact_sum(charge, 2).alias("sum_charge"),
            fround(F.avg("l_quantity"), 4).alias("avg_qty"),
            fround(F.avg("l_extendedprice"), 4).alias("avg_price"),
            fround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
