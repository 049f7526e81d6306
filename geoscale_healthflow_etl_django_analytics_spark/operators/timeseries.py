"""Time-series regularization: resample to a fixed grid + linear
interpolation of gaps.

Generalizes the reference's J2 fill ladder (monthly yearly-average
fill, ``weather_data_prec_temp_etl_view.py``) into the standard
time-series op a feature pipeline needs: bucket readings onto a
uniform grid, then fill EMPTY buckets by linear interpolation between
the nearest observed neighbors. Pure window algebra — one shuffle on
the key for the carry windows, sequence-explode for the grid (bounded
by the key's own time span), no Python.

Cross-engine determinism: observed bucket values are
decimal-exact-averaged and rounded BEFORE interpolation, and the
interpolation expression is written with identical association in the
Column and SQL forms, so the driver's value-hash comparison holds at
any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import DECIMAL_TYPE, fround


def resample_interpolate(
    df: DataFrame,
    time_col: str,
    value_col: str,
    by_cols: list[str],
) -> DataFrame:
    """Returns one row per (key, hourly bucket) over each key's [min, max]
    bucket span: ``v`` = the bucket's decimal-exact mean where
    observed, else the linear interpolation between the nearest
    observed buckets; ``observed`` marks which. Endpoints are always
    observed (the grid spans observed data), so no extrapolation
    branch exists."""
    step_ms = 3600 * 1000
    bucket = F.floor(
        F.unix_millis(F.col(time_col).cast("timestamp")) / F.lit(step_ms)
    )
    obs = (
        df.select(*by_cols, bucket.alias("b"), F.col(value_col).alias("v"))
        .groupBy(*by_cols, "b")
        .agg(
            fround(
                F.sum(F.col("v").cast(DECIMAL_TYPE)).cast("double")
                / F.count("*"),
                6,
            ).alias("v_obs")
        )
    )
    grid = (
        obs.groupBy(*by_cols)
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select(
            *by_cols,
            F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("b"),
        )
    )
    j = grid.join(obs, [*by_cols, "b"], "left")
    w_prev = (
        Window.partitionBy(*by_cols)
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*by_cols)
        .orderBy("b")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ob = F.when(F.col("v_obs").isNotNull(), F.col("b"))
    v_prev = F.last("v_obs", ignorenulls=True).over(w_prev)
    b_prev = F.last(ob, ignorenulls=True).over(w_prev)
    v_next = F.first("v_obs", ignorenulls=True).over(w_next)
    b_next = F.first(ob, ignorenulls=True).over(w_next)
    interp = v_prev + (v_next - v_prev) * (
        (F.col("b") - b_prev) / (b_next - b_prev)
    )
    return j.select(
        *by_cols,
        "b",
        fround(F.coalesce(F.col("v_obs"), interp), 6).alias("v"),
        F.col("v_obs").isNotNull().alias("observed"),
    )
