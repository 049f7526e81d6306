"""Weather precip ⟗ temp monthly merge — SURVEY.md §2.4 J1/J2, §2.5 A6-A8.

The reference builds a Python dict keyed on (year, month, district),
walking precip rows then temp rows, with a three-level null-fill
ladder (monthly value → station-year average → 20.0 default; precip
missing → 0.0) and a 12-month scaffold per year
(`weather_data_prec_temp_etl_view.py:319-533`).

Spark-first shape: two groupBy().avg() frames (A6/A8), a station-year
scaffold cross-joined with explode(sequence(1,12)), LEFT joins, and
coalesce() fills. The scaffold/join keys are (station, year, month) —
low cardinality, so at 100 TB the two aggregations do the heavy
map-side-combine work and the joins are broadcast-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import deterministic_id
from ..functions.exact import DECIMAL_TYPE, fround

TEMP_DEFAULT = 20.0  # weather_data_prec_temp_etl_view.py:470-480 fill default


def _exact_avg(col: str) -> F.Column:
    # decimal-exact sum / count → partitioning-independent average
    # (see functions/exact.py for why plain avg(double) is not).
    return F.sum(F.col(col).cast(DECIMAL_TYPE)).cast("double") / F.count("*")


def monthly_temp(temp: DataFrame) -> DataFrame:
    """A8 — per (station, year, month) temperature average (:423-443)."""
    return temp.groupBy("station", "year", "month").agg(
        _exact_avg("temp").alias("temp_avg")
    )


def merge_precip_temp(precip: DataFrame, temp: DataFrame) -> DataFrame:
    """J1+J2 — full merge over a 12-month scaffold with the exact
    reference fill ladder: precip→0.0; temp→monthly, else station-year
    avg, else 20.0 (:319-533). Deterministic id per C14.

    Scale shape: when both series come from the SAME source frame
    (the common case — one readings feed), this would be one scan +
    one groupBy; here the two filtered series union into one
    aggregation pass (tag + conditional sums), and the yearly-average
    fill level is derived from the monthly DECIMAL partials — exact,
    because decimal addition is associative, so sum-of-monthly-sums ==
    sum-over-raw. One wide scan + one shuffle instead of three
    aggregations + four joins over the source."""
    tagged = precip.select(
        "station", "year", "month",
        F.col("precip").alias("val"), F.lit("p").alias("kind"),
    ).unionByName(
        temp.select(
            "station", "year", "month",
            F.col("temp").alias("val"), F.lit("t").alias("kind"),
        )
    )
    monthly = tagged.groupBy("station", "year", "month").agg(
        F.sum(F.when(F.col("kind") == "p", F.col("val").cast(DECIMAL_TYPE))).alias(
            "p_sum"
        ),
        F.sum(F.when(F.col("kind") == "p", 1).otherwise(0)).alias("p_n"),
        F.sum(F.when(F.col("kind") == "t", F.col("val").cast(DECIMAL_TYPE))).alias(
            "t_sum"
        ),
        F.sum(F.when(F.col("kind") == "t", 1).otherwise(0)).alias("t_n"),
    )
    # eagerly materialized: four downstream branches (pm/tm/ty/
    # scaffold) would each re-run the scan + shuffle otherwise; this
    # aggregate is tiny (≤ stations x years x 12 rows) at any corpus
    # scale, and localCheckpoint avoids the lazy-cache first-use race
    # and registry growth across builder invocations.
    monthly = monthly.localCheckpoint()
    pm = monthly.filter(F.col("p_n") > 0).select(
        "station", "year", "month",
        (F.col("p_sum").cast("double") / F.col("p_n")).alias("prec_avg"),
        F.col("p_n").alias("prec_n"),
    )
    tm = monthly.filter(F.col("t_n") > 0).select(
        "station", "year", "month",
        (F.col("t_sum").cast("double") / F.col("t_n")).alias("temp_avg"),
    )
    # yearly avg from monthly decimal partials (exact re-aggregation)
    ty = (
        monthly.groupBy("station", "year")
        .agg(F.sum("t_sum").alias("ts"), F.sum("t_n").alias("tn"))
        .filter(F.col("tn") > 0)
        .select(
            "station", "year",
            (F.col("ts").cast("double") / F.col("tn")).alias("temp_yavg"),
        )
    )

    station_years = monthly.select("station", "year").distinct()
    scaffold = station_years.select(
        "station",
        "year",
        F.explode(F.sequence(F.lit(1), F.lit(12))).alias("month"),
    )

    merged = (
        scaffold.join(pm, ["station", "year", "month"], "left")
        .join(tm, ["station", "year", "month"], "left")
        .join(ty, ["station", "year"], "left")
    )
    return merged.select(
        "station",
        "year",
        "month",
        fround(F.coalesce(F.col("prec_avg"), F.lit(0.0)), 2).alias("precipitation"),
        fround(
            F.coalesce(F.col("temp_avg"), F.col("temp_yavg"), F.lit(TEMP_DEFAULT)), 2
        ).alias("temperature"),
        F.coalesce(F.col("prec_n"), F.lit(0)).cast("long").alias("precip_obs"),
        F.col("prec_avg").isNotNull().alias("has_precip_data"),
        F.col("temp_avg").isNotNull().alias("has_temp_data"),
        deterministic_id(F.col("year"), F.col("month"), F.col("station")).alias(
            "unique_id"
        ),
    )


def monthly_temp_with_yearly_window(temp: DataFrame) -> DataFrame:
    """W2 — the window-function form of the J2 fill source: each
    monthly row carries its station-year average via
    ``avg().over(Window.partitionBy(station, year))``
    (weather_data_prec_temp_etl_view.py:444-480)."""
    tm = monthly_temp(temp)
    w = Window.partitionBy("station", "year")
    return tm.select(
        "station",
        "year",
        "month",
        fround(F.col("temp_avg"), 2).alias("monthly_avg_temp"),
        fround(F.avg("temp_avg").over(w), 2).alias("yearly_avg_temp"),
    )
