"""The analytic core — SURVEY.md §2.5 A1-A5 / §2.7 O1-O6.

Spark re-expression of `app/etl_app/services/analytics_calculator.py`:
the reference iterates pandas groupbys row-by-row; here every output
is one declarative groupBy/agg so Catalyst gives partial (map-side)
aggregation, whole-stage codegen, and AQE-coalesced shuffles. Each
function takes the semantic ``lab`` frame (sources/semantic.py) and
returns a DataFrame whose column names are the oracle contract.

Scale notes: all aggregations are keyed on low-cardinality calendar/
geo columns → tiny shuffle after map-side combine; no collect(), no
Python in the plan. `first(district)` in the reference (A3,
analytics_calculator.py:131-148) is order-dependent — replaced by
`min` (district/sector are functions of village here, so min == the
unique value; and min is oracle-stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import month_name, positivity_rate


def _pos(col: str = "is_positive") -> F.Column:
    return F.sum(col).cast("long")


def _neg() -> F.Column:
    return F.sum(F.when(F.col("test_result") == "Negative", 1).otherwise(0)).cast(
        "long"
    )


def yearly_slide_status(lab: DataFrame) -> DataFrame:
    """A1 — per-year totals/positives/negatives/inconclusive + rates
    (analytics_calculator.py:197-226)."""
    agg = lab.groupBy("year").agg(
        F.count("*").alias("total_tests"),
        _pos().alias("positive_cases"),
        _neg().alias("negative_cases"),
    )
    return agg.select(
        "year",
        "total_tests",
        "positive_cases",
        "negative_cases",
        (F.col("total_tests") - F.col("positive_cases") - F.col("negative_cases"))
        .cast("long")
        .alias("inconclusive_cases"),
        positivity_rate(F.col("positive_cases"), F.col("total_tests")).alias(
            "positivity_rate"
        ),
        positivity_rate(F.col("negative_cases"), F.col("total_tests")).alias(
            "negativity_rate"
        ),
        positivity_rate(
            F.col("total_tests") - F.col("positive_cases") - F.col("negative_cases"),
            F.col("total_tests"),
        ).alias("inconclusive_rate"),
    )


def gender_positivity(lab: DataFrame) -> DataFrame:
    """A2 — (year, gender) positivity (analytics_calculator.py:87-116)."""
    agg = lab.groupBy("year", "gender").agg(
        F.count("*").alias("total_tests"),
        _pos().alias("positive_cases"),
        _neg().alias("negative_cases"),
    )
    return agg.select(
        "year",
        "gender",
        "total_tests",
        "positive_cases",
        "negative_cases",
        positivity_rate(F.col("positive_cases"), F.col("total_tests")).alias(
            "positivity_rate"
        ),
    )


def village_positivity(lab: DataFrame) -> DataFrame:
    """A3 — (village, year) positivity with the village's district/
    sector carried through (analytics_calculator.py:119-149; the
    reference's group.iloc[0] becomes min() — see module docstring).
    negative_cases = total - positive per the reference (:138)."""
    cleaned = lab.filter(F.col("village").isNotNull() & (F.trim("village") != ""))
    agg = cleaned.groupBy("village", "year").agg(
        F.count("*").alias("total_tests"),
        _pos().alias("positive_cases"),
        F.min("district").alias("district"),
        F.min("sector").alias("sector"),
    )
    return agg.select(
        "village",
        "year",
        "district",
        "sector",
        "total_tests",
        "positive_cases",
        (F.col("total_tests") - F.col("positive_cases"))
        .cast("long")
        .alias("negative_cases"),
        positivity_rate(F.col("positive_cases"), F.col("total_tests")).alias(
            "positivity_rate"
        ),
    )


def monthly_positivity(lab: DataFrame) -> DataFrame:
    """A4 — (year, month) positivity + month name
    (analytics_calculator.py:50-84)."""
    cleaned = lab.filter(F.col("year").isNotNull() & F.col("month").isNotNull())
    agg = cleaned.groupBy("year", "month").agg(
        F.count("*").alias("total_tests"),
        _pos().alias("positive_cases"),
    )
    return agg.select(
        "year",
        "month",
        month_name(F.col("month")).alias("month_name"),
        "total_tests",
        "positive_cases",
        positivity_rate(F.col("positive_cases"), F.col("total_tests")).alias(
            "positivity_rate"
        ),
    )


def daily_positivity(lab: DataFrame) -> DataFrame:
    """A4 at day grain — same operator, finer calendar bucket (the
    events feed spans one month, so day-level exercises ~30 groups)."""
    agg = lab.groupBy("year", "month", "day").agg(
        F.count("*").alias("total_tests"),
        _pos().alias("positive_cases"),
    )
    return agg.select(
        "year",
        "month",
        "day",
        "total_tests",
        "positive_cases",
        positivity_rate(F.col("positive_cases"), F.col("total_tests")).alias(
            "positivity_rate"
        ),
    )


def _value_counts_json(lab: DataFrame, col: str) -> DataFrame:
    """Single-row canonical-JSON value-counts map for one column —
    the reference's `df[col].value_counts().to_dict()` breakdowns
    (analytics_calculator.py:170-175) as a key-sorted JSON string
    (hashable by the driver, unlike a map column). Two tiny single-row
    frames cross-joined to the summary row — broadcast-trivial at any
    corpus size; the groupBy is one map-side-combined shuffle over a
    handful of distinct keys."""
    entries = F.sort_array(
        F.collect_list(F.struct(F.col(col).alias("k"), F.col("n").alias("cnt")))
    )
    return (
        lab.groupBy(col)
        .agg(F.count("*").alias("n"))
        .agg(
            F.concat(
                F.lit("{"),
                F.array_join(
                    F.transform(
                        entries,
                        lambda e: F.concat(
                            F.lit('"'), e["k"], F.lit('":'), e["cnt"].cast("string")
                        ),
                    ),
                    ",",
                ),
                F.lit("}"),
            ).alias(f"{col}_breakdown")
        )
    )


def total_summary(lab: DataFrame) -> DataFrame:
    """A5 — single-row global summary (analytics_calculator.py:151-195):
    counts, overall rate, year span, distinct-location counts, sorted
    distinct location lists, gender + age-group value-counts maps
    (canonical JSON strings, key-sorted)."""
    summary = lab.agg(
        F.count("*").alias("total_records"),
        _pos().alias("total_positive"),
        _neg().alias("total_negative"),
        (F.count("*") - F.sum("is_positive") - F.sum(
            F.when(F.col("test_result") == "Negative", 1).otherwise(0)
        )).cast("long").alias("total_inconclusive"),
        positivity_rate(F.sum("is_positive"), F.count("*")).alias(
            "overall_positivity_rate"
        ),
        F.min("year").alias("earliest_year"),
        F.max("year").alias("latest_year"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set("year")), lambda y: y.cast("string")
            ),
            ",",
        ).alias("years_covered"),
        F.countDistinct("district").alias("districts_count"),
        F.countDistinct("sector").alias("sectors_count"),
        F.countDistinct("village").alias("villages_count"),
        F.array_join(F.sort_array(F.collect_set("district")), ",").alias("districts"),
        F.array_join(F.sort_array(F.collect_set("sector")), ",").alias("sectors"),
        F.sum(F.when(F.col("gender") == "Male", 1).otherwise(0))
        .cast("long")
        .alias("male_count"),
        F.sum(F.when(F.col("gender") == "Female", 1).otherwise(0))
        .cast("long")
        .alias("female_count"),
        F.sum(F.when(F.col("gender") == "Unknown", 1).otherwise(0))
        .cast("long")
        .alias("unknown_gender_count"),
    )
    return summary.crossJoin(_value_counts_json(lab, "gender")).crossJoin(
        _value_counts_json(lab, "age_group")
    )


def top_villages_by_positivity(lab: DataFrame) -> DataFrame:
    """O3 — top-20 villages by positivity rate desc
    (analytics_dashboard/views.py:378-381). Deterministic tiebreak on
    (rate desc, village asc); Catalyst turns orderBy+limit into a
    TakeOrderedAndProject (no full sort at scale)."""
    v = village_positivity(lab)
    return (
        v.orderBy(F.desc("positivity_rate"), F.asc("village"), F.asc("year"))
        .limit(20)
    )


def distinct_years(lab: DataFrame) -> DataFrame:
    """A10 — validated distinct years (health_center_mongodb_service.py:
    41-139: bounds 2015..2030 in the reference; the synthetic feed is
    2024+, bound kept as a plain predicate)."""
    return (
        lab.select("year")
        .filter(F.col("year").between(2015, 2030))
        .distinct()
        .orderBy("year")
    )
