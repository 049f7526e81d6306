"""Malaria-API (annual parasite incidence) calculator — SURVEY.md
§2.3 C10/C11, §2.5 A11, and the HMIS wide-year unpivot (§1.3).

Reference flow (`malaria_api_calculator_etl_view.py:272-357,719-750`):
per (sector, year) pick the wide `Total Cases_{y}` / `Pop{y}` columns,
compute api = cases/pop*1000, bucket into WHO risk categories, then a
summary block. Here the domain is mapped onto orders/customer/nation:
"cases" = orders per (nation, year), "population" = 50x the nation's
customer count.

Scale notes: the cases aggregation shuffles on (nationkey, year) after
map-side combine; customer→nation and the pop frame are dimension-
sized → Catalyst broadcast-joins them (verified in .explain).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import (
    api_per_1000,
    elimination_target,
    high_burden,
    who_risk_category,
)
from ..functions.exact import fround

POP_PER_CUSTOMER = 50


def nation_year_cases(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("year"))
        .agg(F.count("*").alias("cases"))
    )


def nation_population(customer: DataFrame, nation: DataFrame) -> DataFrame:
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.count("*") * POP_PER_CUSTOMER).cast("long").alias("population"))
    )


def api_by_nation_year(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """C10+C11 — api, WHO risk category, burden/elimination flags."""
    cases = nation_year_cases(orders, customer, nation)
    pop = nation_population(customer, nation)
    df = cases.join(pop, "nation")
    api = api_per_1000(F.col("cases"), F.col("population"))
    return df.select(
        "nation",
        "year",
        F.col("cases").cast("long").alias("cases"),
        "population",
        api.alias("api"),
        who_risk_category(api).alias("risk_category"),
        high_burden(api).alias("high_burden"),
        elimination_target(api).alias("elimination_target"),
    )


def api_summary_cols() -> list[Column]:
    """A11 — the response summary block (:719-750) as aggregate
    columns over :func:`api_by_nation_year`: totals, overall api,
    avg/max/min of positive apis, burden/elimination counts. No
    DISTINCT aggregate, so the list can also be observed while the
    per-(nation, year) table is written."""
    return [
        F.sum("cases").cast("long").alias("total_cases"),
        F.sum("population").cast("long").alias("total_population"),
        fround(
            F.when(
                F.sum("population") > 0,
                F.sum("cases").cast("double") / F.sum("population") * 1000.0,
            ).otherwise(0.0),
            2,
        ).alias("overall_api"),
        fround(F.avg(F.when(F.col("api") > 0, F.col("api"))), 2).alias(
            "avg_positive_api"
        ),
        F.max("api").alias("max_api"),
        F.min("api").alias("min_api"),
        F.sum(F.when(F.col("high_burden"), 1).otherwise(0))
        .cast("long")
        .alias("high_burden_count"),
        F.sum(F.when(F.col("elimination_target"), 1).otherwise(0))
        .cast("long")
        .alias("elimination_target_count"),
    ]


def api_summary(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """A11 — the one-row summary block over the per-(nation, year) table."""
    return api_by_nation_year(orders, customer, nation).agg(*api_summary_cols())


def risk_histogram(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """A11 — risk-category histogram (:741-750)."""
    return (
        api_by_nation_year(orders, customer, nation)
        .groupBy("risk_category")
        .agg(F.count("*").alias("n"))
    )


def wide_year_unpivot(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, years: list[int]
) -> DataFrame:
    """§1.3 HMIS wide-by-year → long via stack(): the reference's
    `Total Cases_{year}` regex-discovered columns
    (`malaria_api_calculator_etl_view.py:150-185`) become a pivot →
    stack round-trip here (pivot builds the wide frame the reference
    receives as input; stack is the operator under test).
    """
    long_df = nation_year_cases(orders, customer, nation)
    wide = (
        long_df.groupBy("nation")
        .pivot("year", years)
        .agg(F.first("cases"))
    )
    stack_args = ", ".join(f"'{y}', `{y}`" for y in years)
    unpivoted = wide.selectExpr(
        "nation", f"stack({len(years)}, {stack_args}) as (year_str, cases)"
    )
    return unpivoted.filter(F.col("cases").isNotNull()).select(
        "nation",
        F.col("year_str").cast("int").alias("year"),
        F.col("cases").cast("long").alias("cases"),
    )
