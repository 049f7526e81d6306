"""End-to-end ETL pipelines — SURVEY.md §3's entry points as library
calls (the HTTP/Django plumbing is out of scope; these functions are
what the reference's views *do*).

Each pipeline is one lazy Spark plan per output: extract (partition-
prunable filters) → clean (C-layer expressions) → analytics (A-layer
groupBys) → staging write (S7, filter-context partitioned). Stages
2-6 of the reference's imperative flow collapse into Catalyst's
single optimized plan — see SURVEY.md §3 'Spark shape'.

Each plan runs once. The response summary is taken from the staged
write, never from a second execution of the analytics plan:

- ``api_calculator_etl`` and ``weather_etl`` observe their summary
  aggregates while the staged table is written (``DataFrame.observe``)
  and read them from the ``Observation`` afterwards. ``observe`` takes
  no DISTINCT aggregate, so a distinct count is written as
  ``size(collect_set(...))``.
- ``health_center_etl``'s summary needs DISTINCT aggregates and cross
  joins, which cannot be observed. It is one of the staged outputs, so
  the pipeline reads back that one staged row.
"""

from __future__ import annotations

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .functions.params import parse_year_spec
from .operators import health_analytics as ha
from .operators import staging
from .operators import weather as wx
from .operators.api_calc import api_by_nation_year, api_summary_cols
from .sources import catalog
from .sources.semantic import lab_records, precip_readings, temp_readings


def health_center_etl(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    district: str | None = None,
    sector: str | None = None,
    years: str | None = None,
) -> dict:
    """Entry point 1 — the flagship lab ETL
    (`health_center_lab_view.py:79-365`): validate params → discover
    filters → extract → transform → A1-A5 analytics → staged writes →
    response summary.

    The summary is the staged ``total_summary`` row, read back after
    the writes. ``total_summary`` uses DISTINCT aggregates and cross
    joins, which ``observe`` does not take, and reading one staged row
    is cheaper than running the A5 plan over ``events`` again."""
    lab = lab_records(catalog.load_table(spark, sf_dir, "events"))

    available_years = [r.year for r in lab.select("year").distinct().collect()]
    selected_years = parse_year_spec(years, available_years)

    filtered = lab.filter(F.col("year").isin(selected_years))
    if district:
        # F1 case-insensitive exact match
        filtered = filtered.filter(F.lower(F.col("district")) == district.lower())
    if sector:
        filtered = filtered.filter(F.lower(F.col("sector")) == sector.lower())

    outputs = {
        "raw_records": filtered.select(
            "event_id", "year", "month", "day", "gender", "village",
            "district", "sector", "test_result", "is_positive",
        ),
        "yearly_statistics": ha.yearly_slide_status(filtered),
        "gender_positivity": ha.gender_positivity(filtered),
        "village_positivity": ha.village_positivity(filtered),
        "monthly_positivity": ha.monthly_positivity(filtered),
        "total_summary": ha.total_summary(filtered),
    }
    paths = {
        name: staging.write_staging(
            df, output_dir, f"hc_{name}", district, sector, selected_years
        )
        for name, df in outputs.items()
    }
    summary = (
        spark.read.parquet(paths["total_summary"])
        .select(*outputs["total_summary"].columns)
        .collect()[0]
        .asDict()
    )
    return {
        "status": "success",
        "years": selected_years,
        "tables": paths,
        "summary": summary,
    }


def weather_etl(
    spark: SparkSession, sf_dir: str, output_dir: str
) -> dict:
    """Entry point 3 — weather monthly merge
    (`weather_data_prec_temp_etl_view.py:710-919`): per-station
    monthly aggregates → full merge + fill ladder → staged write →
    A12 summary.

    ``n_rows`` and ``n_stations`` are observed while the merged table
    is written. ``observe`` takes no DISTINCT aggregate, so the station
    count is ``size(collect_set("station"))``; it drops nulls as
    ``countDistinct`` does."""
    ev = catalog.load_table(spark, sf_dir, "events")
    merged = wx.merge_precip_temp(precip_readings(ev), temp_readings(ev))
    obs = Observation("weather_summary")
    path = staging.write_staging(
        merged.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.size(F.collect_set("station")).alias("n_stations"),
        ),
        output_dir,
        "weather_monthly_merged",
    )
    stats = obs.get
    return {
        "status": "success",
        "table": path,
        "n_rows": stats["n_rows"],
        "n_stations": stats["n_stations"],
    }


def api_calculator_etl(
    spark: SparkSession, sf_dir: str, output_dir: str
) -> dict:
    """Entry point 2 — malaria API calculator
    (`malaria_api_calculator_etl_view.py:515-784`): derive per-
    (nation, year) incidence + risk → staged write → A11 summary.

    The A11 aggregates (``api_summary_cols``) are observed while the
    per-(nation, year) table is written, so the summary costs no second
    execution. They hold no DISTINCT aggregate, which ``observe`` would
    reject."""
    t = {n: catalog.load_table(spark, sf_dir, n) for n in ("orders", "customer", "nation")}
    api = api_by_nation_year(t["orders"], t["customer"], t["nation"])
    obs = Observation("api_summary")
    path = staging.write_staging(
        api.observe(obs, *api_summary_cols()), output_dir, "malaria_api"
    )
    return {"status": "success", "table": path, "summary": obs.get}
