"""End-to-end pipeline tests (SURVEY.md §3 entry points): each ETL
runs extract→clean→analytics→staged-write and the staged outputs
carry the FIXTURES.md §7 filter-context + audit columns."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark import pipelines
from geoscale_healthflow_etl_django_analytics_spark.functions.params import YearSpecError
from geoscale_healthflow_etl_django_analytics_spark.operators import health_analytics as ha
from geoscale_healthflow_etl_django_analytics_spark.operators import staging
from geoscale_healthflow_etl_django_analytics_spark.operators import weather as wx
from geoscale_healthflow_etl_django_analytics_spark.operators.api_calc import (
    api_by_nation_year,
    api_summary,
    api_summary_cols,
)
from geoscale_healthflow_etl_django_analytics_spark.sources import catalog
from geoscale_healthflow_etl_django_analytics_spark.sources.semantic import (
    lab_records,
    precip_readings,
    temp_readings,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="hf-pipe-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _api_tables(spark):
    return [catalog.load_table(spark, SF, n) for n in ("orders", "customer", "nation")]


def _total_summary(spark, years, district=None):
    """A5 over the same selection the pipeline made, run directly."""
    lab = lab_records(catalog.load_table(spark, SF, "events"))
    sel = lab.filter(F.col("year").isin(years))
    if district:
        sel = sel.filter(F.lower(F.col("district")) == district.lower())
    return ha.total_summary(sel).collect()[0].asDict()


def _job_count(spark, group, fn):
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_health_center_etl_full(spark, outdir):
    res = pipelines.health_center_etl(spark, SF, outdir)
    assert res["status"] == "success"
    assert res["summary"]["total_records"] == 1000
    yearly = spark.read.parquet(res["tables"]["yearly_statistics"])
    # FIXTURES §7 staging shape: analytics columns + filter context
    for col in (
        "year", "total_tests", "positive_cases", "negative_cases",
        "positivity_rate", "filter_district", "filter_sector",
        "filter_years", "created_at",
    ):
        assert col in yearly.columns, col
    assert yearly.first().filter_district == "all"
    # the summary is the staged A5 row: equal to A5 run on its own
    assert res["summary"] == _total_summary(spark, res["years"])


def test_health_center_etl_empty_selection(spark, outdir):
    res = pipelines.health_center_etl(spark, SF, outdir, district="zz")
    assert res["summary"] == _total_summary(spark, res["years"], "zz")
    assert res["summary"]["total_records"] == 0
    assert res["summary"]["gender_breakdown"] == "{}"
    assert res["summary"]["age_group_breakdown"] == "{}"


def test_health_center_etl_filtered(spark, outdir):
    res = pipelines.health_center_etl(
        spark, SF, outdir, district="D0", years="2024"
    )
    assert res["years"] == [2024]
    v = spark.read.parquet(res["tables"]["village_positivity"])
    # F1 case-insensitive match: 'D0' matched district 'd0'
    assert {r.district for r in v.select("district").distinct().collect()} == {"d0"}
    assert v.first().filter_district == "d0"


def test_health_center_etl_bad_years(spark, outdir):
    with pytest.raises(YearSpecError):
        pipelines.health_center_etl(spark, SF, outdir, years="1999")


def test_weather_etl(spark, outdir):
    res = pipelines.weather_etl(spark, SF, outdir)
    df = spark.read.parquet(res["table"])
    assert res["n_stations"] == 3
    assert df.count() == 36  # 3 stations x 12 scaffold months
    # the observed stats equal a recount of the staged table
    recount = df.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("station").alias("n_stations"),
    ).first()
    assert (res["n_rows"], res["n_stations"]) == tuple(recount)
    # fill ladder: station st2 has no thermometer -> 20.0 default
    st2 = df.filter((F.col("station") == "st2") & (~F.col("has_temp_data")))
    assert st2.count() == 12
    assert {r.temperature for r in st2.collect()} == {20.0}


def test_api_calculator_etl(spark, outdir):
    res = pipelines.api_calculator_etl(spark, SF, outdir)
    df = spark.read.parquet(res["table"])
    assert df.count() > 0
    assert "risk_category" in df.columns
    assert res["summary"]["total_cases"] == 1500
    assert res["summary"] == api_summary(*_api_tables(spark)).collect()[0].asDict()


def test_pipelines_run_their_plan_once(spark, outdir):
    """The observed summaries cost no Spark job beyond the staged write:
    each pipeline launches exactly the jobs of its write alone."""
    tables = _api_tables(spark)
    ev = catalog.load_table(spark, SF, "events")
    write_api = _job_count(
        spark,
        "api-write",
        lambda: staging.write_staging(
            api_by_nation_year(*tables), f"{outdir}/ref", "malaria_api"
        ),
    )
    etl_api = _job_count(
        spark, "api-etl", lambda: pipelines.api_calculator_etl(spark, SF, outdir)
    )
    assert write_api > 0
    assert etl_api == write_api

    write_wx = _job_count(
        spark,
        "weather-write",
        lambda: staging.write_staging(
            wx.merge_precip_temp(precip_readings(ev), temp_readings(ev)),
            f"{outdir}/ref",
            "weather_monthly_merged",
        ),
    )
    etl_wx = _job_count(
        spark, "weather-etl", lambda: pipelines.weather_etl(spark, SF, outdir)
    )
    assert write_wx > 0
    assert etl_wx == write_wx


def test_observed_api_summary_merges_across_tasks(spark, outdir):
    """Eight write tasks each observe a partial A11 aggregate; the merged
    result equals the one-row ``api_summary`` query."""
    tables = _api_tables(spark)
    obs = Observation("api_summary_split")
    staging.write_staging(
        api_by_nation_year(*tables).repartition(8).observe(obs, *api_summary_cols()),
        outdir,
        "malaria_api",
    )
    assert obs.get == api_summary(*tables).collect()[0].asDict()
