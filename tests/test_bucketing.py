"""Bucketed co-located join: the fact⋈fact join must plan with NO
shuffle exchange when both sides are bucketed on the key."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.plans import audit as pa
from geoscale_healthflow_etl_django_analytics_spark.sources import bucketing
from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import FIXTURE_ROOT, load_table

SF = "/root/testdata/sf0.001"


def _location(spark, table: str) -> str:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    loc = next(r.data_type for r in rows if r.col_name == "Location")
    return loc.removeprefix("file:")


def _assert_no_exchange(spark, left: str, right: str, key: str) -> None:
    # at test scale Catalyst would broadcast (equally shuffle-free);
    # force the at-scale situation where neither fact side fits.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = pa.simple_plan(bucketing.cobucketed_join(spark, left, right, key))
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cobucketed_join_has_no_exchange(spark):
    li = load_table(spark, SF, "lineitem").withColumnRenamed(
        "l_orderkey", "okey"
    ).select("okey", "l_quantity", "l_extendedprice")
    orders = load_table(spark, SF, "orders").withColumnRenamed(
        "o_orderkey", "okey"
    ).select("okey", "o_totalprice", "o_orderdate")

    bucketing.write_bucketed(li, "b_lineitem", "okey", n_buckets=8)
    bucketing.write_bucketed(orders, "b_orders", "okey", n_buckets=8)
    for table in ("b_lineitem", "b_orders"):
        assert _location(spark, table) == os.path.join(FIXTURE_ROOT, table)

    _assert_no_exchange(spark, "b_lineitem", "b_orders", "okey")
    joined = bucketing.cobucketed_join(spark, "b_lineitem", "b_orders", "okey")

    # and the result is correct vs the plain join
    plain = (
        load_table(spark, SF, "lineitem")
        .join(
            load_table(spark, SF, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert joined.count() == plain


def test_registry_bucketed_tables_live_under_fixture_root(spark):
    """The registered query's tables sit under the fixture root, not
    in the working directory's warehouse, and still join with no
    Exchange."""
    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    REGISTRY["bucketed_revenue_by_segment"].builder(spark, SF)
    for table in ("bq_gate_cust", "bq_gate_ord"):
        assert _location(spark, table) == os.path.join(FIXTURE_ROOT, table)
    _assert_no_exchange(spark, "bq_gate_cust", "bq_gate_ord", "c_custkey")


def test_session_warehouse_lives_under_fixture_root(spark):
    """get_spark puts the SQL warehouse under FIXTURE_ROOT, so a catalog
    touch never leaves spark-warehouse/ in the working directory."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert os.path.commonpath([wh, FIXTURE_ROOT]) == FIXTURE_ROOT, wh
