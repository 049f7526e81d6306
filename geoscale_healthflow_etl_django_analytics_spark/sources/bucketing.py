"""Bucketed tables for shuffle-free co-located joins.

The reference pre-indexes its staging tables for join-ish dashboard
queries (`table_schemas.py:40-48`); the Spark-native equivalent at
fact-to-fact scale is BUCKETING: write both sides bucketed (and
sorted) by the join key, and the sort-merge join runs with ZERO
exchange — each task reads matching bucket files directly. At 100 TB
this removes the single largest cost of the lineitem⋈orders class of
joins.

(Local caveat: bucketing requires ``saveAsTable`` — files carry the
bucket spec through the catalog, not the path. Each table is saved
with an explicit location under the fixture root, so neither the data
nor the plan depends on the working directory.)
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .catalog import FIXTURE_ROOT


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
) -> None:
    """Save ``df`` as ``table`` at ``FIXTURE_ROOT/<table>``, bucketed
    and sorted by ``bucket_col``; the location is cleared first."""
    path = os.path.join(FIXTURE_ROOT, table.lower())
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(path, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def cobucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str,
) -> DataFrame:
    """Join two tables bucketed on the same key with the same bucket
    count: Catalyst plans a SortMergeJoin with no Exchange on either
    side (asserted in tests/test_plans.py)."""
    return spark.table(left_table).join(spark.table(right_table), key)
