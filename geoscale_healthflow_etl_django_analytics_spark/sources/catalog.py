"""Parquet catalog over the synthetic star schema.

Replaces the reference's MongoDB collection-per-(dataset, location,
year) layout (`app/etl_app/services/health_center_mongodb_service.py:141-243`,
S5/S6 in SURVEY.md §2.1): what was "open every matching collection and
union the cursors" becomes a single partition-aware parquet scan where
Catalyst prunes partitions/row-groups from pushed-down predicates.

Scale notes:
- Reads are plain ``spark.read.parquet`` so filter pushdown, column
  pruning and (at cluster scale) partition pruning all apply.
- The nanosecond-timestamp feed (``events.ts``) is read via the
  nanos-as-long legacy mode and converted to ``timestamp_ntz`` at
  microsecond precision — the same truncation DuckDB applies, so the
  oracle sees identical values.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Where builders write the files and tables their plans read back
# (CSV fixtures, roundtrip sinks, bucketed tables, persisted indexes).
FIXTURE_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_fixtures")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns written as parquet TIMESTAMP(NANOS) by the data generator;
# Spark reads them as long (nanosAsLong) and we rebuild a timestamp.
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _ensure_session_confs(spark: SparkSession) -> None:
    # The verify driver hands us its own session; these are
    # runtime-settable and required for correct reads.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# plan-object memo: re-reading a parquet footer costs ~100-200 ms of
# driver time per call; registry builders are invoked per query, so
# without this each query pays footer-listing for every table it
# touches. Keyed by session id so a restarted session re-reads.
_DF_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from ``{sf_dir}/{name}.parquet``."""
    key = (id(spark), sf_dir, name)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        if dtypes.get(col) == "bigint":
            # nanos → micros (floor div), then a naive timestamp; this
            # matches DuckDB's microsecond TIMESTAMP truncation exactly.
            df = df.withColumn(
                col,
                F.expr(
                    f"cast(timestamp_micros(cast({col} div 1000 as long)) "
                    "as timestamp_ntz)"
                ),
            )
    _DF_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def ensure_parallelism(
    df: DataFrame, min_parts: int | None = None, key: str | None = None
) -> DataFrame:
    """Spread a low-parallelism scan BEFORE CPU-heavy per-row work.

    Scans parallelize by input bytes (files x row-groups), which is
    the wrong cost model for operators whose per-row work dwarfs their
    per-row bytes — shingling + md5 sketches, per-pair folds,
    geometry math. A 20 MB single-file corpus scans as ONE task, so
    every downstream map-side expression serializes on one core (the
    round-5 scale curve measured dedup_minhash_lsh spending most of
    its 84 s at 10x sf0.1 this way). At 100 TB the scan arrives
    pre-split into thousands of tasks and this helper is a NO-OP; on
    a narrow scan it inserts one round-robin repartition of the raw
    rows — the cheapest possible exchange, paid once, before the
    expensive expressions run.

    The partition probe reads only the file listing (no job); results
    are unchanged for any deterministic downstream pipeline (all
    registry queries quantize before aggregation).

    ``key``: when the downstream pipeline aggregates or joins on a
    high-cardinality column, pass it so the spread is a HASH
    repartition on that column instead of round-robin.  Two wins with
    identical results (guide §2.4/§2.5): the keyed exchange
    co-partitions the data for the downstream groupBy/join, which then
    needs no second exchange; and keyless ``repartition(n)`` pays a
    per-partition sort of its input (sortBeforeRepartition, the
    SPARK-23207 determinism guard) that the hash form never runs.
    """
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    if _num_partitions(df) >= min_parts:
        return df
    if key is not None:
        return df.repartition(min_parts, F.col(key))
    return df.repartition(min_parts)


# r12 (guide §5, driver work): ``df.rdd.getNumPartitions()`` runs the
# FULL planning chain (analyze → optimize → physical plan → RDD) —
# measured ~0.4 s per call on a fresh filtered frame, and the fold /
# incremental builders construct such frames on every invocation.
# Memoize the count by the ANALYZED plan's semantic hash (analysis
# only, no physical planning on a hit).  A stale hit (same semantic
# plan, changed file listing mid-session) can only change the SPREAD
# decision, which ensure_parallelism's contract already declares
# result-neutral — results are identical under any partitioning.
# Keyed by applicationId, not id(session) (ADVICE r12 #1: a stopped
# session's id() can be reused by a new object, serving a stale
# count cross-session; application ids are never reused), and
# bounded — a long-lived driver building many distinct frames would
# otherwise grow the dict without limit.
_PARTS_CACHE: dict[tuple[str, int], int] = {}
_PARTS_CACHE_MAX = 4096


def _num_partitions(df: DataFrame) -> int:
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:  # non-classic backends: fall back to the probe
        return df.rdd.getNumPartitions()
    n = _PARTS_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_PARTS_CACHE) >= _PARTS_CACHE_MAX:
            _PARTS_CACHE.clear()
        _PARTS_CACHE[key] = n
    return n
