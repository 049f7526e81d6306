"""Upsert / MERGE semantics on plain Spark — SURVEY.md §2.1 S7/S8,
§2.4 J4/J5, §2.8 U4.

The reference upserts row-by-row with ``INSERT … ON CONFLICT
(unique_id) DO UPDATE`` and classifies inserted-vs-updated via
``RETURNING (xmax = 0)`` (`postgresql_service.py:169-216`; composite
natural-key variant :861-938). The Spark-native form is one full-outer
join on the key, updates winning over existing, with the action
classified per row — the same result set a Delta ``MERGE INTO`` would
produce, expressed engine-agnostically.

Scale notes: the join shuffles both sides on the key once; with
bucketed/partitioned staging tables the shuffle disappears. The write
path (`overwrite_table`, `overwrite_partitions`) uses dynamic
partition overwrite = the reference's replace-before-insert (U4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
) -> DataFrame:
    """S8/J4 — full-outer join on ``keys``; update columns win over
    existing; every row tagged inserted/updated/kept in
    ``merge_action``."""
    value_cols = [c for c in existing.columns if c not in keys]
    upd_value_cols = [c for c in value_cols if c in updates.columns]
    ex = existing.withColumn("__e_present", F.lit(1))
    upd = updates.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in upd_value_cols],
        F.lit(1).alias("__u_present"),
    )
    joined = ex.join(upd, keys, "full_outer")
    action = (
        F.when(F.col("__u_present").isNull(), "kept")
        .when(F.col("__e_present").isNull(), "inserted")
        .otherwise("updated")
    )
    out_cols = [F.col(k) for k in keys]
    for c in value_cols:
        if c in upd_value_cols:
            # update side wins wherever the update row exists at all
            out_cols.append(
                F.when(F.col("__u_present").isNotNull(), F.col(f"__u_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols, action.alias("merge_action"))


def merge_counts(merged: DataFrame) -> DataFrame:
    """The inserted/updated counters the reference reports
    (postgresql_service.py:204-216)."""
    return merged.groupBy("merge_action").agg(F.count("*").alias("n"))


def dedup_by_id(df: DataFrame, id_col: str = "unique_id") -> DataFrame:
    """C14 re-run idempotence: deterministic-id dedup
    (weather_data_prec_temp_etl_view.py:72-76) → dropDuplicates."""
    return df.dropDuplicates([id_col])


def overwrite_table(df: DataFrame, path: str) -> None:
    """S7 — replace-mode write (postgresql_service.py:86-244)."""
    df.write.mode("overwrite").parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """U4 — replace only matching partitions (delete-then-insert per
    (country, type, year), country_adm_boundaries_upload_views.py:
    274-346) via dynamic partition overwrite.  The mode is pinned as a
    WRITE option, not a session conf (ADVICE r11 #3: the former
    session-wide ``spark.conf.set`` was never reset, so any later
    partitioned overwrite in the same session — e.g. an IVF-PQ index
    rebuild — silently inherited dynamic semantics and kept stale
    partitions it meant to drop)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def delete_by_key(df: DataFrame, key_col: str, key_values: list) -> DataFrame:
    """S12 — dataset delete: the reference locates a collection by
    upload_id in metadata and delete_many's data + metadata
    (health_center_lab__data_upload_views.py:323-377). Plain-Spark
    form: anti-filter and rewrite (Delta would make this a metadata
    DELETE). With upload-id as a partition column the rewrite prunes
    to the affected partitions only."""
    return df.filter(~F.col(key_col).isin(key_values))
