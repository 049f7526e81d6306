"""Structured Streaming generalization of the reference's batch-wise
incremental processing — SURVEY.md §2.10.

The reference has no streaming engine: it emulates incrementality
with 100-row batches + progress docs + replace/append update modes
(`batch_processor.py:25,242-394`, `constants.py:4-13`). The
Spark-native equivalents built here:

- tumbling / sliding event-time windows with watermarks (the
  reference's month-bucketing A4 *is* a calendar tumbling window),
- session windows per user (gap-based),
- ``foreachBatch`` + merge upsert = the reference's append/upsert
  update mode with exactly-once micro-batches,
- ``Trigger.AvailableNow`` = the vestigial daily Airflow DAG
  (`dags/etl_pipeline.py:32-43`) as a scheduled catch-up run.

Every aggregation here also has a batch form registered in
registry.py with a DuckDB oracle (same expression over the static
events table), so streaming semantics are pinned by the same
correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..functions.exact import exact_sum

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory of events parquet files."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # watermarks require TIMESTAMP (not NTZ); session tz is pinned to
    # UTC by the session factory, so the wall-clock value is unchanged.
    return reader.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window per event_type: count + value
    sum. A 2-hour watermark bounds state so late data beyond it is
    dropped —
    the correctness/retention trade the reference's timeout+partial-
    results hack (§2.10) approximated without semantics."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", "2 hours")
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def sliding_value_avg(events: DataFrame) -> DataFrame:
    """Sliding window global value average over 30-minute windows every
    15 minutes (each event contributes to two overlapping windows),
    1-hour watermark."""
    src = events.withWatermark("ts", "1 hour") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), exact_sum(F.col("value"), 2).alias("value_sum"))
        .select(F.col("w.start").alias("w_start"), "n_events", "value_sum")
    )


def user_sessions(events: DataFrame) -> DataFrame:
    """Gap-based session windows per user: a session closes after 5
    minutes of inactivity; end = last event + 5 minutes (1-hour
    watermark)."""
    src = events.withWatermark("ts", "1 hour") if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), exact_sum(F.col("value"), 2).alias("value_sum"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into a memory sink
    and return the sink as a DataFrame (callers decide whether to
    collect, write, or compose further) — the scheduled-batch
    execution mode. ``output_mode``: complete for full-result
    aggregations (the default), append for row streams (dedup,
    stream-stream joins) where complete is unsupported."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def foreach_batch_upsert(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
):
    """§2.10 append/upsert update mode: each micro-batch MERGEs into
    the parquet target via the S8 full-outer-join upsert (idempotent
    across retries thanks to deterministic keys — C14).

    Crash-safety details: the initialize path is taken ONLY when the
    target genuinely does not exist AND no interrupted commit left a
    recoverable sibling behind (an explicit FileSystem check — a
    transient read error must propagate, not silently reinitialize
    the target with one micro-batch of data); repeated keys within a
    micro-batch are collapsed DETERMINISTICALLY (latest event time
    wins, remaining columns as tiebreak — an arbitrary
    dropDuplicates survivor would differ across task retries and
    break the C14 idempotence claim); and the new version is
    committed by a rename swap, not a slow in-place overwrite of the
    live target. The swap has a two-metadata-op window where the
    target path is absent; a crash inside it is healed on the next
    batch by promoting the completed ``_tmp_*`` (written fully before
    the first rename) or, failing that, restoring the retired
    ``_old_*`` — so a crash can never silently reinitialize the
    target from a single micro-batch."""
    from ..operators.upsert import merge_upsert

    def _fs_and_path(spark: SparkSession, path: str):
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs, jpath

    def _glob(spark: SparkSession, fs, pattern: str):
        statuses = fs.globStatus(spark._jvm.org.apache.hadoop.fs.Path(pattern))
        return [] if statuses is None else [s.getPath() for s in statuses]

    def _recover_interrupted_commit(spark: SparkSession, fs, jtarget) -> bool:
        """Target missing: if a prior commit crashed between its two
        renames, promote the newest complete ``_tmp_*`` (it holds the
        fully merged state — it is only ever renamed-over AFTER its
        write finished), else restore the newest ``_old_*`` (the last
        committed state). Returns True if the target exists after."""

        def _bid(p) -> int:
            try:
                return int(str(p.getName()).rsplit("_", 1)[1])
            except (IndexError, ValueError):
                return -1

        tmps = _glob(spark, fs, f"{target_path}_tmp_*")
        olds = _glob(spark, fs, f"{target_path}_old_*")
        src = max(tmps, key=_bid, default=None) or max(olds, key=_bid, default=None)
        if src is None:
            return False
        fs.rename(src, jtarget)
        for leftover in tmps + olds:
            if str(leftover) != str(src):
                fs.delete(leftover, True)
        return True

    def _dedup_in_batch(batch_df: DataFrame) -> DataFrame:
        """One row per key, deterministic across retries: latest ``ts``
        wins when present; every remaining column is a descending
        tiebreak so the survivor is a pure function of the batch."""
        others = [c for c in batch_df.columns if c not in keys]
        if not others:
            return batch_df.dropDuplicates(keys)
        order = [
            F.col(c).desc_nulls_last()
            for c in (["ts"] if "ts" in others else []) + [c for c in others if c != "ts"]
        ]
        w = Window.partitionBy(*keys).orderBy(*order)
        return (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = _dedup_in_batch(batch_df)
        fs, jtarget = _fs_and_path(spark, target_path)
        if not fs.exists(jtarget) and not _recover_interrupted_commit(
            spark, fs, jtarget
        ):
            batch_df.write.mode("overwrite").parquet(target_path)
            return
        existing = spark.read.parquet(target_path)
        merged = merge_upsert(existing, batch_df, keys).drop("merge_action")
        tmp = f"{target_path}_tmp_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        # commit = two renames (retire old, promote new): the window
        # where the target is missing is two metadata ops, not a full
        # rewrite; a crash inside it is healed by
        # _recover_interrupted_commit on the next batch.
        fs_tmp, jtmp = _fs_and_path(spark, tmp)
        old = f"{target_path}_old_{batch_id}"
        _, jold = _fs_and_path(spark, old)
        fs.delete(jold, True)
        fs.rename(jtarget, jold)
        fs.rename(jtmp, jtarget)
        fs.delete(jold, True)

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_by_id(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming dedup by deterministic id — the streaming form of the
    reference's re-run idempotence (C14 unique_id dropDuplicates,
    weather_data_prec_temp_etl_view.py:72-76). In a stream,
    ``dropDuplicatesWithinWatermark`` bounds the dedup state: an id
    reappearing within the watermark horizon is dropped, state for
    older ids is evicted — unbounded-corpus-safe, unlike a plain
    streaming dropDuplicates whose state grows forever. Batch input
    takes the plain dropDuplicates (whole-input semantics)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def purchase_signup_interval_join(
    purchases: DataFrame,
    signups: DataFrame,
) -> DataFrame:
    """Stream-stream INTERVAL join: every purchase paired with every
    signup of the same user in [purchase_ts - 30 days, purchase_ts].
    Both sides carry 2-hour watermarks and the join condition bounds event
    time in both directions — exactly what Structured Streaming needs
    to evict join state (an unbounded-time condition would hold every
    row forever). Batch inputs run the identical join, which is what
    the equivalence test pins."""
    p = purchases.select("event_id", "user_id", "ts", "value")
    s = signups.select(
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("signup_ts"),
        F.col("value").alias("signup_value"),
    )
    if purchases.isStreaming:
        p = p.withWatermark("ts", "2 hours")
    if signups.isStreaming:
        s = s.withWatermark("signup_ts", "2 hours")
    return p.join(
        s,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("signup_ts") <= F.col("ts"))
        & (F.col("ts") <= F.col("signup_ts") + F.expr("INTERVAL 30 days")),
        "inner",
    ).drop("s_user")
