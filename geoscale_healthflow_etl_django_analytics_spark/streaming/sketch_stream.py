"""Streaming Count-Min heavy hitters — the sketch family's §2.10 form.

The Count-Min sketch (``functions/cms_exact.py``) exists at 100 TB
for its streaming/pre-aggregation shape: per-partition (here per-
micro-batch) sketches merge by cell-wise addition and a long-running
ingest tracks heavy hitters without ever materializing the distinct-
token set.  This module runs that shape for real: a document file
stream is drained with an AvailableNow ``foreachBatch``
(``streaming.ingest.drain_parquet_stream``) that computes the
constant-size per-batch sketch and appends it to a parquet store —
one row (depth x width map, n_total) per micro-batch, written into a
``batch_id=N`` subdirectory with overwrite so a foreachBatch retry is
idempotent (the ingest-gate convention).  The sketch uses the same
md5 buckets as the registered ``text_cms_heavy_hitters``.  The merged
sketch is an exact cell-wise sum over the stored rows (integer
addition commutes and associates), so streaming == batch holds
BYTE-EXACTLY for the sketch, and therefore for every point estimate —
pinned by tests/test_streaming_cms.py.  The HyperLogLog registers
(``functions/hll.py``) stream the same way and merge by cell-wise max.

At scale the store stays tiny forever: each row is <= depth*width
cells regardless of corpus size, so a year of micro-batches is still
megabytes, and re-merging is a constant-size groupBy.  A compaction
step (replace the store with its one-row merge) is the obvious
production refinement; it changes nothing about the math.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cms_exact import cms_sketch
from ..functions.hll import hll_registers
from ..functions.text import tokens
from .ingest import drain_parquet_stream


def merge_sketches(per_batch: DataFrame) -> DataFrame:
    """Cell-wise sum of ``(cms: map<long,long>, n_total)`` rows into
    the single merged sketch — the CMS mergeability property as one
    explode + groupBy over at most depth*width keys per row."""
    cells = per_batch.select(
        F.explode(F.col("cms")).alias("cell", "cnt")
    )
    merged = cells.groupBy("cell").agg(F.sum("cnt").alias("cnt"))
    totals = per_batch.agg(
        F.sum("n_total").cast("long").alias("n_total")
    )
    return merged.agg(
        F.map_from_arrays(
            F.collect_list("cell"), F.collect_list("cnt")
        ).alias("cms")
    ).crossJoin(F.broadcast(totals))


def _drain_token_state(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    store: str,
    checkpoint: str,
    state,
) -> str:
    """Drain a parquet document stream; per micro-batch, lower-case
    tokenize ``text``, reduce the tokens with ``state`` and
    overwrite the result under ``work_dir/store/batch_id=N``.  Returns
    the store path."""
    store_dir = os.path.join(work_dir, store)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("token")
        )
        state(toks).write.mode("overwrite").parquet(
            os.path.join(store_dir, f"batch_id={batch_id}")
        )

    drain_parquet_stream(
        spark, source_dir, os.path.join(work_dir, checkpoint), _write
    )
    return store_dir


def run_streaming_cms(spark: SparkSession, source_dir: str, work_dir: str) -> str:
    """Drain a parquet document stream, appending one constant-size
    sketch row per micro-batch under ``work_dir/sketches``.  Returns
    the sketch-store path; ``merge_sketches(spark.read.parquet(path))``
    is the corpus sketch."""
    return _drain_token_state(
        spark, source_dir, work_dir, "sketches", "checkpoint", cms_sketch
    )


def merge_hll_registers(per_batch: DataFrame) -> DataFrame:
    """Cell-wise MAX of per-batch ``(j, mj)`` register rows — the HLL
    counterpart of :func:`merge_sketches` (the CMS merges by sum, the
    HLL by max; both commute and associate, which is the whole
    streaming claim).  Feed the result to
    ``functions.hll.hll_summary`` for the merged estimate."""
    return per_batch.groupBy("j").agg(F.max("mj").alias("mj"))


def run_streaming_hll(spark: SparkSession, source_dir: str, work_dir: str) -> str:
    """Drain a parquet document stream, appending one <= HLL_M-row
    register table per micro-batch under ``work_dir/hll`` — the
    streaming distinct-token count: a year of micro-batches is still
    kilobytes per batch, and the corpus cardinality is
    ``hll_summary(merge_hll_registers(read(path)))`` at any moment,
    with no distinct-token state anywhere."""
    return _drain_token_state(
        spark, source_dir, work_dir, "hll", "hll_checkpoint", hll_registers
    )
