"""Streaming form of the ingest ACCEPT gate (streaming/ingest.py) —
pins availableNow-streaming == one-shot-batch equality against the
registered dedup_incremental_ingest query (the ev_* precedent:
identical results from the streaming and batch shapes of the same
operator)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY
from geoscale_healthflow_etl_django_analytics_spark.streaming.ingest import (
    run_streaming_ingest,
)

SF = "/root/testdata/sf0.001"


def _setup(spark, tmp_path, n_files):
    """Split the batch partition (doc_id % 10 >= 8) into n_files
    contiguous-id parquet files with strictly increasing mtimes, so
    the file stream delivers micro-batches in doc_id order — the
    ordering under which the streaming gate's greedy rule equals the
    batch form's smaller-id-wins rule."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    index_docs = docs.filter(F.col("doc_id") % 10 < 8)
    batch_docs = docs.filter(F.col("doc_id") % 10 >= 8)
    ids = sorted(r.doc_id for r in batch_docs.select("doc_id").collect())
    src = os.path.join(str(tmp_path), "arrivals")
    os.makedirs(src)
    chunk = max(1, (len(ids) + n_files - 1) // n_files)
    t0 = 1_700_000_000
    for i in range(n_files):
        part = ids[i * chunk : (i + 1) * chunk]
        if not part:
            break
        f = os.path.join(src, f"arrival_{i:03d}.parquet")
        batch_docs.filter(F.col("doc_id").isin(part)).coalesce(
            1
        ).write.mode("overwrite").parquet(f)
        for root, _dirs, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (t0 + i, t0 + i))
        os.utime(f, (t0 + i, t0 + i))
    return index_docs, src


def _expected(spark):
    return {
        (r.doc_id, r.n_chars)
        for r in REGISTRY["dedup_incremental_ingest"].builder(spark, SF).collect()
    }


def test_streaming_equals_batch_single_microbatch(spark, tmp_path):
    """All arrivals in one micro-batch — the degenerate case must
    reduce to the batch query exactly."""
    index_docs, src = _setup(spark, tmp_path, n_files=1)
    out = run_streaming_ingest(
        spark, src, index_docs, os.path.join(str(tmp_path), "work")
    )
    got = {
        (r.doc_id, r.n_chars)
        for r in spark.read.parquet(out)
        .select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
        .collect()
    }
    assert got == _expected(spark)


def test_streaming_equals_batch_multi_microbatch(spark, tmp_path):
    """Four id-ordered micro-batches: cross-micro-batch exact dups and
    near-dups must fall to the seen-store index side, reproducing the
    one-shot gate's accept set exactly."""
    index_docs, src = _setup(spark, tmp_path, n_files=4)
    out = run_streaming_ingest(
        spark, src, index_docs, os.path.join(str(tmp_path), "work")
    )
    got = {
        (r.doc_id, r.n_chars)
        for r in spark.read.parquet(out)
        .select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
        .collect()
    }
    assert got == _expected(spark)
