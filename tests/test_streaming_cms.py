"""Streaming Count-Min sketch (streaming/sketch_stream.py): the
micro-batch-merged sketch must equal the one-shot batch sketch
BYTE-EXACTLY — cell map, n_total, and every point estimate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.functions import cms_exact as sk
from geoscale_healthflow_etl_django_analytics_spark.functions import hll
from geoscale_healthflow_etl_django_analytics_spark.functions.text import tokens
from geoscale_healthflow_etl_django_analytics_spark.streaming.sketch_stream import (
    merge_sketches,
    run_streaming_cms,
)

SF = "/root/testdata/sf0.001"


def _arrivals(spark, tmp_path, n_files=3):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    src = os.path.join(str(tmp_path), "arrivals")
    os.makedirs(src)
    chunk = (len(ids) + n_files - 1) // n_files
    t0 = 1_700_000_000
    for i in range(n_files):
        part = ids[i * chunk : (i + 1) * chunk]
        f = os.path.join(src, f"arrival_{i:03d}.parquet")
        docs.filter(F.col("doc_id").isin(part)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f)
        for root, _d, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (t0 + i, t0 + i))
        os.utime(f, (t0 + i, t0 + i))
    return docs, src


def test_streaming_cms_equals_batch(spark, tmp_path):
    docs, src = _arrivals(spark, tmp_path)
    sketch_dir = run_streaming_cms(
        spark, src, os.path.join(str(tmp_path), "work")
    )
    stored = spark.read.parquet(sketch_dir)
    assert stored.count() == 3  # one constant-size row per micro-batch
    merged = merge_sketches(stored.select("cms", "n_total")).collect()[0]

    toks = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    batch = sk.cms_sketch(toks).collect()[0]

    assert merged.n_total == batch.n_total
    assert dict(merged.cms) == dict(batch.cms)


def test_streaming_cms_estimates_equal(spark, tmp_path):
    """Point estimates through the merged sketch equal the batch
    sketch's for the exact top-20 tokens (and both never
    underestimate)."""
    docs, src = _arrivals(spark, tmp_path)
    sketch_dir = run_streaming_cms(
        spark, src, os.path.join(str(tmp_path), "work")
    )
    merged = merge_sketches(
        spark.read.parquet(sketch_dir).select("cms", "n_total")
    )
    toks = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact"))
        .orderBy(F.desc("exact"), F.asc("token"))
        .limit(20)
    )
    batch = sk.cms_sketch(toks)
    est_m = top.crossJoin(F.broadcast(merged)).select(
        "token",
        "exact",
        sk.cms_estimate(F.col("token"), F.col("cms")).alias("est"),
    )
    est_b = top.crossJoin(F.broadcast(batch)).select(
        "token",
        sk.cms_estimate(F.col("token"), F.col("cms")).alias("est"),
    )
    m = {r.token: (r.exact, r.est) for r in est_m.collect()}
    b = {r.token: r.est for r in est_b.collect()}
    assert {t: e for t, (_x, e) in m.items()} == b
    assert all(est >= exact for exact, est in m.values())


def test_streaming_hll_equals_batch(spark, tmp_path):
    """HLL streaming twin: per-micro-batch register tables merged by
    cell-wise max == the one-shot batch registers, hence the merged
    ESTIMATE equals the batch estimate exactly."""
    from geoscale_healthflow_etl_django_analytics_spark.streaming.sketch_stream import (
        merge_hll_registers,
        run_streaming_hll,
    )

    docs, src = _arrivals(spark, tmp_path)
    hll_dir = run_streaming_hll(
        spark, src, os.path.join(str(tmp_path), "work")
    )
    stored = spark.read.parquet(hll_dir)
    assert stored.select("batch_id").distinct().count() == 3
    merged = merge_hll_registers(stored.select("j", "mj"))

    toks = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    batch_regs = hll.hll_registers(toks)
    assert {(r.j, r.mj) for r in merged.collect()} == {
        (r.j, r.mj) for r in batch_regs.collect()
    }
    m_est = hll.hll_summary(merged).collect()[0]
    b_est = hll.hll_summary(batch_regs).collect()[0]
    assert m_est == b_est
