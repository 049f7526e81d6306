"""Sketches (functions/cms_exact.py, functions/hll.py).

Count-Min: the deterministic never-underestimate guarantee over ALL
tokens, cell-wise mergeability (the streaming claim), constant state
size and the unseen-token bound.  HyperLogLog: register mergeability
by cell-wise max, duplicate-invariance, constant state, and raw-regime
accuracy on a high-cardinality synthetic stream (the corpus vocabulary
is tiny, so the registered query exercises the linear-counting regime;
this file pins the other branch)."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.functions import cms_exact as sk
from geoscale_healthflow_etl_django_analytics_spark.functions import hll
from geoscale_healthflow_etl_django_analytics_spark.functions.text import tokens
from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _toks(spark):
    return load_table(spark, SF, "documents").select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )


def test_state_is_constant_size(spark):
    row = sk.cms_sketch(_toks(spark).select("token")).collect()[0]
    assert len(row["cms"]) <= sk.CMS_DEPTH * sk.CMS_WIDTH


def test_unseen_token_estimates_reasonably(spark):
    """A token the stream never contained estimates its collision
    mass only — tiny relative to N (and never negative)."""
    toks = _toks(spark).select("token")
    sketch = sk.cms_sketch(toks)
    probe = toks.sparkSession.createDataFrame(
        [("___never-in-corpus___",)], "token string"
    )
    est = sk.cms_estimate(F.col("token"), F.col("cms"))
    r = probe.crossJoin(F.broadcast(sketch)).select(
        est.alias("e"), "n_total"
    ).collect()[0]
    assert 0 <= r["e"] <= 2.718281828459045 / sk.CMS_WIDTH * r["n_total"]


def test_streaming_batches_merge_to_corpus_sketch(spark):
    """The streaming claim, run for real: drain the corpus as a file
    stream (2 files -> 2 micro-batches), build one constant-size CMS
    per micro-batch in foreachBatch, merge cell-wise on the driver
    (the sketch is 4x2048 cells at ANY corpus size, so collecting it
    per batch is bounded by construction), and the accumulated sketch
    must equal the whole-corpus sketch exactly — heavy-hitter
    tracking under ingest without ever materializing the distinct
    token set."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="hf-cms-stream-")
    ck = tempfile.mkdtemp(prefix="hf-cms-ck-")
    try:
        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(d)

        acc: dict[int, int] = {}
        totals = []

        def merge_batch(batch_df, _bid):
            row = sk.cms_sketch(
                batch_df.select(
                    F.explode(tokens(F.lower(F.col("text")))).alias("token")
                )
            ).collect()[0]
            for cell, cnt in row["cms"].items():
                acc[cell] = acc.get(cell, 0) + cnt
            totals.append(row["n_total"])

        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        assert len(totals) >= 2, "expected >= 2 micro-batches"
        whole = sk.cms_sketch(
            docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        ).collect()[0]
        assert acc == dict(whole["cms"])
        assert sum(totals) == whole["n_total"]
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


# ---------------------------------------------------------------- HLL


def test_hll_registers_merge_by_max(spark):
    """Two half-stream register tables union + re-max into exactly the
    whole-stream register table — the property that makes HLL the
    streaming/pre-agg distinct count."""
    toks = _toks(spark)
    whole = {
        r["j"]: r["mj"]
        for r in hll.hll_registers(toks.select("token")).collect()
    }
    a = hll.hll_registers(
        toks.filter(F.col("doc_id") % 2 == 0).select("token")
    )
    b = hll.hll_registers(
        toks.filter(F.col("doc_id") % 2 == 1).select("token")
    )
    merged = {
        r["j"]: r["mj"]
        for r in a.unionByName(b)
        .groupBy("j")
        .agg(F.max("mj").alias("mj"))
        .collect()
    }
    assert merged == whole


def test_hll_duplicates_are_free(spark):
    """Register state depends only on the distinct-token SET: the
    corpus stream and its distinct projection build identical
    registers (max of equal ranks)."""
    toks = _toks(spark).select("token")
    stream = {r["j"]: r["mj"] for r in hll.hll_registers(toks).collect()}
    dedup = {
        r["j"]: r["mj"]
        for r in hll.hll_registers(toks.distinct()).collect()
    }
    assert stream == dedup


def test_hll_state_is_constant_size(spark):
    assert hll.hll_registers(_toks(spark).select("token")).count() <= hll.HLL_M


def test_hll_raw_regime_accuracy(spark):
    """20k distinct keys — far above the 2.5m linear-counting switch —
    must estimate within 3 sigma (3 * 1.04/sqrt(1024) ~ 9.75%).
    Deterministic for this fixed input (md5 hashes, no RNG)."""
    ids = spark.range(20_000).select(
        F.concat(F.lit("hll-key-"), F.col("id")).alias("token")
    )
    row = hll.hll_summary(hll.hll_registers(ids)).collect()[0]
    assert not row["used_linear_counting"]
    assert abs(row["hll_estimate"] - 20_000) / 20_000 < 3 * 1.04 / hll.HLL_M**0.5


def test_hll_summary_integer_reduction_bounds(spark):
    """The harmonic reduction is a BIGINT by construction: every term
    2^(RHO_MAX - mj), total <= m * 2^RHO_MAX = 2^61 — no overflow,
    no float accumulation anywhere before the final division."""
    ids = spark.range(1000).select(F.col("id").cast("string").alias("token"))
    row = hll.hll_summary(hll.hll_registers(ids)).collect()[0]
    assert 0 < row["register_sum"] <= hll.HLL_M * (1 << hll.HLL_RHO_MAX)
    assert row["seen_registers"] + row["zero_registers"] == hll.HLL_M


def test_hll_summary_empty_corpus_is_zero(spark):
    """ADVICE r9 #6: an empty register table (zero-token corpus) must
    yield the linear-counting answer 0, not NULLs."""
    from geoscale_healthflow_etl_django_analytics_spark.functions import hll

    empty = spark.createDataFrame([], "j int, mj int")
    r = hll.hll_summary(hll.hll_registers(
        spark.createDataFrame([], "token string")
    )).collect()[0]
    assert r["seen_registers"] == 0
    assert r["zero_registers"] == hll.HLL_M
    assert r["register_sum"] == hll.HLL_M * (1 << hll.HLL_RHO_MAX)
    assert r["used_linear_counting"] is True
    assert r["hll_estimate"] == 0.0
    r2 = hll.hll_summary(empty).collect()[0]
    assert r2["hll_estimate"] == 0.0


def test_cms_exact_never_underestimates_every_token(spark):
    """The md5-bucket CMS (functions/cms_exact.py) keeps the
    deterministic Cormode-Muthukrishnan guarantee over EVERY distinct
    token, and its buckets replay the md5-slice arithmetic."""
    from pyspark.sql import functions as F

    from geoscale_healthflow_etl_django_analytics_spark.functions import (
        cms_exact as ck,
    )

    toks = _toks(spark).select("token")
    sk = ck.cms_sketch(toks)
    exact = toks.groupBy("token").agg(F.count("*").alias("c"))
    est = ck.cms_estimate(F.col("token"), F.col("cms"))
    bad = (
        exact.crossJoin(F.broadcast(sk))
        .filter(est < F.col("c"))
        .count()
    )
    assert bad == 0


def test_cms_exact_merges_by_cellwise_addition(spark):
    """Two half-stream sketches summed cell-wise equal the one-pass
    sketch — the streaming/pre-aggregation claim."""
    from pyspark.sql import functions as F

    from geoscale_healthflow_etl_django_analytics_spark.functions import (
        cms_exact as ck,
    )

    toks = _toks(spark).select("token", F.monotonically_increasing_id().alias("i"))
    whole = ck.cms_sketch(toks.select("token")).collect()[0]["cms"]
    a = ck.cms_sketch(toks.filter(F.col("i") % 2 == 0).select("token")).collect()[0]["cms"]
    b = ck.cms_sketch(toks.filter(F.col("i") % 2 == 1).select("token")).collect()[0]["cms"]
    merged = dict(a)
    for k, v in b.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == dict(whole)
