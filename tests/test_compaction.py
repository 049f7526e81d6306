"""Small-file compaction (functions/compaction.py): bit-identical
content, file counts actually drop, and composition with the r11
maintenance verbs (fold/add ledgers unaffected)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.functions import compaction
from geoscale_healthflow_etl_django_analytics_spark.operators import (
    pq_index,
    splitting,
)
from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_ivfpq_compaction_preserves_queries(spark, tmp_path):
    """After build + add (fragmented lists), compaction shrinks the
    file count and the query path returns bit-identical rows."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    pq_index.ensure_added_ivfpq_index(
        emb, lambda c: c % 10 < 8, path
    )
    q = lambda: [  # noqa: E731
        tuple(r)
        for r in pq_index.query_ivfpq_index(
            spark, path, pq_index.query_row(emb, 0), exclude_vec_id=0
        ).collect()
    ]
    before_rows = q()
    stats = compaction.compact_ivfpq_index(spark, path)
    for sub in ("codes", "vectors"):
        assert stats[sub]["files_after"] < stats[sub]["files_before"]
    assert q() == before_rows
    # the ensure ledger still recognizes the artifact (row counts and
    # the add counter are untouched by compaction)
    meta = json.load(open(os.path.join(path, "_meta.json")))
    assert meta["adds"] == 1 and meta["n_vectors"] == emb.count()


def test_cluster_table_compaction_preserves_assignment(spark, tmp_path):
    """After build + fold, compaction shrinks clusters/bands file
    counts and a subsequent batch assignment is row-identical."""
    docs = load_table(spark, SF, "documents")
    idx_pred = lambda c: c % 10 < 6  # noqa: E731
    b1_pred = lambda c: (c % 10 >= 6) & (c % 10 < 8)  # noqa: E731
    b2_pred = lambda c: c % 10 >= 8  # noqa: E731
    path = str(tmp_path / "fold")
    splitting.ensure_folded_cluster_table(docs, idx_pred, b1_pred, path)

    def assign():
        iclu = spark.read.parquet(os.path.join(path, "clusters"))
        pairs = splitting.incremental_pairs_vs_index(docs, b2_pred, path)
        return {
            tuple(r)
            for r in splitting.incremental_leakage_safe_split(
                docs, iclu, pairs, b2_pred
            ).collect()
        }

    before = assign()
    stats = compaction.compact_cluster_table(spark, path)
    # clusters = build write + fold append -> strictly compacts to 1;
    # bands may already be at its floor at gate SF (<= is the pin)
    assert stats["clusters"]["files_after"] == 1
    assert stats["clusters"]["files_after"] < stats["clusters"]["files_before"]
    assert stats["bands"]["files_after"] <= stats["bands"]["files_before"]
    assert assign() == before


def test_generic_compaction_roundtrip(spark, tmp_path):
    """compact_parquet_dir preserves content exactly for a plain and
    a partitioned table, and hits the requested file counts."""
    path = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 4).alias("p")
    )
    for _ in range(3):  # three appends -> fragmented
        df.write.mode("append").partitionBy("p").parquet(path)
    before = {
        tuple(r) for r in spark.read.parquet(path).collect()
    }
    stats = compaction.compact_parquet_dir(spark, path, partition_by="p")
    assert stats["files_after"] == 4  # one file per partition value
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == before


def test_ivfpq_lifecycle_multi_add_compaction_bit_identity(spark, tmp_path):
    """The steady-state index loop (VERDICT r11 next-round #2): build
    over 60%, add two batches, compact — queries are bit-identical to
    the UNCOMPACTED twice-added index AND to a single combined add
    (the frozen quantizer makes per-vector encode/routing independent
    of batching); file counts drop; the ledger counts adds == 2 and
    refuses a replay."""
    emb = load_table(spark, SF, "embeddings")
    idx = lambda c: c % 10 < 6  # noqa: E731
    b1 = lambda c: (c % 10 >= 6) & (c % 10 < 8)  # noqa: E731
    b2 = lambda c: c % 10 >= 8  # noqa: E731

    def q(path):
        return [
            tuple(r)
            for r in pq_index.query_ivfpq_index(
                spark, path, pq_index.query_row(emb, 0), exclude_vec_id=0
            ).collect()
        ]

    # uncompacted two-add reference
    ref = str(tmp_path / "ref")
    pq_index.ensure_ivfpq_index_lifecycle(
        emb, idx, [b1, b2], ref, compact=False
    )
    ref_rows = q(ref)

    # single combined add (batching independence)
    one = str(tmp_path / "one")
    pq_index.ensure_ivfpq_index_lifecycle(
        emb, idx, [lambda c: c % 10 >= 6], one, compact=False
    )
    assert q(one) == ref_rows

    # the registered form: two adds + compaction
    path = str(tmp_path / "life")
    pq_index.ensure_ivfpq_index_lifecycle(
        emb, idx, [b1, b2], path, compact=True
    )
    assert q(path) == ref_rows
    for sub in ("codes", "vectors"):
        assert compaction.parquet_file_count(
            os.path.join(path, sub)
        ) < compaction.parquet_file_count(os.path.join(ref, sub))
    meta = json.load(open(os.path.join(path, "_meta.json")))
    assert meta["adds"] == 2 and meta["n_vectors"] == emb.count()

    # replay refusal: re-running the completed lifecycle is a no-op
    # (stored rows byte-identical, no double-append)
    before = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(path, "codes")).collect()
    }
    pq_index.ensure_ivfpq_index_lifecycle(
        emb, idx, [b1, b2], path, compact=True
    )
    assert {
        tuple(r)
        for r in spark.read.parquet(os.path.join(path, "codes")).collect()
    } == before


def test_files_per_partition_salt_spreads_files(spark, tmp_path):
    """ADVICE r11 #2: with partition_by, files_per_partition > 1 must
    actually spread each partition value over that many files (the
    former repartition(n, partition_by) hashed on the partition column
    alone, so the parameter was a no-op)."""
    path = str(tmp_path / "t")
    df = spark.range(4000).select(F.col("id"), (F.col("id") % 4).alias("p"))
    df.write.mode("overwrite").partitionBy("p").parquet(path)
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    stats = compaction.compact_parquet_dir(
        spark, path, partition_by="p", files_per_partition=3
    )
    # 4 partition values x 3 salt buckets; every bucket is non-empty
    # at 1000 rows per value, and the salt is content-hash
    # deterministic
    assert stats["files_after"] == 12
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == before
    # no swap debris left behind on the happy path
    parent = os.path.dirname(path)
    assert not [d for d in os.listdir(parent) if "__compact" in d]
