"""Artifact maintenance (functions/compaction.py): the one re-run
ledger both persisted artifacts share, and small-file compaction —
bit-identical content, file counts actually drop, and the ledger is
unchanged by it."""

from __future__ import annotations

import ast
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
PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "geoscale_healthflow_etl_django_analytics_spark",
)


def _ledger(path):
    with open(os.path.join(path, "_meta.json")) as fh:
        return json.load(fh)


def test_ivfpq_compaction_preserves_queries(spark, tmp_path):
    """After build + add (fragmented lists), compaction shrinks the
    file count and the query path returns bit-identical rows; the
    ledger is unchanged, so a re-ensure is still a no-op."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    args = (emb, lambda c: c % 10 < 8, [lambda c: c % 10 >= 8], path)
    pq_index.ensure_ivfpq_index(*args)
    q = lambda: [  # noqa: E731
        tuple(r)
        for r in pq_index.query_ivfpq_index(
            spark, path, pq_index.query_row(emb, 0), exclude_vec_id=0
        ).collect()
    ]
    before_rows = q()
    ledger = _ledger(path)
    stats = compaction.compact_ivfpq_index(spark, path)
    for sub in ("codes", "vectors"):
        assert stats[sub]["files_after"] < stats[sub]["files_before"]
    assert q() == before_rows
    assert _ledger(path) == ledger
    pq_index.ensure_ivfpq_index(*args)
    assert compaction.parquet_file_count(os.path.join(path, "codes")) == (
        stats["codes"]["files_after"]
    )


def test_cluster_table_compaction_preserves_assignment(spark, tmp_path):
    """After build + fold, compaction shrinks clusters/bands file
    counts and a subsequent batch assignment is row-identical."""
    docs = load_table(spark, SF, "documents")
    idx_pred = lambda c: c % 10 < 6  # noqa: E731
    b1_pred = lambda c: (c % 10 >= 6) & (c % 10 < 8)  # noqa: E731
    b2_pred = lambda c: c % 10 >= 8  # noqa: E731
    path = str(tmp_path / "fold")
    splitting.ensure_cluster_table(docs, idx_pred, [b1_pred], path)

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
    ledger = _ledger(path)
    stats = compaction.compact_cluster_table(spark, path)
    # clusters = build write + fold append -> strictly compacts to 1;
    # bands may already be at its floor at gate SF (<= is the pin)
    assert stats["clusters"]["files_after"] == 1
    assert stats["clusters"]["files_after"] < stats["clusters"]["files_before"]
    assert stats["bands"]["files_after"] <= stats["bands"]["files_before"]
    assert assign() == before
    assert _ledger(path) == ledger


def test_ledger_runs_the_chain_in_order_and_writes_once(spark, tmp_path):
    """ensure_artifact builds over the index rows, appends each batch
    over the corpus visible at its ingest, compacts, and only then
    writes the ledger (no step ever sees one); a current ledger makes
    the re-run a no-op; a row-count or build-setting change removes
    the ledger and rebuilds from scratch."""
    path = str(tmp_path / "art")
    ledger = os.path.join(path, "_meta.json")
    calls = []

    def build(frame, p):
        assert not os.path.exists(ledger)
        os.makedirs(p, exist_ok=True)
        calls.append(("build", frame.count()))

    def append(visible, bp, p):
        assert not os.path.exists(ledger)
        n_batch = visible.filter(bp(F.col("id"))).count()
        calls.append(("append", visible.count(), n_batch))

    def compact(spark_, p):
        assert not os.path.exists(ledger)
        calls.append(("compact",))

    def ensure(frame, iters):
        compaction.ensure_artifact(
            frame, "id", lambda c: c % 10 < 4,
            [lambda c: (c % 10 >= 4) & (c % 10 < 7), lambda c: c % 10 >= 7],
            path, build=build, append=append, compact=compact, iters=iters,
        )

    corpus = spark.range(100)
    ensure(corpus, 2)
    chain = [("build", 40), ("append", 70, 30), ("append", 100, 30), ("compact",)]
    assert calls == chain
    assert _ledger(path) == {"rows": 100, "batches": 2, "iters": 2}

    calls.clear()
    ensure(corpus, 2)  # replay refusal
    assert calls == []

    ensure(spark.range(90), 2)  # row count changed -> rebuild
    assert calls == [("build", 36), ("append", 63, 27), ("append", 90, 27),
                     ("compact",)]
    assert _ledger(path)["rows"] == 90

    calls.clear()
    ensure(spark.range(90), 1)  # build setting changed -> rebuild
    assert calls[0] == ("build", 36) and _ledger(path)["iters"] == 1


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
    of batching); file counts drop; the ledger counts 2 batches and
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
    pq_index.ensure_ivfpq_index(emb, idx, [b1, b2], ref, compact=False)
    ref_rows = q(ref)

    # single combined add (batching independence)
    one = str(tmp_path / "one")
    pq_index.ensure_ivfpq_index(
        emb, idx, [lambda c: c % 10 >= 6], one, compact=False
    )
    assert q(one) == ref_rows

    # the registered form: two adds + compaction
    path = str(tmp_path / "life")
    pq_index.ensure_ivfpq_index(emb, idx, [b1, b2], path, compact=True)
    assert q(path) == ref_rows
    for sub in ("codes", "vectors"):
        assert compaction.parquet_file_count(
            os.path.join(path, sub)
        ) < compaction.parquet_file_count(os.path.join(ref, sub))
    assert _ledger(path) == {
        "rows": emb.count(), "batches": 2, "iters": pq_index.LLOYD_ITERS
    }

    # replay refusal: re-running the completed lifecycle is a no-op
    # (stored rows byte-identical, no double-append)
    before = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(path, "codes")).collect()
    }
    pq_index.ensure_ivfpq_index(emb, idx, [b1, b2], path, compact=True)
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


def _ledger_violations(sources: dict[str, str]) -> list[str]:
    """Where a module other than functions/compaction.py names the
    ``_meta.json`` ledger outside a docstring, where compaction.py names
    it outside ``ensure_artifact``, and which artifact family (a module
    handing steps to the ledger or naming it) defines more than one
    ``ensure_*``."""
    out = []
    for rel, src in sorted(sources.items()):
        tree = ast.parse(src)
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        owners = {}
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                for node in ast.walk(fn):
                    owners.setdefault(id(node), fn.name)
        family = False
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and node.id == "ensure_artifact":
                family = True
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
                continue
            if "_meta.json" not in node.value or id(node) in docstrings:
                continue
            family = True
            where = owners.get(id(node), "<module>")
            if (rel, where) != ("functions/compaction.py", "ensure_artifact"):
                out.append(f"{rel}:{where} names _meta.json")
        ensures = [
            n.name for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name.startswith("ensure_")
        ]
        if family and rel != "functions/compaction.py" and len(ensures) > 1:
            out.append(f"{rel} defines {len(ensures)} ensure_*: {ensures}")
    return out


def test_one_ledger_home():
    """Static (source only, no Spark): the re-run ledger of persisted
    artifacts is read and written in one function,
    compaction.ensure_artifact, and each artifact family has exactly
    one ensure_* entry point."""
    sources = {}
    for d, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(d, f)
                with open(full) as fh:
                    sources[os.path.relpath(full, PKG)] = fh.read()
    assert _ledger_violations(sources) == []
    # the scan is not vacuous: the one home is seen, and a second
    # ensure_* or ledger site in a family is reported
    src = sources["functions/compaction.py"]
    assert src.count('"_meta.json"') == 1
    fam = (
        'def ensure_a(p):\n    ensure_artifact(p)\n'
        'def ensure_b(p):\n    open(p + "/_meta.json")\n'
    )
    assert _ledger_violations({"operators/fam.py": fam}) == [
        "operators/fam.py:ensure_b names _meta.json",
        "operators/fam.py defines 2 ensure_*: ['ensure_a', 'ensure_b']",
    ]
