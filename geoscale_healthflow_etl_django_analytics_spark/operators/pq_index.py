"""Persisted IVF-PQ index: build ONCE on disk, query many times.

The missing production half of ``operators/pq.py`` (VERDICT r9
next-round #1): ``pq.ivfpq_topk`` with ``pq_train_codebooks`` runs the
trained routing + compact-code + integer-ADC chain value-exactly, but
every invocation re-pays Lloyd training and corpus encoding in-plan —
at bench x200 that form was build-dominated (336 s), and at 100 TB
nobody trains a quantizer per query.  A real ANN deployment (FAISS
``IVFx,PQy`` on disk, DiskANN, ScaNN serving trees) separates the
lifecycle:

- **build** (once, amortized over every query the index ever
  serves): train codebooks, encode the corpus, assign coarse lists,
  and persist four artifacts under one root —
  ``centroids/`` (N_CENTROIDS rows), ``codebooks/`` (PQ_M*PQ_KS rows),
  ``codes/`` and ``vectors/`` BOTH partitioned by the coarse list id,
  so each inverted list is a partition directory
  (``similarity.write_bucketed_index``'s layout, proven
  partition-pruned in its tests);
- **query** (cheap, repeated): pick ``NPROBE`` lists from the tiny
  centroid table, read ONLY those partition directories (literal
  ``isin`` filters -> static partition pruning, file-listing
  visible), broadcast the m*ks LUT, ADC-score the 4-byte codes,
  exact-rerank the shortlist against the probed lists' full vectors.

Maintenance: :func:`ensure_ivfpq_index` is the one entry point.  It
builds over an index subset and then adds each arriving batch in
order (FAISS ``add()``: the quantizer stays frozen, rows are
appended), optionally compacting the fragmented lists at the end.
:func:`write_ivfpq_index` and :func:`add_to_ivfpq_index` write data
only; the re-run ledger (row counts, batch count, Lloyd rounds) is
``functions.compaction.ensure_artifact``, shared with the split
family's cluster table.

Value contract: the persisted codes/centroids/codebooks are the SAME
deterministic fragments the in-plan chain produces (parquet round-
trips doubles exactly), so a query against the index returns
BIT-IDENTICAL rows to ``pq.ivfpq_topk(..., codebooks=trained)`` and
replays under the identical DuckDB oracle (``_ivfpq_trained_sql``) —
the index is a materialization, not an approximation.

Driver-side work is bounded by construction: probe selection
collects ``NPROBE`` ints from an ``N_CENTROIDS``-row table (the
``query_bucketed_index`` precedent); everything corpus-sized stays
distributed.

Reference scope note: the reference app has no ANN index at all
(beyond-reference brief item); the design here follows the public
FAISS/DiskANN lifecycle split.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.compaction import compact_ivfpq_index, ensure_artifact
from ..functions.vectors import normalized
from .pq import PQ_K, PQ_RERANK, _adc_topk, _query_lut, _subspaces
from .similarity import (
    LLOYD_ITERS,
    N_CENTROIDS,
    NPROBE,
    _nearest_centroid,
    _probe,
    _seed_centroids,
    _unit_vectors,
    ivf_assignments,
)


def write_ivfpq_index(embeddings: DataFrame, path: str) -> None:
    """Train + encode + persist the index under ``path`` (data only).

    One Lloyd training pass (``pq.pq_train_codebooks``, ``LLOYD_ITERS``
    rounds), one coarse assignment pass, one encode pass; the
    corpus-sized artifacts (codes, vectors) write partitioned by
    ``list_id`` so a probe later reads ``NPROBE`` directories, not the
    corpus.
    """
    from .pq import pq_codes, pq_train_codebooks

    trained = pq_train_codebooks(embeddings, iters=LLOYD_ITERS)
    assign = ivf_assignments(embeddings)
    # inverted-list membership for both corpus-sized artifacts
    lists = assign.select(
        "vec_id", "label", "nv", F.col("cid").alias("list_id")
    )
    codes = pq_codes(embeddings, codebooks=trained).join(
        lists.select("vec_id", "list_id"), "vec_id"
    )
    _seed_centroids(assign, N_CENTROIDS).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    trained.write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    # static overwrite pinned at the write site (ADVICE r11 #3): a
    # REBUILD over an existing index path must drop every old list_id
    # partition, and a session that previously ran a dynamic
    # partition-overwrite elsewhere must not leak that mode in here —
    # dynamic semantics would keep stale inverted lists alive and
    # silently corrupt later probes.
    codes.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("list_id").parquet(os.path.join(path, "codes"))
    lists.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("list_id").parquet(os.path.join(path, "vectors"))


def add_to_ivfpq_index(new_vectors: DataFrame, path: str) -> None:
    """The FAISS ``add()`` step: fold a new vector batch into the
    persisted index WITHOUT retraining (data only).

    The batch is encoded with the EXISTING codebooks and routed to the
    EXISTING centroids — both read back from disk, so the quantizer is
    frozen exactly as FAISS freezes it after ``train()`` — and the
    resulting codes/vectors rows are APPENDED to their inverted-list
    partition directories.  No stored row is rewritten: queries whose
    probes see only unchanged vectors are bit-identical before and
    after the add (pinned in tests/test_pq.py), and the add costs one
    batch-sized encode + one batch-sized broadcast assignment — never
    the 499 s corpus rebuild the r10 A/B measured for the build.

    Append safety: neither write's plan reads the directory it appends
    to (codes derive from codebooks/, vectors from the batch alone),
    so no self-read checkpoint is needed — unlike the cluster-table
    fold, whose assignment reads the table it extends."""
    from .pq import pq_codes

    spark = new_vectors.sparkSession
    cent = spark.read.parquet(os.path.join(path, "centroids"))
    cb = spark.read.parquet(os.path.join(path, "codebooks"))
    # routing against the PERSISTED centroids — the nearest-centroid
    # step of similarity.ivf_assignments, fed the frozen table instead
    # of seeds derived from the input: the add path's whole point is
    # that the quantizer is frozen
    lists = _nearest_centroid(_unit_vectors(new_vectors, "label"), cent).select(
        "vec_id", "label", "nv", F.col("cid").alias("list_id")
    )
    codes = pq_codes(new_vectors, codebooks=cb).join(
        lists.select("vec_id", "list_id"), "vec_id"
    )
    codes.write.mode("append").partitionBy("list_id").parquet(
        os.path.join(path, "codes")
    )
    lists.write.mode("append").partitionBy("list_id").parquet(
        os.path.join(path, "vectors")
    )


def ensure_ivfpq_index(
    embeddings: DataFrame,
    index_pred,
    batch_preds,
    path: str,
    compact: bool = False,
) -> None:
    """Make ``path`` hold the index built over the ``index_pred``
    vectors (training and centroid seeding see ONLY them) with each of
    ``batch_preds`` then added in order, optionally followed by a
    small-file compaction (``functions.compaction.compact_ivfpq_index``,
    a bit-identical rewrite).  An empty ``batch_preds`` is a plain
    build.  The re-run ledger, which also keys on ``LLOYD_ITERS``, is
    ``functions.compaction.ensure_artifact``'s.

    Because the quantizer is frozen at build time, per-vector
    encode/routing is independent of batching: add(b1); add(b2) lands
    the identical stored rows as add(b1 ∪ b2), so the value oracle is
    the single frozen-quantizer replay regardless of the batch count."""
    ensure_artifact(
        embeddings,
        "vec_id",
        index_pred,
        batch_preds,
        path,
        build=write_ivfpq_index,
        append=lambda visible, bp, p: add_to_ivfpq_index(
            visible.filter(bp(F.col("vec_id"))), p
        ),
        compact=compact_ivfpq_index if compact else None,
        iters=LLOYD_ITERS,
    )


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Query-path-only IVF-PQ top-k against a persisted index.

    ``query`` is a ONE-row DataFrame with a unit-normalized ``qv``
    (array<double>) column — see :func:`query_row`.  Probe selection
    scores the ``N_CENTROIDS``-row centroid table in Spark (identical
    JVM arithmetic to the in-plan chain) and collects the ``NPROBE``
    winning list ids — a bounded-by-construction driver collect —
    into LITERAL ``isin`` filters, so both corpus-sized reads prune
    statically to the probed partition directories (PartitionFilters
    in the scan, pinned in tests).  The rest is the proven chain:
    broadcast m*ks LUT, exact-integer ADC over 4-byte codes,
    top-``PQ_RERANK`` shortlist, exact cosine rerank over the probed
    lists' full vectors, top ``PQ_K``.
    """
    cent = spark.read.parquet(os.path.join(path, "centroids"))
    probed = [r["cid"] for r in _probe(cent, query, NPROBE).collect()]
    cb = spark.read.parquet(os.path.join(path, "codebooks"))
    qsub = query.select(
        F.explode(_subspaces(F.col("qv"))).alias("p")
    ).select(F.col("p.s").alias("s"), F.col("p.sv").alias("qs"))
    codes = spark.read.parquet(os.path.join(path, "codes")).filter(
        F.col("list_id").isin(probed)
    )
    if exclude_vec_id is not None:
        codes = codes.filter(F.col("vec_id") != exclude_vec_id)
    vectors = spark.read.parquet(os.path.join(path, "vectors")).filter(
        F.col("list_id").isin(probed)
    )
    return _adc_topk(
        codes, _query_lut(cb, qsub), vectors, query, PQ_K, PQ_RERANK
    )


def query_row(embeddings: DataFrame, query_vec_id: int) -> DataFrame:
    """The one-row (qv) query frame for a corpus vector — normalized
    with the SAME JVM expression the build used, so query-side
    arithmetic is bit-identical to the in-plan chain's."""
    return embeddings.filter(F.col("vec_id") == query_vec_id).select(
        normalized("embedding").alias("qv")
    )
