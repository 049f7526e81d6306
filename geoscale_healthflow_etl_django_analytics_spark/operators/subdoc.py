"""Sub-document dedup + the cluster-aware corpus split.

Own module rather than operators/dedup.py so the dedup module's bytes
(in the code path of every MinHash/SimHash/CC/decontamination query)
stay untouched by this round's additions; this module composes those
verified operators through their public functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from .splitting import split_of_cluster


def segment_dedup_apply(
    docs: DataFrame,
    segments: Column,
    joiner: str = " ",
) -> DataFrame:
    """Sub-document (line/paragraph) exact dedup with first-occurrence
    keep — the C4 / CCNet corpus pass (Raffel et al. 2020 §2.2 dedup
    spans; CCNet's paragraph-hash dedup): every distinct segment
    survives exactly ONCE corpus-wide, at its first occurrence in
    (doc_id, seg_no) order; later copies are dropped and each document
    is reassembled from its surviving segments.

    ``segments`` is any Column producing array<string> — newline split
    for real corpora, :func:`functions.text.token_window_segments`
    for the single-line test corpus.  Matching normalizes via the
    canonical md5 :func:`fingerprint`; reassembly keeps source text,
    rejoined with ``joiner`` — pass ``"\\n"`` when segmenting on
    newlines so reassembled documents keep their line structure
    (ADVICE r9 #1: a hardcoded space flattened multi-line docs), and
    keep the DuckDB oracle's ``string_agg`` separator in sync with
    whatever is passed here.

    100 TB plan (all linear, no self-join): posexplode → ONE
    map-side-combinable groupBy(fp).min(struct(doc_id, seg_no,
    segment)) — the aggregation result IS the survivor set, so no
    join back against the exploded table (a hot boilerplate segment
    repeated 10⁹× costs its copies only in the partial aggregates) —
    → groupBy(doc_id) reassembly → doc_id equi-join with the per-doc
    segment counts.  Returns (doc_id, n_segments, n_kept, n_dropped,
    kept_text); a doc whose every segment appeared earlier keeps
    nothing (n_kept = 0, kept_text = '').
    """
    base = docs.select(F.col("doc_id").alias("doc_id"), segments.alias("segs"))
    seg = base.select(
        "doc_id", F.posexplode("segs").alias("seg_no", "segment")
    )
    first = (
        seg.groupBy(fingerprint(F.col("segment")).alias("fp"))
        .agg(
            F.min(F.struct("doc_id", "seg_no", "segment")).alias("first")
        )
        .select(
            F.col("first.doc_id").alias("doc_id"),
            F.col("first.seg_no").alias("seg_no"),
            F.col("first.segment").alias("segment"),
        )
    )
    kept = first.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_no", "segment"))),
                lambda s: s.segment,
            ),
            joiner,
        ).alias("kept_text"),
    )
    stats = base.select(
        "doc_id", F.size("segs").cast("int").alias("n_segments")
    )
    return (
        stats.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (
                F.col("n_segments")
                - F.coalesce(F.col("n_kept"), F.lit(0))
            ).alias("n_dropped"),
            F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    components: DataFrame,
) -> DataFrame:
    """Cluster-aware train/val/test assignment — the split a training
    pipeline must use so near-duplicate documents NEVER straddle the
    train/eval boundary (doc-level random splits leak: two 95%-similar
    docs land on opposite sides and the eval set scores memorization).
    Public precedent: the dedup-before-split rule in Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better") and
    the standard group-aware split (scikit-learn GroupShuffleSplit
    semantics) applied at corpus scale.

    ``components`` is the (doc_id, component) output of
    :func:`connected_components` over a near-dup pair graph; docs
    absent from it (singletons — LSH emitted no pair) cluster as
    themselves.  The unit of assignment is the CLUSTER: bucket =
    :func:`splitting.split_of_cluster` of the cluster id (train/val/test
    by its ``TRAIN_PCT``/``VAL_PCT`` md5 buckets) — deterministic, engine-
    reproducible, and leakage-free BY CONSTRUCTION (every member
    shares the cluster id, hence the bucket).

    Scale: one left join docs->components on doc_id (components is
    LSH-pair-graph-sized, orders of magnitude smaller than the
    corpus at realistic dup rates, and the join is an equi-join on
    the corpus key) + pure Column hashing. No extra shuffle beyond
    the join.
    """
    comp = components.select(
        F.col("doc_id").alias("__cid_doc"), F.col("component")
    )
    out = docs.select(F.col("doc_id").alias("doc_id")).join(
        comp, F.col("doc_id") == F.col("__cid_doc"), "left"
    )
    cluster = "coalesce(component, doc_id)"
    return out.select(
        "doc_id",
        F.expr(cluster).alias("cluster_id"),
        split_of_cluster(cluster).alias("split"),
    )
