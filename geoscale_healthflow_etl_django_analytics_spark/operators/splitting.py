"""Incremental leakage-safe train/val/test split over a PERSISTED
cluster table (VERDICT r9 next-round #3 — the recompute-shape fix for
``subdoc.leakage_safe_split``).

The base operator is correct but re-derives the full LSH + connected-
components chain per invocation; at 100 TB the near-dup cluster
assignment is a persisted artifact maintained incrementally, and a
split query must never re-cluster the corpus to assign a batch.  This
module supplies the production lifecycle:

- :func:`ensure_cluster_table` — the one entry point to the persisted
  ``(doc_id, cluster_id, split)`` artifact: :func:`write_cluster_table`
  builds it over the INDEX corpus (LSH pairs -> connected components
  -> parquet; docs in no pair are absent and self-cluster on read,
  the ``leakage_safe_split`` convention), then
  :func:`fold_batch_into_cluster_table` appends each accepted batch in
  order, optionally followed by compaction.  Both steps write data
  only; the re-run ledger that makes the chain safe to re-run is
  ``functions.compaction.ensure_artifact``, shared with the IVF-PQ
  index.
- :func:`incremental_leakage_safe_split` — assigns a NEW batch using
  only the persisted clusters plus the batch-proportional pair set
  ``operators/incremental.incremental_minhash_pairs`` emits (old×old
  never expands), with CLUSTER-STABLE labels:

  * **index docs NEVER change split** (the stability pin): their
    cluster id comes from the persisted table alone, so their bucket
    — md5_int32(salt || cluster_id) % 100 — is fixed under any
    sequence of ingests.  This is deliberately NOT full-recompute
    equivalence: a batch doc that bridges two index clusters leaves
    them distinct (re-deriving merged labels would re-bucket
    existing training data, the exact churn a production split
    cannot afford).
  * a batch doc joins the batch-graph COMPONENT it belongs to
    (connected components over the batch×batch pairs — a batch-sized
    graph), and the component resolves as one unit, so near-dup
    batch docs can never straddle a boundary;
  * a component anchored to index clusters (>= 1 batch×index pair
    anywhere in it) adopts ``min(anchor cluster_id)`` and — when
    every anchor cluster lies in ONE split — that split: no leakage
    against the index.  When its anchors' splits DISAGREE (the doc
    near-duplicates both train and eval content — possible only via
    a bridging batch under stable labels) every assignment would
    leak, so the component is assigned ``'quarantine'``: excluded
    from all three sets, the standard drop-contaminated resolution
    (decontamination's semantics applied at split time);
  * an unanchored component self-clusters under its min doc id and
    buckets fresh.

Scale shape: the persisted-cluster join is one equi-join on the
corpus key; everything else (batch CC, anchor aggregation) is
pair-graph-sized.  The whole chain — band hashes, batch-restricted
candidates, exact verify, both CC fixpoints, anchor resolution,
bucket arithmetic — replays in DuckDB, so the registered form
carries a full value oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.compaction import compact_cluster_table, ensure_artifact


# The cluster -> split bucket: md5_int32(SPLIT_SALT || cluster) % 100,
# below TRAIN_PCT -> train, below TRAIN_PCT + VAL_PCT -> val, else test.
TRAIN_PCT = 80
VAL_PCT = 10
SPLIT_SALT = "split-"


def split_of_cluster(expr: str, salt: str = SPLIT_SALT) -> Column:
    """The deterministic cluster -> split bucket of the cluster id SQL
    text ``expr``, shared by ``subdoc.leakage_safe_split`` and the
    incremental form so the two cannot drift apart:
    md5_int32(salt || cluster) % 100, below ``TRAIN_PCT`` -> train,
    below ``TRAIN_PCT + VAL_PCT`` -> val, else test."""
    return F.expr(split_of_cluster_sql(expr, salt))


def split_of_cluster_sql(expr: str, salt: str = SPLIT_SALT) -> str:
    """SQL text of :func:`split_of_cluster` (one expr() parse; see
    hashing.md5_int32_sql).

    ``salt`` is interpolated into a single-quoted SQL literal, so it
    is restricted to a quote/backslash-free charset (a quote breaks
    parsing, and a backslash would silently hash a DIFFERENT string —
    a silent train/val/test divergence rather than an error)."""
    import re

    from ..functions.hashing import md5_int32_sql

    if not re.fullmatch(r"[A-Za-z0-9_\- ]+", salt):
        raise ValueError(
            f"split_of_cluster salt must match [A-Za-z0-9_- ]+ (got {salt!r})"
        )
    inner = f"concat('{salt}', CAST({expr} AS STRING))"
    b = f"{md5_int32_sql(inner)} % 100"
    return (
        f"CASE WHEN {b} < {TRAIN_PCT} THEN 'train' "
        f"WHEN {b} < {TRAIN_PCT + VAL_PCT} THEN 'val' "
        f"ELSE 'test' END"
    )


def write_cluster_table(index_docs: DataFrame, path: str) -> None:
    """Persist the index corpus's near-dup artifacts: the cluster
    assignment (MinHash-LSH pairs -> connected components) under
    ``path``/clusters AND the index band-hash table under
    ``path``/bands — the stored signature index that makes later
    ingests batch-proportional (``incremental_pairs_vs_index`` reads
    it back instead of re-deriving corpus signatures).

    Since r11 the clusters table also stores ``split`` explicitly.
    For a freshly built index it is exactly
    ``split_of_cluster(cluster_id)`` (so nothing changes for readers
    that derive it), but the FOLD path needs the stored form: a
    quarantined batch component's split is NOT a function of its
    cluster id, and folding it as bare ``(doc_id, cluster_id)`` would
    silently re-bucket quarantined docs into train/val/test — the
    exact leak quarantine exists to prevent."""
    from .dedup import (
        connected_components,
        minhash_lsh_pairs,
        minhash_perm_band_hashes,
    )

    # ONE index signature derivation (r13, guide §1.2): the same
    # materialized band table feeds the LSH pair generation AND the
    # persisted ``bands`` artifact — previously each consumer re-ran
    # the shingle -> 64-min -> band corpus pass.
    index_bands = minhash_perm_band_hashes(index_docs).localCheckpoint()
    edges = minhash_lsh_pairs(
        index_docs, threshold=0.8, band_table=index_bands
    )
    comp = connected_components(edges).select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        split_of_cluster("component").alias("split"),
    )
    comp.write.mode("overwrite").parquet(os.path.join(path, "clusters"))
    index_bands.write.mode("overwrite").parquet(
        os.path.join(path, "bands")
    )


def incremental_pairs_vs_index(
    docs: DataFrame,
    batch_pred,
    path: str,
    batch_bands: DataFrame | None = None,
) -> DataFrame:
    """Batch-proportional near-dup pairs against the PERSISTED index:
    only the arriving batch is band-hashed fresh; the index side's
    (doc_id, band, bh) table is read back from ``path``/bands — the
    form ``operators/incremental.py`` has always documented as the
    production shape (its ``new_pred`` form re-derives corpus
    signatures; the r8 x500 stage split measured that derivation
    dominating).  Values are identical to the in-plan forms: parquet
    round-trips the band table exactly,
    and the pair logic is incremental_minhash_pairs' own via its
    ``tagged`` injection point."""
    from .dedup import minhash_perm_band_hashes
    from .incremental import incremental_minhash_pairs

    spark = docs.sparkSession
    index_bands = spark.read.parquet(os.path.join(path, "bands")).select(
        "doc_id", "band", "bh", F.lit(False).alias("__new")
    )
    # ``batch_bands``: a caller that ALSO needs the batch's band table
    # (the fold path appends it to ``path``/bands) passes the
    # already-materialized frame so the shingle -> 64-min -> band
    # derivation — the expensive CPU pass of this operator — runs once
    # per batch, not once per consumer (guide §1.2: don't compute
    # things twice before tuning what you compute).
    if batch_bands is None:
        # materialize the BATCH side only (batch-sized): its two
        # consumers inside incremental_minhash_pairs — the __new key-
        # distinct and the bucket-expansion exchange — read blocks
        # instead of re-running the shingle -> 64-min -> band
        # derivation.  The fold path passes an already-checkpointed
        # frame here.
        batch_bands = minhash_perm_band_hashes(
            docs.filter(batch_pred(F.col("doc_id")))
        ).localCheckpoint()
    batch_bands = batch_bands.select(
        "doc_id", "band", "bh", F.lit(True).alias("__new")
    )
    # r13 (guide §5 / §2.3 — shuffle, don't copy, the corpus-sized
    # side): the old form localCheckpoint()ed the WHOLE index∪batch
    # band union, copying the corpus-sized index band table into
    # executor block storage once per query before the pair logic
    # then shuffled it a second time for bucket selection.  The index
    # side is pre-screened HERE instead — index rows in buckets no
    # batch key touches can never appear in a pair (the candidate
    # filter requires a batch doc on one side), so the semi-join keeps
    # the tagged table value-complete for incremental_minhash_pairs —
    # and only the BATCH-PROPORTIONAL survivor set is materialized.
    # Net: the corpus-sized band table crosses the cluster once (the
    # semi-join's exchange) instead of twice, and the checkpoint that
    # downstream consumers share shrinks from corpus-sized to
    # batch-proportional.  Same shuffle_hash pin as the pair logic's
    # own bucket selection (the key set grows with the batch — never
    # an AQE broadcast guess).
    new_keys = batch_bands.select("band", "bh").distinct()
    index_touched = index_bands.join(
        new_keys.hint("shuffle_hash"), ["band", "bh"], "left_semi"
    )
    # The union is handed over LAZY and already screened: the pair
    # logic uses a caller-supplied table as-is, and the union's only
    # consumers are the two sides of the expansion self-join, whose
    # pinned repartition exchanges canonicalize identically and are
    # computed once via exchange reuse.  The index band rows cross the
    # cluster exactly once (the semi-join exchange feeds the
    # repartition directly).
    tagged = index_touched.unionByName(batch_bands)
    return incremental_minhash_pairs(docs, tagged=tagged)


def incremental_leakage_safe_split(
    docs: DataFrame,
    index_clusters: DataFrame,
    pairs: DataFrame,
    batch_pred,
) -> DataFrame:
    """(doc_id, cluster_id, split) for the WHOLE corpus — index docs
    under their persisted (hence stable) clusters, batch docs via the
    incremental pair graph; ``split`` is train/val/test or
    ``'quarantine'`` for split-conflicted batch components (module
    docstring).  ``pairs`` is ``incremental_minhash_pairs`` output;
    ``batch_pred`` maps the doc_id Column to the batch-membership
    boolean (the join-free provenance form that operator defines)."""
    from .dedup import connected_components

    # r13 (guide §1.2/§5): ``pairs`` has TWO consumers — the
    # batch×batch edge set (materialized inside connected_components)
    # and the batch×index anchors (part of the final plan) — so the
    # exact-verify join pipeline it ends in used to execute twice per
    # query.  Materialize the verified pair set once (pair-graph-
    # sized, the same bound as every other checkpoint in this family);
    # both consumers now read blocks.
    pairs = pairs.localCheckpoint()
    ids = docs.select(F.col("doc_id").alias("doc_id"))
    # stored-split support (r11, the fold lifecycle): a clusters table
    # written by write_cluster_table/fold_batch_into_cluster_table
    # carries an explicit ``split`` column — authoritative, because a
    # folded quarantined doc's split is not derivable from its cluster
    # id.  Legacy (pre-r11) tables lack the column and every stored
    # split was exactly split_of_cluster(cluster_id), so deriving is
    # value-identical there.
    has_split = "split" in index_clusters.columns
    iclu = index_clusters.select(
        F.col("doc_id").alias("__i_doc"),
        F.col("cluster_id").alias("__i_clu"),
        (F.col("split") if has_split else F.lit(None).cast("string")).alias(
            "__i_split"
        ),
    )
    split_sql = split_of_cluster_sql

    # the repetitive bucket trees are composed as SQL strings and the
    # chained selects fused (r12, guide §5 — one expr() parse instead
    # of ~100 py4j round trips per spelling; this function is built
    # once per split/fold query pass)
    index_out = (
        ids.filter(~batch_pred(F.col("doc_id")))
        .join(iclu, F.col("doc_id") == F.col("__i_doc"), "left")
        .selectExpr(
            "doc_id",
            "coalesce(__i_clu, doc_id) AS cluster_id",
            "__i_split",
        )
        .selectExpr(
            "doc_id",
            "cluster_id",
            f"coalesce(__i_split, {split_sql('cluster_id')}) AS split",
        )
    )

    # batch components over batch×batch near-dup edges (batch-sized)
    bb = pairs.filter(F.col("link_type") == "batch_batch").select(
        "doc_a", "doc_b"
    )
    comp_b = connected_components(bb).select(
        F.col("doc_id").alias("__b_doc"), F.col("component")
    )
    bcomp = (
        ids.filter(batch_pred(F.col("doc_id")))
        .join(comp_b, F.col("doc_id") == F.col("__b_doc"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("bcomp"),
        )
    )

    # anchors: batch×index pairs resolved to the index side's
    # persisted cluster (absent -> the index doc self-clusters)
    bi = pairs.filter(F.col("link_type") == "batch_index")
    bside = F.when(batch_pred(F.col("doc_a")), F.col("doc_a")).otherwise(
        F.col("doc_b")
    )
    iside = F.when(batch_pred(F.col("doc_a")), F.col("doc_b")).otherwise(
        F.col("doc_a")
    )
    anchors = (
        bi.select(bside.alias("bdoc"), iside.alias("idoc"))
        .join(iclu, F.col("idoc") == F.col("__i_doc"), "left")
        .selectExpr(
            "bdoc",
            "coalesce(__i_clu, idoc) AS anchor_cluster",
            "__i_split",
        )
        .selectExpr(
            "bdoc",
            "anchor_cluster",
            # the stored split rides through anchoring: a near-dup of
            # quarantined content is itself split-conflicted, so the
            # 'quarantine' label propagates (n_anchor_splits treats it
            # as one more distinct split value, which is exactly the
            # conservative resolution)
            f"coalesce(__i_split, {split_sql('anchor_cluster')}) "
            "AS anchor_split",
        )
    )
    comp_agg = (
        bcomp.join(anchors, F.col("doc_id") == F.col("bdoc"))
        .groupBy("bcomp")
        .agg(
            F.min("anchor_cluster").alias("anc_min"),
            F.countDistinct("anchor_split").alias("n_anchor_splits"),
            F.min("anchor_split").alias("anc_split"),
        )
    )
    batch_out = bcomp.join(comp_agg, "bcomp", "left").selectExpr(
        "doc_id",
        "coalesce(anc_min, bcomp) AS cluster_id",
        f"CASE WHEN anc_min IS NULL THEN {split_sql('bcomp')} "
        "WHEN n_anchor_splits = 1 THEN anc_split "
        "ELSE 'quarantine' END AS split",
    )
    return index_out.unionByName(batch_out)


def fold_batch_into_cluster_table(
    docs: DataFrame,
    batch_pred,
    path: str,
) -> None:
    """Fold an ACCEPTED batch into the persisted cluster + band
    artifacts (data only; the append step of
    :func:`ensure_cluster_table`): consecutive ingests never rebuild.

    ``docs`` is the corpus VISIBLE at fold time (index ∪ this batch —
    later batches don't exist yet); ``batch_pred`` marks the arriving
    rows.  Two appends, no rewrite of any existing row (index docs'
    labels are cluster-stable by construction, so their stored rows
    are immutable):

    1. the batch is assigned from the CURRENT table via the
       batch-proportional persisted-signature pairs
       (:func:`incremental_pairs_vs_index` — old×old never expands)
       and :func:`incremental_leakage_safe_split`'s label rules;
    2. batch cluster rows that differ from the self-cluster default
       — ``cluster_id != doc_id`` (anchored adoptions, multi-doc
       batch components) OR ``split != split_of_cluster(cluster_id)``
       (quarantined components, whose split is NOT derivable from the
       cluster id) — are APPENDED to ``path``/clusters; default rows
       are pruned, matching the read convention (absent docs
       self-cluster and bucket by derivation);
    3. the batch's band hashes are APPENDED to ``path``/bands, so the
       NEXT ingest's candidate generation sees this batch as index.

    The appended rows are materialized (localCheckpoint) BEFORE the
    write because their plan READS the same parquet directories the
    append extends — appending to your own lazy input is a
    list-files race."""
    from .dedup import minhash_perm_band_hashes

    spark = docs.sparkSession
    iclu = spark.read.parquet(os.path.join(path, "clusters"))
    # band-hash the batch ONCE: the same table feeds candidate
    # generation (via incremental_pairs_vs_index) AND the append to
    # path/bands — the previous form derived it twice, paying the
    # shingle + 64-permutation-min pass per consumer (guide §1.2).
    # The checkpoint also satisfies the append-safety contract below.
    batch_bands = minhash_perm_band_hashes(
        docs.filter(batch_pred(F.col("doc_id")))
    ).localCheckpoint()
    pairs = incremental_pairs_vs_index(
        docs, batch_pred, path, batch_bands=batch_bands
    )
    assigned = incremental_leakage_safe_split(
        docs, iclu, pairs, batch_pred
    )
    batch_rows = (
        assigned.filter(batch_pred(F.col("doc_id")))
        .filter(
            (F.col("cluster_id") != F.col("doc_id"))
            | (F.col("split") != split_of_cluster("cluster_id"))
        )
        .localCheckpoint()
    )
    batch_rows.write.mode("append").parquet(os.path.join(path, "clusters"))
    batch_bands.write.mode("append").parquet(os.path.join(path, "bands"))


def ensure_cluster_table(
    docs: DataFrame,
    index_pred,
    batch_preds,
    path: str,
    compact: bool = False,
) -> None:
    """Make ``path`` hold the cluster table built over the
    ``index_pred`` docs with each of ``batch_preds`` then folded in
    ORDER (each fold sees exactly the corpus visible at its ingest
    time — the index plus every earlier batch), optionally followed by
    a small-file compaction (``functions.compaction.
    compact_cluster_table``, a bit-identical rewrite).  An empty
    ``batch_preds`` is a plain build.

    With batches this is the week-2-onward state of a production split
    pipeline, where quarantine propagation across generations and
    post-compaction identity matter.  Each fold is append-only and
    therefore NOT idempotent; idempotency lives in the shared ledger
    (``functions.compaction.ensure_artifact``), exactly like a real
    ingest ledger gating replayed batches."""
    ensure_artifact(
        docs,
        "doc_id",
        index_pred,
        batch_preds,
        path,
        build=write_cluster_table,
        append=fold_batch_into_cluster_table,
        compact=compact_cluster_table if compact else None,
    )
