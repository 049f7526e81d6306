"""Behavioral tests for the sketch-based dedup/similarity tiers that
have no SQL oracle (MinHash-LSH, SimHash): invariants + recall
against the exact-Jaccard ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.operators import dedup as dd
from geoscale_healthflow_etl_django_analytics_spark.operators import similarity as sim
from geoscale_healthflow_etl_django_analytics_spark.operators import subdoc
from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def test_minhash_pairs_subset_of_exact(spark, docs):
    """Every LSH-confirmed pair must appear in the exact pair set at
    the same threshold (the verify step guarantees precision=1)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.8, block_on_lang=False).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dd.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert lsh <= exact


def test_minhash_recall_at_high_similarity(spark, docs):
    """Pairs with jaccard >= 0.9 are near-certain LSH candidates
    (16 bands x 4 rows -> P(miss) ~ 2e-9); all must be found."""
    exact_high = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.9, block_on_lang=False).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dd.minhash_lsh_pairs(docs, threshold=0.9).collect()}
    assert exact_high == lsh


def test_simhash_identical_docs_hash_equal(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "a completely different document about spark shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.simhash for r in dd.with_simhash(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_simhash_pairs_find_exact_dups(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "unrelated text talking about entirely other things nowhere close"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dd.simhash_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_drops_tokenless_docs(spark):
    """Empty/punctuation-only docs must NOT get a sketch: the fold over
    an empty token array would emit an all-ones sketch, pairing every
    empty doc with every other at hamming 0 (and diverging from the
    SQL oracle, whose unnest drops token-less docs)."""
    rows = [
        (1, ""),
        (2, "   "),
        (3, "real words here in this document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sketched = {r.doc_id for r in dd.with_simhash(df).collect()}
    assert sketched == {3}
    assert dd.simhash_pairs(df).count() == 0


def test_bpe_tokens_shape(spark):
    from geoscale_healthflow_etl_django_analytics_spark.functions import text as T

    df = spark.createDataFrame(
        [("It's a test, isn't it? 123 foo-bar",), ("",), ("   ",)], ["text"]
    )
    out = df.select(
        T.bpe_tokens(F.col("text")).alias("t"),
        T.bpe_token_count(F.col("text")).alias("n"),
    ).collect()
    assert out[0].t[:4] == ["It", "'s", " a", " test"]
    assert out[0].n == 13
    assert out[1].n == 0 and out[2].n == 0


def test_ivf_assignment_and_probe(spark):
    """IVF invariants: every vector lands in exactly one inverted
    list; the probe searches only nprobe lists; scores agree with
    brute force on the searched subset."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import similarity as sm
    from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    assign = sm.ivf_assignments(emb)
    assert assign.count() == n  # total, one list each
    assert assign.select("cid").distinct().count() <= 8

    top = sm.ivf_topk(emb, k=5).collect()
    assert len(top) == 5
    # scores descend, and every hit's list is one of the probed lists
    sims = [r.cosine_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    assert len({r.cid for r in top}) <= 2

    # exactness on the searched subset: each hit's score equals the
    # brute-force cosine of that vector against the query
    brute = {
        r.vec_id: r.cosine_sim
        for r in sm.cosine_topk(emb, query_vec_id=0, k=n).collect()
    }
    for r in top:
        assert abs(brute[r.vec_id] - r.cosine_sim) < 2e-6, r


def test_connected_components_long_chain(spark):
    """O(log n) contraction proof: a 400-node path graph has diameter
    399 — min-label propagation would need ~400 rounds, far beyond
    max_iter. Large-star/small-star must collapse it to one component
    rooted at node 0 within the default iteration budget.
    local_threshold=0 pins the DISTRIBUTED contraction loop (the
    default would route a 399-edge graph to the local finish)."""
    edges = spark.range(399).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    comps = dd.connected_components(edges, local_threshold=0).collect()
    assert len(comps) == 400
    assert {r.component for r in comps} == {0}


@pytest.mark.parametrize("local_threshold", [0, 200_000])
def test_connected_components_mixed_graph(spark, local_threshold):
    """Several components of different shapes resolve to their min ids:
    a triangle {0,1,2}, a chain {10..13}, a pair {20,21} given twice,
    and a node {30} seen only in a self-loop, which labels itself. The
    star fixpoint labels every member (including roots) — on both the
    distributed loop (threshold 0) and the driver-side fast path."""
    edges = spark.createDataFrame(
        [
            (0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (12, 13),
            (21, 20), (21, 20), (30, 30),
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.component
        for r in dd.connected_components(
            edges, local_threshold=local_threshold
        ).collect()
    }
    assert got == {
        0: 0, 1: 0, 2: 0,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
        30: 30,
    }


def test_exact_dedup_counts(spark):
    rows = [(1, "x y z"), (2, "x  y z "), (3, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = {r.fp: (r.keep_doc_id, r.n_docs) for r in dd.exact_dedup_groups(df).collect()}
    # whitespace-canonicalized dups collapse to one group keeping min id
    assert sorted(groups.values()) == [(1, 2), (3, 1)]


def test_ann_bucket_is_subset_of_bruteforce_ranking(spark):
    emb = load_table(spark, SF, "embeddings")
    brute = dd  # noqa: F841  (clarity)
    top_all = sim.cosine_topk(emb, 0, 50).collect()
    top_bucket = sim.ann_bucketed_topk(emb, 0).collect()
    all_scores = {r.vec_id: r.cosine_sim for r in top_all}
    for r in top_bucket:
        if r.vec_id in all_scores:
            assert abs(all_scores[r.vec_id] - r.cosine_sim) < 1e-9


def test_bucketed_index_partition_pruning(spark):
    """The on-disk ANN index: a probe must read only the query's
    bucket partition (partition pruning visible in the plan)."""
    import shutil
    import tempfile

    from geoscale_healthflow_etl_django_analytics_spark.plans import audit as pa

    emb = load_table(spark, SF, "embeddings")
    d = tempfile.mkdtemp(prefix="hf-ann-")
    try:
        sim.write_bucketed_index(emb, f"{d}/idx")
        qvec = [float(x) for x in emb.first().embedding]
        res = sim.query_bucketed_index(spark, f"{d}/idx", qvec)
        rows = res.collect()
        assert 0 < len(rows) <= 5
        plan = pa.formatted_plan(res)
        assert "PartitionFilters" in plan and "bucket" in plan
        # correctness: top hit should be the query vector itself
        assert rows[0].cosine_sim == 1.0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_knn_adaptive_bucket_count_scales(spark):
    """The adaptive kNN join must grow its bucket count with the corpus
    so expected bucket size stays ~target: the round-5 scale curve
    measured the fixed-16-bucket form going quadratic. Pin the
    integer-exact bit rule and that small corpora keep the historical
    4-bit assignment."""
    from geoscale_healthflow_etl_django_analytics_spark.scalegen import gen_embeddings

    def n_bits_of(df):
        # the PRODUCTION expression, not a Python re-derivation
        # (code-review r5 finding #3)
        return sim.adaptive_sign_bits(df).collect()[0]["__n_bits"]

    small = gen_embeddings(spark, 2000)
    big = gen_embeddings(spark, 16000)
    assert n_bits_of(small) == 4
    assert n_bits_of(big) == 6  # ceil(16000/256)=63 -> bitlen(62)=6

    # behavioral check: distinct bucket count in the big corpus exceeds
    # 16 (impossible under the old fixed-4-bit blocking)
    from geoscale_healthflow_etl_django_analytics_spark.functions.vectors import sign_bucket

    full = big.select(sign_bucket(F.col("embedding"), 16).alias("b16"))
    distinct_6bit = full.select((F.col("b16") % 64).alias("b")).distinct().count()
    assert distinct_6bit > 16

    # semantics stay fixed at gate scale: adaptive result == historical
    # fixed-4-bit result on a small corpus
    docs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = sim.knn_join_adaptive(docs)
    legacy_bucketed = docs.select(
        "vec_id", F.col("embedding"), sign_bucket(F.col("embedding"), 4).alias("bucket")
    )
    # adaptive must assign the same buckets (low-4-bit mask == 4-bit pack)
    adaptive_bucketed = docs.select(
        "vec_id", (sign_bucket(F.col("embedding"), 16) % 16).alias("bucket_a")
    )
    joined = legacy_bucketed.join(adaptive_bucketed, "vec_id")
    assert joined.filter(F.col("bucket") != F.col("bucket_a")).count() == 0
    assert got.count() > 0


def test_decontaminate_planted_overlap(spark):
    """A training doc sharing an 8-gram with an eval doc is flagged;
    an unrelated one is not (eval rule: doc_id % 17 == 0)."""
    import tempfile

    from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

    eight = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (0, f"intro {eight} outro", "en", "s0"),       # eval doc
        (1, f"prefix words {eight} and tail", "en", "s0"),  # contaminated
        (2, "totally different words that never overlap with anything "
            "else in this tiny corpus at all", "en", "s0"),  # clean
        (17, "another eval doc with its own unique phrasing entirely",
         "en", "s0"),                                   # eval doc
    ]
    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
        df.withColumn("n_chars", F.length("text").cast("long")).write.parquet(
            f"{d}/documents.parquet"
        )
        out = {
            r["doc_id"]: (r["contaminated"], r["n_matched"])
            for r in REGISTRY["dedup_decontaminate"].builder(spark, d).collect()
        }
    assert set(out) == {1, 2}          # eval docs excluded from output
    assert out[1][0] == 1 and out[1][1] >= 1
    assert out[2] == (0, 0)


def test_perm_banding_kills_oph_candidate_floor(spark):
    """The r6 tier-swap regression pin: on short docs drawn from a
    SMALL vocabulary — the regime where one-permutation banding
    under-delivered its nominal r and docs sharing globally-small
    shingle hashes collided en masse (the x500 deep point measured
    ~495M candidates vs ~560k true pairs) — true-permutation
    banding's candidate set stays within a small multiple of the true
    pair count."""
    from geoscale_healthflow_etl_django_analytics_spark.scalegen import gen_documents

    docs = gen_documents(spark, 10_000).localCheckpoint()
    bh = dd.minhash_perm_band_hashes(docs)
    a = bh.select("band", "bh", F.col("doc_id").alias("a"))
    b = bh.select("band", "bh", F.col("doc_id").alias("b"))
    perm_cands = (
        a.join(b, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )
    true_pairs = dd.minhash_lsh_pairs(docs, threshold=0.8).count()
    # every candidate is either a genuine near-dup or one of the rare
    # j^4 strays — linear in the corpus
    assert perm_cands <= 2 * true_pairs + 100


def test_substring_spans_merge_and_positions(spark):
    """Planted ExactSubstr check: doc 1 and doc 2 share a verbatim
    12-token run (positions 3..14 in doc 1, 1..12 in doc 2) inside
    otherwise-distinct text; with w=10 that run yields 3 duplicated
    windows per doc which must merge into ONE maximal span each, at
    exact token positions; doc 3 shares nothing and emits nothing."""
    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, "a b " + shared + " tail1 tail2 tail3"),
        (2, shared + " other trailing words here"),
        (3, "entirely unrelated content with no duplicated runs at all x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.span_start, r.span_end, r.dup_windows)
        for r in dd.repeated_substring_spans(df).collect()
    }
    assert out == {1: (3, 14, 3), 2: (1, 12, 3)}


def test_remove_repeated_spans_cuts_exact_ranges(spark):
    """Apply stage on the same planted corpus: the shared 12-token run
    is deleted from BOTH docs at its exact positions, the distinct
    remainder survives verbatim, and the untouched doc passes through
    with zero spans. Also covers the empty-text edge (the descending-
    sequence guard) and a doc shorter than the window."""
    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, "a b " + shared + " tail1 tail2 tail3"),
        (2, shared + " other trailing words here"),
        (3, "entirely unrelated content with no duplicated runs at all x y z"),
        (4, ""),
        (5, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_spans, r.n_tokens, r.removed_tokens, r.clean_text)
        for r in dd.remove_repeated_spans(df).collect()
    }
    assert out[1] == (1, 17, 12, "a b tail1 tail2 tail3")
    assert out[2] == (1, 16, 12, "other trailing words here")
    assert out[3] == (
        0,
        12,
        0,
        "entirely unrelated content with no duplicated runs at all x y z",
    )
    assert out[4] == (0, 0, 0, "")
    assert out[5] == (0, 2, 0, "short doc")


def test_affine_perm_coeffs_pinned():
    """The affine MinHash coefficient table is derived from fixed md5
    tags and BAKED into the generated oracle SQL — if anyone changes
    the derivation, Spark and every previously-recorded oracle
    artifact drift apart silently. Pin endpoints and invariants."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.hashing import (
        MINHASH_PRIME,
        affine_perm_coeffs,
    )

    c = affine_perm_coeffs(64)
    assert c[0] == (1399227951, 527818111)
    assert c[1] == (728262239, 816673447)
    assert c[63] == (2005978552, 37226258)
    assert len(set(c)) == 64
    for a, b in c:
        assert 1 <= a < MINHASH_PRIME and 0 <= b < MINHASH_PRIME
        # products must stay inside signed-64 in both engines
        assert a * (MINHASH_PRIME - 1) + b < 2**63


# ---------------------------------------------------------------------------
# Adaptive SimHash tier (r7): corpus-count band plan + exact verify
# ---------------------------------------------------------------------------


def test_simhash_block_plan_formula():
    """Plan derives from corpus count: 4 blocks while the 4x30 plan's
    chance-candidate floor 4*n^2/2^31 stays under 0.5% of n, then 6.
    The boundary constant is baked into the generated oracle SQL, so
    pin it exactly."""
    assert dd.simhash_block_plan(0) == 4
    assert dd.simhash_block_plan(dd._SIMHASH_B4_MAX) == 4
    assert dd.simhash_block_plan(dd._SIMHASH_B4_MAX + 1) == 6
    # the derivation: 4 * n^2 / 2 / 2^30 <= 0.005 * n  =>  n <= 0.005*2^29
    assert dd._SIMHASH_B4_MAX == int(0.005 * 2**29)
    # pigeonhole: 20 keys = C(6,3) 3-subsets, fixed order shared with SQL
    assert len(dd.SIMHASH_COMBOS6) == 20
    assert dd.SIMHASH_COMBOS6[0] == (0, 1, 2)
    assert dd.SIMHASH_COMBOS6[-1] == (3, 4, 5)
    assert len(set(dd.SIMHASH_COMBOS6)) == 20


def test_simhash_adaptive_regimes_identical(spark, docs):
    """Both band plans are pigeonhole-complete for hamming<=3 and the
    final output is defined AFTER exact hamming + Jaccard filters, so
    the 4-block and 6-block plans must produce identical pair sets —
    the invariant that makes the adaptive switch safe at any corpus
    size."""
    p4 = sorted(map(tuple, dd.simhash_adaptive_pairs(docs, blocks=4).collect()))
    p6 = sorted(map(tuple, dd.simhash_adaptive_pairs(docs, blocks=6).collect()))
    assert p4 == p6 and len(p4) > 0


def test_simhash_adaptive_verify_filters_sketch_coincidences(spark):
    """A pair can sit within hamming<=3 of the 120-bit sketch without
    real token overlap (the measured r6 x500 floor). The verify stage
    must drop it while keeping true near-dups. doc 1/2: 21 shared
    tokens of 22 -> jaccard ~0.91, kept. doc 3/4: disjoint singleton
    docs -- each sketch is the raw md5 sign pattern of ONE token, but
    any candidate surviving hamming<=3 with jaccard 0 must be
    dropped; assert no (3,4) pair and no cross pairs survive."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november oscar papa quebec romeo sierra tango uniform"
    rows = [
        (1, base + " victor"),
        (2, base + " whiskey"),
        (3, "zulu"),
        (4, "yankee"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r.jaccard for r in dd.simhash_adaptive_pairs(df).collect()}
    assert set(out) <= {(1, 2)}
    if (1, 2) in out:
        assert out[(1, 2)] >= 0.9
    # and WITHOUT the verify stage the same corpus may emit more —
    # the hamming-only tier is a superset by construction
    ham_only = {(r.doc_a, r.doc_b) for r in dd.simhash_pairs_wide(df).collect()}
    assert set(out) <= ham_only


def test_simhash_adaptive_subset_of_hamming_tier(spark, docs):
    """Adaptive output = hamming-tier output filtered by exact
    Jaccard: same (doc_a, doc_b, hamming) triples, possibly fewer."""
    adaptive = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dd.simhash_adaptive_pairs(docs).collect()
    }
    wide = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dd.simhash_pairs_wide(docs).collect()
    }
    assert set(adaptive) <= set(wide)
    for k, h in adaptive.items():
        assert wide[k] == h


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup over embeddings (Abbas et al. 2023)
# ---------------------------------------------------------------------------


def test_semantic_dedup_planted_groups(spark):
    """Planted structure: three tight duplicate groups plus
    singletons. Exactly one keeper per group, and the keeper is the
    group member LEAST similar to its centroid (the paper's
    keep-the-outlier rule)."""
    import math

    from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import (
        semantic_dedup,
    )

    dim = 8

    def unit(seed_axis, wobble=0.0, w_axis=None):
        v = [0.0] * dim
        v[seed_axis] = 1.0
        if wobble:
            v[w_axis] = wobble
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    vid = 0
    # two centroid seeds (vec_id < n_centroids are the seeds)
    for axis in (0, 1):
        rows.append((vid, unit(axis), 0))
        vid += 1
    # group A: three vectors hugging axis 0 with increasing wobble —
    # pairwise cosine ~1, similarity to centroid DECREASES with wobble
    ga = []
    for wob in (0.01, 0.02, 0.30):
        rows.append((vid, unit(0, wob, w_axis=2), 0))
        ga.append(vid)
        vid += 1
    # group B: two vectors hugging axis 1
    gb = []
    for wob in (0.015, 0.25):
        rows.append((vid, unit(1, wob, w_axis=3), 0))
        gb.append(vid)
        vid += 1
    # singletons: far from everything else in their cluster
    singles = []
    for axis, blend in ((0, 4), (1, 5)):
        v = [0.0] * dim
        v[axis] = 1.0
        v[blend] = 2.0
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v], 0))
        singles.append(vid)
        vid += 1

    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(emb, n_centroids=2, iters=1, eps=0.9).collect()
    }
    assert len(out) == vid
    # each planted group collapses to one component with one keeper
    for grp in (ga, gb):
        comps = {out[v].component for v in grp}
        assert len(comps) == 1, (grp, comps)
        keepers = [v for v in grp if out[v].keep]
        assert len(keepers) == 1
        # keep-the-outlier: the kept member has the group-min centroid_sim
        min_sim = min(out[v].centroid_sim for v in grp)
        assert out[keepers[0]].centroid_sim == min_sim
    # singletons keep themselves
    for v in singles:
        assert out[v].keep and out[v].component == v
    # exactly one keeper per component corpus-wide
    by_comp = {}
    for r in out.values():
        by_comp.setdefault(r.component, []).append(r.keep)
    for comp, keeps in by_comp.items():
        assert sum(keeps) == 1, comp


def test_semantic_dedup_is_deterministic(spark):
    from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {(r.vec_id, r.component, r.keep)
         for r in semantic_dedup(emb).collect()}
    b = {(r.vec_id, r.component, r.keep)
         for r in semantic_dedup(emb).collect()}
    assert a == b and len(a) == emb.count()


def test_pruned_assignment_vacuous_super_equals_flat(spark):
    """With n_super >= n_centroids the two-level routing is vacuous
    pruning — every centroid is its own super — so the pruned tier
    must be BYTE-identical to the flat tier, pinning that the
    two-level chain's argmax/tiebreak/rounding arithmetic is the
    same rule, only gated."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import (
        lloyd_assignments,
        lloyd_assignments_pruned,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    flat = {(r.vec_id, r.cid, r.sim)
            for r in lloyd_assignments(emb, 8, 2).collect()}
    vac = {(r.vec_id, r.cid, r.sim)
           for r in lloyd_assignments_pruned(emb, 8, n_super=8).collect()}
    assert flat == vac and len(flat) == 500


def test_pruned_semantic_dedup_is_total_and_valid(spark):
    """Real pruning (s = ceil(sqrt(k))): the output is still a total
    function of the corpus — one row per vector, exactly one keeper
    per component — even where routing diverges from the flat tier."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import (
        semantic_dedup_pruned,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = semantic_dedup_pruned(emb).collect()
    assert len(rows) == 500
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r.keep)
    for comp, keeps in by_comp.items():
        assert sum(keeps) == 1, comp


def test_probe_assignment_vacuous_equals_flat(spark):
    """With n_super >= n_centroids AND n_probe >= n_super every
    centroid is a candidate for every vector regardless of router
    state, so the ANN-probe tier must be BYTE-identical to the flat
    tier — pinning that router training, the non-empty-list filter,
    and the final argmax share the flat tier's arithmetic."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import (
        lloyd_assignments,
        lloyd_assignments_probe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    flat = {(r.vec_id, r.cid, r.sim)
            for r in lloyd_assignments(emb, 8, 2).collect()}
    vac = {(r.vec_id, r.cid, r.sim)
           for r in lloyd_assignments_probe(
               emb, 8, n_super=8, n_probe=8).collect()}
    assert flat == vac and len(flat) == 500


def test_probe_semantic_dedup_is_total_and_valid(spark):
    """Real probing (s = ceil(sqrt(k)), n_probe=2, trained router):
    the output is still a total function of the corpus — one row per
    vector, exactly one keeper per component — even where routing
    diverges from the flat tier. Also pins that the trained router
    never drops a vector (every probe targets a NON-EMPTY inverted
    list by construction)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import (
        semantic_dedup_probe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = semantic_dedup_probe(emb).collect()
    assert len(rows) == 500
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r.keep)
    for comp, keeps in by_comp.items():
        assert sum(keeps) == 1, comp


def test_semdedup_skew_split_preserves_pair_set(spark):
    """The replicated self-join decomposition for over-cap clusters
    must emit the IDENTICAL result as the unsliced join — every pair
    exactly once (pair (x,y) is produced only in x's slice). Forced
    by a tiny slice_cap against the same corpus with a huge cap."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import (
        _dedup_from_assignments,
        lloyd_assignments,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = lloyd_assignments(emb, 8, 1).localCheckpoint()
    base = {(r.vec_id, r.component, r.keep)
            for r in _dedup_from_assignments(a, 0.35, slice_cap=10**9).collect()}
    sliced = {(r.vec_id, r.component, r.keep)
              for r in _dedup_from_assignments(a, 0.35, slice_cap=16).collect()}
    assert base == sliced and len(base) == 500


# ------------------------------------------------- line-level dedup


def test_segment_dedup_first_occurrence_semantics(spark):
    """C4 semantics: a repeated segment survives ONCE, at its first
    (doc_id, seg_no) occurrence; later copies drop; matching is
    case/whitespace-insensitive but reassembly keeps source text."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.segments import (
        token_window_segments,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),   # segs (n=2): "alpha beta", "gamma delta"
            (2, "ALPHA  beta epsilon zeta"),  # "ALPHA beta" dups doc1 seg0
            (3, "gamma delta alpha beta"),    # both segs dup doc1
            (4, ""),                          # empty -> 0 segments
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in subdoc.segment_dedup_apply(
            docs, token_window_segments(F.col("text"), 2)
        ).collect()
    }
    assert out[1]["n_segments"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["kept_text"] == "alpha beta gamma delta"
    # doc 2: first segment is a (case/space-normalized) dup of doc 1
    assert out[2]["n_kept"] == 1 and out[2]["n_dropped"] == 1
    assert out[2]["kept_text"] == "epsilon zeta"
    # doc 3: everything seen before
    assert out[3]["n_kept"] == 0 and out[3]["kept_text"] == ""
    assert out[4]["n_segments"] == 0 and out[4]["kept_text"] == ""


def test_segment_dedup_trailing_partial_window(spark):
    from geoscale_healthflow_etl_django_analytics_spark.functions.segments import (
        token_window_segments,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    row = subdoc.segment_dedup_apply(
        docs, token_window_segments(F.col("text"), 2)
    ).collect()[0]
    # 2+2+1 tokens -> 3 segments, all first occurrences
    assert row["n_segments"] == 3 and row["n_kept"] == 3
    assert row["kept_text"] == "a b c d e"


def test_segment_dedup_newline_segmentation(spark):
    """The real-corpus configuration: segments = newline split."""
    docs = spark.createDataFrame(
        [
            (1, "first line\nsecond line"),
            (2, "second line\nthird line"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in subdoc.segment_dedup_apply(
            docs, F.split(F.col("text"), "\n"), joiner="\n"
        ).collect()
    }
    # newline joiner (ADVICE r9 #1) keeps the line structure of the
    # reassembled document instead of flattening it to one line
    assert out[1]["n_kept"] == 2
    assert out[1]["kept_text"] == "first line\nsecond line"
    assert out[2]["n_kept"] == 1 and out[2]["kept_text"] == "third line"


# --------------------------------------------- leakage-safe split


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every near-dup cluster lands in exactly one split; a naive
    doc-id hash split straddles at least one multi-doc cluster on the
    same input — the leak the operator exists to prevent."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.hashing import (
        md5_int32,
    )

    # 30 clusters of 3 near-identical docs each (ids i, 100+i, 200+i)
    rows = []
    for i in range(30):
        base = f"cluster {i} shares this exact sentence body " * 3
        rows += [
            (i, base + "tail one", "en"),
            (100 + i, base + "tail two", "en"),
            (200 + i, base + "tail three", "en"),
        ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    edges = dd.minhash_lsh_pairs(docs, threshold=0.8)
    comp = dd.connected_components(edges)
    out = subdoc.leakage_safe_split(docs, comp)

    per_cluster = out.groupBy("cluster_id").agg(
        F.countDistinct("split").alias("n_splits"),
        F.count("*").alias("n_docs"),
    )
    assert per_cluster.filter(F.col("n_splits") > 1).count() == 0
    multi = per_cluster.filter(F.col("n_docs") > 1).count()
    assert multi >= 25  # the planted clusters actually formed

    # contrast: bucket each DOC independently (the naive split)
    naive = out.withColumn(
        "naive_split",
        F.when(
            md5_int32(F.concat(F.lit("split-"), F.col("doc_id").cast("string"))) % 100 < 80,
            "train",
        ).otherwise("heldout"),
    )
    straddled = (
        naive.groupBy("cluster_id")
        .agg(F.countDistinct("naive_split").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert straddled >= 1


def test_leakage_safe_split_proportions_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, f"unique text body number {i} " * 4, "en") for i in range(300)],
        "doc_id long, text string, lang string",
    )
    edges = dd.minhash_lsh_pairs(docs, threshold=0.8)
    comp = dd.connected_components(edges)
    out1 = subdoc.leakage_safe_split(docs, comp).collect()
    out2 = subdoc.leakage_safe_split(docs, comp).collect()
    assert sorted(out1) == sorted(out2)
    counts = {}
    for r in out1:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    # 80/10/10 within generous tolerance on 300 singleton clusters
    assert counts["train"] > 200
    assert 0 < counts.get("val", 0) < 80
    assert 0 < counts.get("test", 0) < 80
