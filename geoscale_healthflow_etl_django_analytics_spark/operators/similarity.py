"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a single broadcast of the query
vector against a full scan; exact, and the right answer up to ~10^8
vectors per executor-hour. Scale paths: sign-bucket LSH (bit-packed
hyperplane signs) cuts candidates by ~2^bits; the IVF probe
(:func:`ivf_topk`) searches the ``NPROBE`` inverted lists nearest the
query; Lloyd-refined quantizers (flat, pruned, probe tiers) feed
SemDeDup; ``operators/pq.py`` and ``operators/pq_index.py`` compose
the same probe with product-quantized scoring.

All vector math is `zip_with`/`aggregate` expressions (see
functions/vectors.py) — double precision, sequential fold, so the
DuckDB oracle (list_inner_product with the same formula shape)
produces bit-identical values. Every rank in the stack cuts on the
same contract — the 6-dp-rounded dot (:func:`_sim`) with an ascending
id tiebreak — through one window (:func:`_rank`) or one global top-k
(:func:`_topk`).
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import DECIMAL_TYPE, fround
from ..functions.vectors import as_double, cosine, dot, normalized, sign_bucket

# Settings of the stack, read by the registry's oracle generators too.
DIM = 64  # embedding width
QUERY_VEC_ID = 0  # the stored vector the probe queries search for
SIGN_BITS = 4  # sign-bucket bits of the fixed-width ANN tiers
ANN_K = 5  # results of a sign-bucket ANN probe
COSINE_DUP = 0.35  # cosine at which two embeddings are duplicates
N_CENTROIDS = 8  # seed centroids of the fixed-k quantizers
LLOYD_ITERS = 2  # Lloyd refinement rounds
NPROBE = 2  # inverted lists (or supers) a vector or query probes
ROUTER_ITERS = 2  # Lloyd rounds that train the probe tier's router
# knn_join_adaptive: KNN_K neighbours per vector; the sign-bit count
# keeps buckets near TARGET_BUCKET vectors, within [MIN_BITS, MAX_BITS]
KNN_K = 3
TARGET_BUCKET = 256
MIN_BITS = 4
MAX_BITS = 16


def _sim(u: str, v: str) -> Column:
    """The ranking score of the stack: the dot of two (pre-normalized)
    vector columns, half-away rounded to 6 dp so every rank cut is
    engine-deterministic."""
    return fround(dot(u, v), 6)


def _rank(part: str, *order: Column) -> Column:
    """row_number over ``part`` — the one rank window of the stack."""
    return F.row_number().over(Window.partitionBy(part).orderBy(*order))


def _top_sim(
    pairs: DataFrame,
    keep: list[str],
    part: str,
    cand: str,
    u: str,
    v: str,
    score: str,
    n: int = 1,
) -> DataFrame:
    """The top-``n`` ``cand`` per ``part`` by ``_sim(u, v)`` (``cand``
    ascending breaks ties): ``keep`` plus the score as ``score``. An
    argmax (``n == 1``) filters ``rn = 1``."""
    rn = F.col("rn")
    return (
        pairs.select(*keep, _sim(u, v).alias(score))
        .withColumn("rn", _rank(part, F.desc(score), F.asc(cand)))
        .filter(rn == 1 if n == 1 else rn <= n)
        .drop("rn")
    )


def _topk(df: DataFrame, score: str, tie: str, k: int) -> DataFrame:
    """Global top-``k`` by ``score`` descending, ``tie`` ascending —
    a TakeOrderedAndProject, no full sort."""
    return df.orderBy(F.desc(score), F.asc(tie)).limit(k)


def _unit_vectors(embeddings: DataFrame, *cols: str) -> DataFrame:
    """(vec_id, *cols, nv): the corpus unit-normalized once per row."""
    return embeddings.select("vec_id", *cols, normalized("embedding").alias("nv"))


def _seed_centroids(b: DataFrame, n_centroids: int) -> DataFrame:
    """(cid, cv): the first ``n_centroids`` vectors by id — the
    deterministic seed rule every quantizer here starts from."""
    return b.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("nv").alias("cv")
    )


def _nearest_centroid(
    vecs: DataFrame, cent: DataFrame, score: str = "c_sim"
) -> DataFrame:
    """(vecs columns, cid, score): each vector's nearest centroid of
    ``cent`` (cid, cv) — a broadcast nested-loop against the (tiny)
    centroid table, n x k dot folds over pre-normalized vectors."""
    return _top_sim(
        vecs.crossJoin(F.broadcast(cent)),
        [*vecs.columns, "cid"],
        "vec_id",
        "cid",
        "nv",
        "cv",
        score,
    )


def _query_nv(b: DataFrame, query_vec_id: int) -> DataFrame:
    """The one-row (qv) frame of a stored vector's normalized form."""
    return b.filter(F.col("vec_id") == query_vec_id).select(
        F.col("nv").alias("qv")
    )


def _probe(cent: DataFrame, q: DataFrame, nprobe: int, *carry: str) -> DataFrame:
    """(cid, *carry): the ``nprobe`` centroids of ``cent`` (cid, cv)
    nearest the one-row query ``q`` (qv) — the inverted lists an IVF
    probe reads."""
    scored = cent.crossJoin(F.broadcast(q)).select(
        "cid", *carry, _sim("cv", "qv").alias("c_sim")
    )
    return _topk(scored, "c_sim", "cid", nprobe).select("cid", *carry)


def _query_vector(embeddings: DataFrame, query_vec_id: int) -> DataFrame:
    return embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("vec_id").alias("q_id"), as_double("embedding").alias("q_vec")
    )


def cosine_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10
) -> DataFrame:
    """Brute-force exact top-k by cosine similarity to one stored
    vector. Ranking uses the ROUNDED score (6 dp) with vec_id
    tiebreak so the cut is engine-deterministic."""
    q = _query_vector(embeddings, query_vec_id)
    scored = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            fround(cosine("embedding", "q_vec"), 6).alias("cosine_sim"),
        )
    )
    return _topk(scored, "cosine_sim", "vec_id", k)


def ann_bucketed_topk(embeddings: DataFrame, query_vec_id: int) -> DataFrame:
    """LSH-bucketed ANN: only vectors in the query's ``SIGN_BITS``
    sign-bucket are scored; the top ``ANN_K`` come out. At scale the
    bucket id is a partition/cluster key, so a query touches one
    partition instead of the corpus."""
    q = _query_vector(embeddings, query_vec_id)
    bucketed = embeddings.select(
        "vec_id", "label", "embedding", sign_bucket(F.col("embedding"), SIGN_BITS).alias("bucket")
    )
    q_bucketed = q.select(
        "q_id", "q_vec", sign_bucket(F.col("q_vec"), SIGN_BITS).alias("bucket")
    )
    scored = (
        bucketed.join(F.broadcast(q_bucketed), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            "label",
            F.col("bucket"),
            fround(cosine("embedding", "q_vec"), 6).alias("cosine_sim"),
        )
    )
    return _topk(scored, "cosine_sim", "vec_id", ANN_K)


def embedding_near_dup_pairs(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup detection: sign-bucket blocking →
    per-bucket pairwise cosine → ``COSINE_DUP`` threshold. The blocked
    self-join is the same shape MinHash-LSH uses for text
    (operators/dedup.py).
    The exchange width is pinned like knn_join_adaptive's — an
    expansion join must not inherit AQE's input-byte coalescing."""
    from ..sources.catalog import ensure_parallelism

    embeddings = ensure_parallelism(embeddings)
    b = embeddings.select(
        "vec_id", "embedding", sign_bucket(F.col("embedding"), SIGN_BITS).alias("bucket")
    )
    n_part = int(
        embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    b = b.repartition(n_part, "bucket")
    left = b.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "bucket"
    )
    right = b.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), "bucket"
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "bucket",
            "vec_a",
            "vec_b",
            fround(cosine("emb_a", "emb_b"), 4).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= COSINE_DUP)
    )


def ivf_assignments(embeddings: DataFrame) -> DataFrame:
    """IVF coarse quantization: every vector is assigned to its
    nearest centroid (max cosine), forming the inverted lists a probe
    searches. Centroids are the first ``N_CENTROIDS`` vectors by id —
    a deterministic seed choice so both engines (and repeated runs)
    build identical lists; Lloyd refinement iterations improve recall
    but change nothing about the partition/probe mechanics, which are
    what matters at corpus scale (each list is a partition key, like
    write_bucketed_index's sign-buckets).

    Ranking uses the ROUNDED score (6 dp) with centroid-id tiebreak so
    the argmax is engine-deterministic. Assignment is a broadcast
    nested-loop against the (tiny) centroid set — n × N_CENTROIDS dot
    folds over pre-normalized vectors."""
    b = _unit_vectors(embeddings, "label")
    return _nearest_centroid(b, _seed_centroids(b, N_CENTROIDS)).select(
        "vec_id", "label", "nv", "cid"
    )


def ivf_topk(embeddings: DataFrame, k: int = 10) -> DataFrame:
    """IVF probe for vector ``QUERY_VEC_ID``: rank the ``N_CENTROIDS``
    centroids by similarity to the query, search only the ``NPROBE``
    nearest inverted lists, exact-score the survivors. The
    approximation/probe-cost trade is NPROBE/N_CENTROIDS — the
    standard IVF recall knob. At 100 TB the lists are partition
    directories (cf. write_bucketed_index) and a probe reads NPROBE of
    them, not the corpus."""
    assign = ivf_assignments(embeddings)
    q = _query_nv(assign, QUERY_VEC_ID)
    probed = _probe(_seed_centroids(assign, N_CENTROIDS), q, NPROBE, "qv")
    hits = (
        assign.join(F.broadcast(probed), "cid")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "cid", _sim("nv", "qv").alias("cosine_sim"))
    )
    return _topk(hits, "cosine_sim", "vec_id", k)


def write_bucketed_index(embeddings: DataFrame, path: str) -> None:
    """Persist the corpus partitioned by sign-bucket: the on-disk form
    of the ANN index. A query then reads exactly ONE partition
    directory (partition pruning — verified in tests via the scan's
    file-listing), which is the property that lets a single probe
    touch 1/2^SIGN_BITS of a 100 TB corpus."""
    (
        embeddings.withColumn("bucket", sign_bucket(F.col("embedding"), SIGN_BITS))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def query_bucketed_index(spark, path: str, query_vec: list[float]) -> DataFrame:
    """Probe the on-disk index: compute the query's bucket driver-side,
    read only that partition, score, top ``ANN_K``."""
    bucket = 0
    for i in range(SIGN_BITS):
        if query_vec[i] >= 0:
            bucket |= 1 << i
    q = "array(" + ", ".join(f"{float(x)!r}D" for x in query_vec) + ")"
    part = spark.read.parquet(path).filter(F.col("bucket") == bucket)
    scored = part.select(
        "vec_id", fround(cosine("embedding", q), 6).alias("cosine_sim")
    )
    return _topk(scored, "cosine_sim", "vec_id", ANN_K)


def adaptive_sign_bits(embeddings: DataFrame) -> DataFrame:
    """Single-row frame holding the corpus-adaptive sign-bit count
    ``__n_bits`` = clamp(bitlen(ceil(n/target) - 1), min, max) —
    integer-exact via base-2 string length, no float log2. Exposed so
    tests exercise the PRODUCTION expression rather than re-deriving
    the rule in Python (code-review r5 finding #3)."""
    m = F.floor(
        (F.col("__n") + F.lit(TARGET_BUCKET - 1)) / F.lit(TARGET_BUCKET)
    ).cast("long")
    return embeddings.agg(F.count("*").alias("__n")).select(
        F.greatest(
            F.lit(MIN_BITS),
            F.least(
                F.lit(MAX_BITS),
                F.length(F.conv((m - 1).cast("string"), 10, 2)),
            ),
        )
        .cast("int")
        .alias("__n_bits")
    )


def knn_join_adaptive(embeddings: DataFrame) -> DataFrame:
    """Batch ``KNN_K``-NN self-join with a corpus-ADAPTIVE sign-bucket
    count.

    A fixed bucket count makes any blocked self-join quadratic: with B
    buckets the pair volume is Sigma bucket^2 ~ n^2/B. The round-5
    scale-curve measurement caught exactly that (sim_knn_join 2.3s ->
    38s for 4x data). Fix: the number of sign bits b grows with the
    corpus so the EXPECTED bucket size stays ~``TARGET_BUCKET`` and
    pair volume stays ~n * target — linear.

    b is derived integer-exactly (no float log2 whose last-ulp could
    differ between engines): b = clamp(bitlen(ceil(n/target) - 1),
    MIN_BITS, MAX_BITS), where bitlen is the length of the base-2
    string. The bucket is the 16-bit sign-pack masked to its low b
    bits, so at small n (b = MIN_BITS) the assignment is identical to
    the historical fixed-4-bit behavior. Normalization happens BEFORE
    the self-join (norms computed n times, not once per pair); ranking
    uses the rounded score with vec_b tiebreak so the top-k cut is
    engine-deterministic.

    Scoring stays the sequential ``dot`` fold: an unrolled
    64-term Add tree was measured 7x SLOWER here (24s vs 3.5s at x10
    — 128 codegen element_at calls with per-call null/bounds checks
    lose to the fold's tight interpreted loop), so the scale lever is
    partitioning, not expression form.
    """
    nbits = adaptive_sign_bits(embeddings)
    from ..sources.catalog import ensure_parallelism

    # spread the scan BEFORE the (interpreted) normalize transform —
    # a single-file corpus otherwise serializes it on one core
    embeddings = ensure_parallelism(embeddings)
    b = (
        embeddings.select(
            "vec_id",
            normalized("embedding").alias("nemb"),
            sign_bucket(F.col("embedding"), MAX_BITS).alias("__full"),
        )
        .crossJoin(F.broadcast(nbits))
        .select(
            "vec_id",
            "nemb",
            F.col("__full")
            .bitwiseAND(F.expr("shiftleft(1, __n_bits) - 1"))
            .alias("bucket"),
        )
    )
    # Pin the join's exchange width: AQE sizes (and coalesces) shuffle
    # partitions by INPUT bytes, but a bucketed self-join's OUTPUT is
    # ~target_bucket x its input — at x10 scale AQE folded this join
    # into ONE task and serialized 3.6M array-carrying pairs through a
    # single core (round-5 scale curve). An explicit repartition by the
    # join key is exempt from AQE coalescing, keeps the per-bucket work
    # co-partitioned (no further exchange), and holds on any cluster
    # where the expansion factor, not the input, is the cost.
    n_part = int(
        embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    b = b.repartition(n_part, "bucket")
    left = b.select(
        F.col("vec_id").alias("vec_a"), F.col("nemb").alias("emb_a"), "bucket"
    )
    right = b.select(
        F.col("vec_id").alias("vec_b"), F.col("nemb").alias("emb_b"), "bucket"
    )
    pairs = left.join(right, "bucket").filter(F.col("vec_a") != F.col("vec_b"))
    return _top_sim(
        pairs, ["vec_a", "vec_b"], "vec_a", "vec_b", "emb_a", "emb_b", "cosine_sim", KNN_K
    )


def _centroid_means(
    a: DataFrame, keys: tuple[str, ...], vec: str, out: str
) -> DataFrame:
    """The centroid-mean step of every Lloyd loop in the stack: per
    ``keys`` group, the EXACT decimal mean of each ``vec`` component
    quantized to 8 dp (the exact_sum discipline), reassembled in
    position order as ``out`` — so both engines enter every round
    with bit-identical centroids. One map-side-combinable
    (keys, pos) aggregate, then one k-row collect per key."""
    means = (
        a.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(
            fround(
                F.sum(F.col("x").cast(DECIMAL_TYPE)).cast("double")
                / F.count("*"),
                8,
            ).alias("m")
        )
    )
    return means.groupBy(*keys).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias(out)
    )


def _lloyd_rounds(
    cent: DataFrame,
    assign: Callable[[DataFrame], DataFrame],
    iters: int,
    keys: tuple[str, ...] = ("cid",),
    vec: str = "nv",
) -> DataFrame:
    """The Lloyd loop: ``iters`` rounds of ``assign`` then the
    centroid-mean step from the seed table ``cent``; returns the final
    centroid table (keys, cv).

    Each round's table (k rows) is localCheckpoint-ed: it flattens the
    lineage so the next round's broadcast does not RE-EXECUTE this
    round's full corpus pass — each round's table is consumed 2+ times
    downstream (the pruned assign three times: sup filter, members
    crossJoin, broadcast), so unchecked evaluation cost compounds per
    round, measured 2.6x on the pruned tier (PLANS.md r7). No value
    oracle sees a dropped checkpoint; tests/test_lloyd_checkpoints.py
    pins the build-time job counts instead."""
    for _ in range(iters):
        cent = _centroid_means(assign(cent), keys, vec, "cv").localCheckpoint()
    return cent


def _n_super(n_centroids: int, n_super: int | None) -> int:
    return max(2, math.ceil(math.sqrt(n_centroids))) if n_super is None else n_super


def _supers(cent: DataFrame, n_super: int) -> DataFrame:
    """(sid, sv): the first ``n_super`` centroids as super-centroids."""
    return cent.filter(F.col("cid") < n_super).select(
        F.col("cid").alias("sid"), F.col("cv").alias("sv")
    )


def _member_argmax(cent: DataFrame, sup: DataFrame) -> DataFrame:
    """(cid, cv, sid): each centroid's nearest super (k x s)."""
    return _top_sim(
        cent.crossJoin(F.broadcast(sup)),
        ["cid", "cv", "sid"],
        "cid",
        "sid",
        "cv",
        "sv",
        "c_sup",
    ).drop("c_sup")


def _probe_argmax(
    b: DataFrame, sup: DataFrame, members: DataFrame, n_probe: int
) -> DataFrame:
    """(vec_id, nv, cid, sim): the two-level tail shared by the pruned
    and probe tiers — each vector routes to its top-``n_probe`` supers
    (n x s dot folds, rank with sid tiebreak), then exact-argmaxes only
    the routed supers' member centroids (cid tiebreak)."""
    routed = _top_sim(
        b.crossJoin(F.broadcast(sup)),
        ["vec_id", "nv", "sid"],
        "vec_id",
        "sid",
        "nv",
        "sv",
        "v_sup",
        n_probe,
    ).drop("v_sup")
    return _top_sim(
        routed.join(F.broadcast(members), "sid"),
        ["vec_id", "nv", "cid"],
        "vec_id",
        "cid",
        "nv",
        "cv",
        "sim",
    )


def lloyd_assignments(
    embeddings: DataFrame, n_centroids: int = N_CENTROIDS, iters: int = LLOYD_ITERS
) -> DataFrame:
    """Per-vector assignment after ``iters`` Lloyd (k-means)
    refinement rounds: (vec_id, nv, cid, sim) — the final quantizer
    state both :func:`lloyd_refined_clusters` (per-cluster summary)
    and :func:`semantic_dedup` (within-cluster dup pruning) consume.

    The iterative-algorithm shape on DataFrames: a driver loop BUILDS
    plan depth (score -> argmax -> component-mean per round); nothing
    is collected, and each round is two linear passes — a broadcast
    nested-loop score (n x k dot folds) and a map-side-combinable
    (cid, pos) mean aggregate. At corpus scale rounds add plan
    stages, never shuffle width.

    Cross-engine exactness: centroid components are EXACT decimal
    means quantized to 8 dp (the exact_sum discipline), so both
    engines enter every round with bit-identical centroids; argmax
    uses the rounded score with cid tiebreak. Plain Lloyd on
    unit-normalized inputs (centroids NOT re-normalized — the
    dot-product argmax is the standard IVF coarse quantizer
    objective, cf. faiss IndexIVFFlat's k-means)."""
    b = _unit_vectors(embeddings)

    def assign(cent: DataFrame) -> DataFrame:
        return _nearest_centroid(b, cent, "sim")

    return assign(_lloyd_rounds(_seed_centroids(b, n_centroids), assign, iters))


def lloyd_assignments_pruned(
    embeddings: DataFrame,
    n_centroids: int = N_CENTROIDS,
    n_super: int | None = None,
) -> DataFrame:
    """Two-level (coarse-quantized) Lloyd assignment — the ANN-style
    scale tier of :func:`lloyd_assignments`: instead of scoring every
    vector against all k centroids (n*k dot folds per round — the
    n^1.5 term measured arriving at x200 in PLANS.md), each round
    first routes through s = ceil(sqrt(k)) SUPER-centroids (the first
    s centroids of the round — the same deterministic seed rule one
    level up, the faiss IVF/IMI coarse-quantizer pattern):

    1. centroid -> super: each of the k centroids scores against the
       s supers (k*s — tiny); a super centroid is FORCED to its own
       super (sid = cid for cid < s), so every super has at least one
       member and no vector can route to an empty inverted list.
    2. vector -> super: n*s dot folds, keeping the TOP-``NPROBE``
       supers per vector (rank with sid tiebreak).
    3. exact argmax among the probed supers' member centroids only
       (expected NPROBE*k/s per vector).

    Per-round cost is ~n*(s + NPROBE*k/s)*d — n^1.25*d under the
    k ~ sqrt(n) rule for any constant NPROBE. ``NPROBE`` is 2 (the
    IVF nprobe>1 move), over ``LLOYD_ITERS`` rounds: single-probe routing was MEASURED
    inflating cluster widths at x200 — vectors whose true nearest
    centroid lives in the second-best super pile onto few clusters
    (top cluster 17,731 vs the exact tier's 882; total intra-cluster
    pair work 7.2x, PLANS.md r7), and SemDeDup's pair stage is
    quadratic in cluster width, so router recall is worth one more
    probe. The assignment can still differ from the flat tier's
    where the true nearest centroid lives outside both probed supers
    (the standard ANN recall trade); with n_super >= n_centroids the
    pruning is vacuous and the output is IDENTICAL to
    :func:`lloyd_assignments` (pinned by test). Every stage is a
    deterministic rounded rank, so the DuckDB oracle replays the
    two-level top-n_probe rule exactly — an ANN-style quantizer with
    a full cross-engine value oracle, not a rows-only estimate.

    Output: (vec_id, nv, cid, sim), like the flat tier."""
    n_super = _n_super(n_centroids, n_super)
    b = _unit_vectors(embeddings)

    def assign(cent: DataFrame) -> DataFrame:
        sup = _supers(cent, n_super)
        members = _member_argmax(cent, sup).select(
            "cid",
            "cv",
            F.when(F.col("cid") < n_super, F.col("cid"))
            .otherwise(F.col("sid"))
            .alias("sid"),
        )
        return _probe_argmax(b, sup, members, NPROBE)

    return assign(
        _lloyd_rounds(_seed_centroids(b, n_centroids), assign, LLOYD_ITERS)
    )


def lloyd_assignments_probe(
    embeddings: DataFrame,
    n_centroids: int = N_CENTROIDS,
    n_super: int | None = None,
    n_probe: int = NPROBE,
) -> DataFrame:
    """ANN-probe Lloyd assignment — the production tier the r7 x200
    stage split concluded SemDeDup needs (PLANS.md r7: "approximate
    the SEARCH, not the routing topology"): probe the top-``n_probe``
    inverted lists of a TRAINED coarse quantizer over the EXACT
    centroid set, then exact-argmax only the probed lists' member
    centroids.

    Difference from :func:`lloyd_assignments_pruned` (and why it
    exists): the pruned tier's router uses the first s RAW centroids
    as supers — arbitrary seed vectors, so inverted lists are
    unbalanced and vectors near list boundaries mis-route onto hub
    centroids, inflating cluster widths that SemDeDup's pair stage
    pays QUADRATICALLY (measured x200: top cluster 6,228 with
    n_probe=2 vs the exact tier's 882). Here the router itself is
    k-means-trained: per Lloyd round, ``ROUTER_ITERS`` Lloyd rounds
    run over the k CENTROIDS (k rows — cost k*s*d per round,
    n^0.75*d under k ~ sqrt(n), negligible) so the s supers become
    balanced cluster centers of the centroid population — the faiss
    IVF pattern of training the coarse quantizer instead of
    subsetting the data (cf. IndexIVFFlat's own k-means over the
    dataset sample). Mechanics per assign:

    1. router training: seed supers = first s centroids; each round
       assigns centroids to their nearest super (rounded-rank argmax)
       and recomputes supers as exact-decimal component means (8 dp)
       — the same cross-engine exactness discipline as the main loop.
    2. inverted lists: each centroid -> nearest TRAINED super; only
       supers with members are probe targets (a vector can therefore
       never route to an empty list — no self-pin hack needed).
    3. vector -> top-``n_probe`` non-empty supers (n*s dot folds).
    4. exact argmax among the probed lists' member centroids
       (expected n*n_probe*k/s with balanced lists).

    Per-round cost ~n*(s + n_probe*k/s)*d = n^1.25*d under
    k ~ sqrt(n) — the pruned tier's asymptote with the recall of a
    trained router. With ``n_super >= n_centroids`` AND
    ``n_probe >= n_super`` every centroid is a candidate for every
    vector, so the output is IDENTICAL to :func:`lloyd_assignments`
    regardless of router state (pinned by test). Every stage is a
    deterministic rounded rank over exact-decimal means, so the
    DuckDB oracle replays the full chain — router training included
    — value-exactly.

    Output: (vec_id, nv, cid, sim), like the flat tier."""
    n_super = _n_super(n_centroids, n_super)
    b = _unit_vectors(embeddings)

    def assign(cent: DataFrame) -> DataFrame:
        # router training over the k centroids (all frames <= k rows);
        # inverted lists over the exact centroid set, and only the
        # non-empty trained supers are probe targets
        sup = _supers(cent, n_super)
        for _ in range(ROUTER_ITERS):
            sup = _centroid_means(_member_argmax(cent, sup), ("sid",), "cv", "sv")
        members = _member_argmax(cent, sup).localCheckpoint()
        used = sup.join(members.select("sid").distinct(), "sid").localCheckpoint()
        return _probe_argmax(b, used, members, n_probe)

    # k rows; checkpointed so the router-training passes (ROUTER_ITERS
    # + 1 argmax scans per assign) re-read k rows, not the corpus
    cent = _seed_centroids(b, n_centroids).localCheckpoint()
    return assign(_lloyd_rounds(cent, assign, LLOYD_ITERS))


def semantic_dedup_probe(embeddings: DataFrame) -> DataFrame:
    """:func:`semantic_dedup` with the ANN-PROBE assignment tier
    (:func:`lloyd_assignments_probe`) — the production scale path:
    a k-means-TRAINED coarse quantizer over the exact centroid set,
    top-``NPROBE`` inverted-list probing, exact argmax within the
    probed lists. Same n^1.25*d assign asymptote as the pruned tier
    with the recall (and therefore the cluster-width balance) of a
    trained router — width balance is what SemDeDup's quadratic pair
    stage actually buys (PLANS.md r7 x200 stage splits). Pair,
    duplicate-group, and keep semantics are byte-identical to the
    exact tier (shared tail)."""
    return _semantic_dedup(
        embeddings, None, COSINE_DUP, lambda e, k: lloyd_assignments_probe(e, k)
    )


def lloyd_refined_clusters(embeddings: DataFrame) -> DataFrame:
    """Per-cluster summary of :func:`lloyd_assignments` (see there
    for the iterative plan shape and the cross-engine exactness
    discipline). Output: one row per surviving cluster
    (cid, n_vecs, mean_sim)."""
    final = lloyd_assignments(embeddings)
    return final.groupBy("cid").agg(
        F.count("*").alias("n_vecs"),
        fround(
            F.sum(F.col("sim").cast(DECIMAL_TYPE)).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_sim"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int | None = None,
    iters: int = LLOYD_ITERS,
    eps: float = COSINE_DUP,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus — k-means-cluster the
    embeddings, call two items semantic duplicates when their cosine
    similarity within a cluster reaches ``eps``, and KEEP exactly one
    representative per duplicate group: the member with the LOWEST
    similarity to its centroid (the paper's keep-the-outlier rule —
    it preserves the cluster's diversity), tie-broken by vec_id.

    Composition of already-verified pieces: the quantizer is
    :func:`lloyd_assignments`; duplicate groups are transitive
    closures of the eps-edges via operators/dedup.py::
    connected_components (the same CC that clusters MinHash pairs).

    Scale shape: the assignment is checkpointed once (three
    consumers), the pair stage is a self-join blocked on cid with a
    PINNED repartition (an expansion join must not inherit AQE's
    input-byte coalescing — the r5 lesson), pair scores are single
    dot folds over pre-normalized vectors, the CC edge set is the
    (small) eps-pair output, and the keep decision is one window over
    the corpus partitioned by component.

    ``n_centroids`` defaults to ADAPTIVE — ``max(8, ceil(sqrt(n)))``
    from the corpus count, the paper's own k ~ sqrt(n) practice and
    the same count-derived-plan trick as knn_join_adaptive /
    simhash_adaptive_pairs: a FIXED k would make per-cluster size
    (and the pair self-join) grow quadratically with the corpus,
    while k ~ sqrt(n) keeps expected cluster width ~sqrt(n) and the
    total pair stream ~linear. The oracle replays the identical
    count-derived k via a scalar subquery. Honest bound: exact
    broadcast assignment costs n*k*d per Lloyd round = n^1.5*d under
    this rule; at extreme corpus scale production SemDeDup swaps the
    assign stage for an ANN probe (faiss) — the pair/CC/keep
    semantics pinned here are unchanged by that swap.

    Output: one row per vector —
    (vec_id, cid, centroid_sim, component, keep)."""
    return _semantic_dedup(
        embeddings, n_centroids, eps, lambda e, k: lloyd_assignments(e, k, iters)
    )


def semantic_dedup_pruned(embeddings: DataFrame) -> DataFrame:
    """:func:`semantic_dedup` with the TWO-LEVEL assignment tier
    (:func:`lloyd_assignments_pruned`) — built for the measured
    n^1.5 assign bound (PLANS.md x200 probe): per-round assign cost
    drops to ~n*2*sqrt(k)*d = n^1.25*d. Pair, duplicate-group, and
    keep semantics are byte-identical to the exact tier (shared
    tail); only which centroid a vector routes to can differ, in the
    standard ANN-recall way. Fully oracle-replayed, including the
    two-level argmax chain.

    Router recall is a measured cost knob (PLANS.md r7, x200 stage
    splits). Single-probe routing cut the assign 6.7x (69.8s vs
    468.3s) but piled vectors onto few clusters (top cluster 17,731
    vs the exact tier's 882), and the pair stage is quadratic in
    cluster width — total intra-cluster pair work inflated 7.2x
    (9.26e8 vs 1.29e8), giving back most of the assign savings in
    the tail (559.6s vs 636.4s like-for-like). Routing to the top-2
    supers (``NPROBE`` = 2 — the IVF nprobe move, same
    asymptote) restored width balance: top cluster 6,228, pair work
    2.9e8, assign 62.7s + tail 151.2s = 213.9s — 3x the exact tier,
    with the pair tail now BELOW the exact tier's. The general
    lesson, bought twice by measurement: spend router recall (more
    probes, or at extreme scale an ANN probe to each vector's true
    nearest centroid, e.g. faiss) before accepting cluster-width
    inflation. The skew-split pair join
    (:func:`_dedup_from_assignments`) carries whatever residual
    skew the router leaves."""
    return _semantic_dedup(
        embeddings, None, COSINE_DUP, lambda e, k: lloyd_assignments_pruned(e, k)
    )


def _semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int | None,
    eps: float,
    assign: Callable[[DataFrame, int], DataFrame],
) -> DataFrame:
    """The prologue the three SemDeDup tiers share: spread the scan,
    derive the adaptive ``n_centroids`` (see :func:`semantic_dedup`),
    checkpoint the tier's ``assign(embeddings, n_centroids)`` once
    (three consumers) and run the shared tail."""
    from ..sources.catalog import ensure_parallelism

    embeddings = ensure_parallelism(embeddings)
    if n_centroids is None:
        n_centroids = max(8, math.ceil(math.sqrt(embeddings.count())))
    return _dedup_from_assignments(
        assign(embeddings, n_centroids).localCheckpoint(), eps
    )


def _dedup_from_assignments(
    a: DataFrame, eps: float, slice_cap: int = 1024
) -> DataFrame:
    """Shared SemDeDup tail over a checkpointed (vec_id, nv, cid, sim)
    assignment: cid-blocked eps-pair self-join, duplicate groups via
    connected components, keep-the-outlier window. See
    :func:`semantic_dedup` for the full contract.

    SKEW-SPLIT pair join (r7, found by measurement): a cid-keyed
    self-join puts one cluster's entire n_c^2/2 pair work in ONE
    task, and the pinned repartition that protects expansion joins
    from AQE coalescing (the r5 lesson) also opts the join out of
    AQE's own skew-join splitting — so a fat cluster becomes a
    straggler (the pruned tier's coarse routing produced a 4,367-doc
    cluster at x50 = a 19M-pair single task; 107 s of tail). Fix is
    the standard replicated self-join decomposition, gated by a
    census: clusters over ``slice_cap`` get their LEFT side sliced
    into R = ceil(n_c/cap) deterministic vec_id%R slices and their
    RIGHT side replicated R times, joining on (cid, slice) — every
    pair still produced exactly once (pair (x, y) appears only in
    x's slice), so the ORACLE and output are unchanged; work per
    task drops from n_c^2/2 to ~cap*n_c. Clusters under the cap get
    R=1 (slice 0, no replication) — the census (one count on the
    checkpointed assignment, <= k rows, broadcast back) is the only
    cost the balanced case pays."""
    from .dedup import connected_components

    n_part = int(
        a.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    sizes = a.groupBy("cid").agg(
        F.ceil(F.count("*") / slice_cap).cast("int").alias("n_slices")
    )
    keyed = a.join(F.broadcast(sizes), "cid").repartition(n_part, "cid")
    left = keyed.select(
        "cid",
        F.pmod(F.col("vec_id"), F.col("n_slices")).cast("int").alias("slice"),
        F.col("vec_id").alias("vec_a"),
        F.col("nv").alias("nv_a"),
    )
    right = keyed.select(
        "cid",
        F.explode(F.sequence(F.lit(0), F.col("n_slices") - 1)).alias("slice"),
        F.col("vec_id").alias("vec_b"),
        F.col("nv").alias("nv_b"),
    )
    edges = (
        left.repartition(n_part, "cid", "slice")
        .join(right.repartition(n_part, "cid", "slice"), ["cid", "slice"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            F.col("vec_a").alias("doc_a"),
            F.col("vec_b").alias("doc_b"),
            _sim("nv_a", "nv_b").alias("pair_sim"),
        )
        .filter(F.col("pair_sim") >= eps)
        .select("doc_a", "doc_b")
    )
    comp = connected_components(edges).withColumnRenamed("doc_id", "vec_id")

    lab = (
        a.select("vec_id", "cid", F.col("sim").alias("centroid_sim"))
        .join(comp, "vec_id", "left")
        .withColumn(
            "component", F.coalesce(F.col("component"), F.col("vec_id"))
        )
    )
    keep = _rank("component", F.asc("centroid_sim"), F.asc("vec_id")) == 1
    return lab.select(
        "vec_id", "cid", "centroid_sim", "component", keep.alias("keep")
    )
