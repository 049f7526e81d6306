"""Product-quantization (PQ) ANN — asymmetric distance computation
over compact codes (Jégou, Douze & Schmid, TPAMI 2011).

Third member of the ANN family next to the sign-bucket LSH and the
IVF probe (``operators/similarity.py``): where IVF prunes WHICH
vectors a query scores, PQ shrinks WHAT is stored and scored per
vector.  Each (unit-normalized) vector is split into ``PQ_M``
subspaces; each subvector is replaced by the id of its nearest entry
in a per-subspace codebook of ``PQ_KS`` centroids — here 4 codes of
16 entries, i.e. 4 bytes per vector instead of 256 (64 floats): a 64×
smaller index that keeps a billion-vector corpus memory-resident.  A
query builds one ``PQ_M × PQ_KS`` lookup table of subspace inner
products (ADC), after which scoring a vector is ``PQ_M`` table
lookups and adds —
no per-vector float dot product at all.

Determinism / oracle contract (mirrors ``ivf_assignments``):
codebook entries are the subvectors of the first ``PQ_KS`` vectors
by id; encoding argmin ranks the 6-dp-ROUNDED squared L2 with
centroid-id tiebreak; and the ADC sum runs in integer micro-units
(each LUT cell is ``round(ip * 1e6)`` as a long) so the per-vector
sum is exact integer arithmetic — associative, hence independent of
both engines' aggregation order.  The whole chain (slice → encode →
LUT → ADC → rerank) replays value-exactly in DuckDB.

Scale shape: the codebook (m·ks rows) and the one-row LUT map are
constant-size broadcasts; encoding is one corpus pass against the
broadcast codebook with a map-side-combinable ``min_by`` per
(vector, subspace) — a one-time index-build cost, persisted in
production like ``write_bucketed_index``'s layout; query-time ADC
touches only the 4-byte codes.  A top-``PQ_RERANK`` shortlist by ADC
score (TakeOrderedAndProject — no full sort) is exact-reranked with
true cosine, the standard PQ recall repair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exact import DECIMAL_TYPE, fround, fround_sql
from ..functions.vectors import dot_sql
from .similarity import (
    DIM,
    LLOYD_ITERS,
    N_CENTROIDS,
    NPROBE,
    QUERY_VEC_ID,
    _lloyd_rounds,
    _probe,
    _query_nv,
    _seed_centroids,
    _sim,
    _topk,
    _unit_vectors,
    ivf_assignments,
)

PQ_M = 4  # subspaces
PQ_KS = 16  # codebook entries per subspace
PQ_K = 10  # results of a PQ query
PQ_RERANK = 50  # ADC shortlist that is exact-reranked
_MICRO = 1_000_000  # LUT micro-units: exact integer ADC sums
# LUT cell key = s * _CELL_STRIDE + cid.  A fixed stride, NOT ks: the
# codebooks parameter lets a trained table with more than ks entries
# drive the same chain, and a ks-based stride would silently collide
# cells across subspaces (cid=ks in subspace s lands on cid=0 of
# s+1).  2^20 is unreachable by any realistic per-subspace codebook.
_CELL_STRIDE = 1 << 20


def _subspaces(nv: Column) -> Column:
    """array of PQ_M structs (s, sv) — the subvector decomposition."""
    sub = DIM // PQ_M
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(nv, s * sub + 1, sub).alias("sv"),
            )
            for s in range(PQ_M)
        ]
    )


def pq_subvectors(
    embeddings: DataFrame, dim: int = DIM, m: int = PQ_M
) -> DataFrame:
    """(vec_id, label, s, sv): unit-normalized vectors sliced into m
    subvectors — the shared front half of codebook, encode and LUT.

    Composed as SQL strings (r12, guide §5): this helper is built 3x
    per PQ query (codebooks, codes, query slices) and its normalize +
    slice + explode tree was measured costing ~1 s of py4j round
    trips PER BUILD; the string form parses in two expr() calls."""
    sub = dim // m
    cells = ", ".join(
        f"named_struct('s', {s}, 'sv', slice(nv, {s * sub + 1}, {sub}))"
        for s in range(m)
    )
    return _unit_vectors(embeddings, "label").selectExpr(
        "vec_id", "label", f"inline(array({cells}))"
    )


def pq_codebooks(
    embeddings: DataFrame, dim: int = DIM, m: int = PQ_M, ks: int = PQ_KS
) -> DataFrame:
    """(s, cid, cv): per-subspace codebooks — the subvectors of the
    first ``ks`` vectors by id (deterministic seeds, the
    ivf_assignments convention; k-means refinement would improve
    quantization error but changes nothing about code/ADC mechanics)."""
    return pq_subvectors(
        embeddings.filter(F.col("vec_id") < ks), dim, m
    ).select("s", F.col("vec_id").alias("cid"), F.col("sv").alias("cv"))


def pq_codes(
    embeddings: DataFrame, codebooks: DataFrame | None = None
) -> DataFrame:
    """(vec_id, s, code): the compact index — nearest codebook entry
    per (vector, subspace) by 6-dp-rounded squared L2, cid tiebreak.
    ``codebooks`` overrides the seed codebooks (e.g. the Lloyd-trained
    table from :func:`pq_train_codebooks`).

    One pass against the broadcast codebook; the argmin is a
    map-side-combinable ``min_by`` (no window, no n·ks-row shuffle —
    the exchange carries one row per (vector, subspace))."""
    sub = pq_subvectors(embeddings)
    cb = codebooks if codebooks is not None else pq_codebooks(embeddings)
    # delegate to the shared assign so the encode contract (6-dp
    # rounded L2, (d, cid) tiebreak) lives in exactly one place next
    # to the Lloyd training that must match it
    return _assign_subvectors(sub, cb, with_sv=False).select(
        "vec_id", "s", "code"
    )


def _query_lut(cb: DataFrame, qsub: DataFrame) -> DataFrame:
    """One-row ADC lookup table: key ``s*_CELL_STRIDE + cid`` ->
    ``round(ip * 1e6)`` as a long.  The SINGLE home of the LUT
    rounding contract (ADVICE r8: pq_topk and ivfpq_topk carried
    verbatim copies; the rounding is subtle enough that divergent
    edits would silently desynchronize two oracle-checked chains):
    half-away-from-zero on the BINARY double, like ``fround``
    (F.round rounds the shortest decimal repr — diverges from
    DuckDB); the integer is built directly, never via a
    reconstructed double that could truncate on cast."""
    d = dot_sql("qs", "cv")
    return (
        cb.join(F.broadcast(qsub), "s")
        .selectExpr(
            f"CAST(s AS BIGINT) * {_CELL_STRIDE} + cid AS cell",
            f"CAST(signum({d}) * floor(abs({d}) * {_MICRO} + 0.5D) "
            "AS BIGINT) AS ip_u",
        )
        .agg(
            F.map_from_arrays(
                F.collect_list("cell"), F.collect_list("ip_u")
            ).alias("lut")
        )
    )


def pq_topk(
    embeddings: DataFrame, codebooks: DataFrame | None = None
) -> DataFrame:
    """ADC top-k for vector ``QUERY_VEC_ID``: score every code against
    the query's LUT (integer micro-unit adds), shortlist top
    ``PQ_RERANK`` by approx score, exact cosine rerank, emit top
    ``PQ_K`` (query excluded).  ``codebooks`` overrides the seed
    codebooks (e.g. Lloyd-trained)."""
    b = _unit_vectors(embeddings, "label")
    lut, codes = _query_codes(embeddings, codebooks)
    return _adc_topk(
        codes.filter(F.col("vec_id") != QUERY_VEC_ID),
        lut,
        b,
        _query_nv(b, QUERY_VEC_ID),
        PQ_K,
        PQ_RERANK,
    )


def _query_codes(
    embeddings: DataFrame, codebooks: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """(lut, codes): the stored query vector's ADC lookup table and the
    corpus codes, both over ``codebooks`` (default: the seed
    codebooks)."""
    cb = codebooks if codebooks is not None else pq_codebooks(embeddings)
    qsub = pq_subvectors(
        embeddings.filter(F.col("vec_id") == QUERY_VEC_ID)
    ).select("s", F.col("sv").alias("qs"))
    return _query_lut(cb, qsub), pq_codes(embeddings, codebooks=cb)


def _adc_topk(
    codes: DataFrame,
    lut: DataFrame,
    vectors: DataFrame,
    q: DataFrame,
    k: int,
    rerank: int,
) -> DataFrame:
    """The ADC scorer and exact-cosine rerank of every PQ query path:
    each (vec_id, s, code) row looks up its LUT cell, the per-vector
    sum runs in integer micro-units (exact, hence independent of both
    engines' aggregation order), the top ``rerank`` approx scores
    (vec_id tiebreak) are re-scored with the true cosine against
    ``vectors`` (vec_id, label, nv) and the one-row query ``q`` (qv),
    and the top ``k`` come out."""
    approx = (
        codes.crossJoin(F.broadcast(lut))
        .selectExpr(
            "vec_id",
            f"element_at(lut, CAST(s AS BIGINT) * {_CELL_STRIDE} + code) "
            "AS ip_u",
        )
        .groupBy("vec_id")
        .agg(
            fround(F.sum("ip_u") / F.lit(float(_MICRO)), 6).alias(
                "approx_score"
            )
        )
    )
    reranked = (
        _topk(approx, "approx_score", "vec_id", rerank)
        .join(vectors, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "approx_score",
            _sim("nv", "qv").alias("cosine_sim"),
        )
    )
    return _topk(reranked, "cosine_sim", "vec_id", k)


def ivfpq_topk(
    embeddings: DataFrame,
    nprobe: int = NPROBE,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: coarse routing composed with compact-code scoring —
    the standard billion-scale ANN index layout (FAISS ``IVFx,PQy``
    shape, non-residual variant): IVF prunes WHICH inverted lists a
    query reads (IO/partition pruning — each list is a partition
    directory at scale, cf. ``write_bucketed_index``), PQ shrinks
    WHAT those lists store (4-byte codes) and how survivors are
    scored (LUT lookups, no float dot products).  The two
    approximations multiply: a probe touches ``nprobe/N_CENTROIDS``
    of the corpus and scores it at PQ cost; only the top-``PQ_RERANK``
    shortlist ever reads a full vector again.

    Composes the verified pieces unchanged: coarse assignment is
    ``similarity.ivf_assignments`` (deterministic seed centroids,
    rounded-argmax), codes/LUT/ADC are this module's (integer
    micro-unit sums), so the full chain replays in DuckDB like both
    parents."""
    assign = ivf_assignments(embeddings)
    q = _query_nv(assign, QUERY_VEC_ID)
    probed = _probe(_seed_centroids(assign, N_CENTROIDS), q, nprobe)
    # the probed lists' members — at scale this is partition pruning,
    # here a broadcast semi-join against the nprobe-row list ids
    members = assign.join(F.broadcast(probed), "cid").select(
        "vec_id", "label", "nv"
    )
    # ADC over member codes only (global, non-residual codebooks);
    # ``codebooks`` overrides the seed codebooks — the trained
    # quantizer from pq_train_codebooks plugs straight in (ADVICE r8)
    lut, codes = _query_codes(embeddings, codebooks)
    codes = codes.join(members.select("vec_id"), "vec_id", "left_semi").filter(
        F.col("vec_id") != QUERY_VEC_ID
    )
    return _adc_topk(codes, lut, members, q, PQ_K, PQ_RERANK)


def pq_lloyd_codebooks(
    embeddings: DataFrame, iters: int = LLOYD_ITERS
) -> DataFrame:
    """Per-subspace k-means-refined PQ codebooks — the TRAINED
    quantizer (Jégou et al. §III trains each subspace codebook with
    Lloyd; the seed-codebook tier demonstrates code/ADC mechanics,
    this is what production would persist).  Same iterative-plan
    shape as ``similarity.lloyd_assignments``, run over all m
    subspaces at once: per round one broadcast-codebook scoring pass
    (the argmin is a single min(struct) aggregate — map-side
    combinable, no window), then exact-decimal 8-dp component means
    per (subspace, code, position), so both engines enter every
    round with bit-identical codebooks.  A code that loses all
    members simply drops out of the next round's codebook — the
    standard empty-cluster shrink, mirrored by the oracle.

    Output: one row per surviving (s, cid) — membership count and
    exact-mean quantization distance after refinement, the training
    summary a codebook registry would record."""
    sub = pq_subvectors(embeddings)
    cur = pq_train_codebooks(embeddings, iters=iters)
    final = _assign_subvectors(sub, cur, with_sv=False)
    return final.groupBy("s", F.col("code").alias("cid")).agg(
        F.count("*").alias("n_assigned"),
        fround(
            F.sum(F.col("d").cast(DECIMAL_TYPE)).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_l2"),
    )


def _assign_subvectors(
    sub: DataFrame, cb_df: DataFrame, with_sv: bool = True
) -> DataFrame:
    """(vec_id, s, code, d[, sv]): nearest codebook entry per
    (vector, subspace) by 6-dp-rounded squared L2, cid tiebreak — one
    broadcast join and one min(struct) aggregate (map-side
    combinable, no window).  This is the SINGLE home of the encode
    contract; pq_codes, Lloyd training and the training summary all
    delegate here so the rounding/tiebreak can never desynchronize.

    ``with_sv=False`` drops the subvector from the aggregate —
    consumers that only need (code, d) (the compact index, the
    training summary) should not drag ~d/m doubles per row through
    the groupBy exchange."""
    l2 = F.expr(
        fround_sql(
            f"{dot_sql('sv', 'sv')} - 2 * {dot_sql('sv', 'cv')} "
            f"+ {dot_sql('cv', 'cv')}",
            6,
        )
    )
    scored = sub.join(F.broadcast(cb_df), "s").select(
        "vec_id", "s", "sv", "cid", l2.alias("d")
    )
    aggs = [F.min(F.struct("d", "cid")).alias("w")]
    cols = [
        F.col("vec_id"),
        F.col("s"),
        F.col("w.cid").alias("code"),
        F.col("w.d").alias("d"),
    ]
    if with_sv:
        aggs.append(F.min_by("sv", F.struct("d", "cid")).alias("sv"))
        cols.append(F.col("sv"))
    return scored.groupBy("vec_id", "s").agg(*aggs).select(*cols)


def pq_train_codebooks(
    embeddings: DataFrame,
    dim: int = DIM,
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = LLOYD_ITERS,
) -> DataFrame:
    """(s, cid, cv): the Lloyd-trained codebooks — ``iters`` rounds of
    assign + exact-decimal 8-dp component means from the seed
    codebooks (see pq_lloyd_codebooks for the full contract)."""
    sub = pq_subvectors(embeddings, dim, m)
    return _lloyd_rounds(
        pq_codebooks(embeddings, dim, m, ks),
        lambda cb: _assign_subvectors(sub, cb).withColumnRenamed("code", "cid"),
        iters,
        keys=("s", "cid"),
        vec="sv",
    )
