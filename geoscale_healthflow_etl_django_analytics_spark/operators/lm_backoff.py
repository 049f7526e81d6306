"""WORD-level n-gram LM apply with Katz-style BACKOFF — the
coalesce-ladder shape ``lm_pretrained.py:26-29`` promises (VERDICT
r10 "What's missing" #3): a pretrained KenLM-shaped model where the
corpus 3-gram may be ABSENT from the model, and the score backs off
``p3(a,b,c) -> b3(a,b)·p2(b,c) -> b3(a,b)·b2(b)·p1(c)`` — the hard
part of the production CCNet quality filter that the closed-alphabet
char-gram tier deliberately dodges.

Model design (deterministic, engine-reproducible, like
``chargram_table``'s 27^4 construction):

- the open vocabulary is closed by the HASH TRICK: every corpus token
  maps to ``wid = md5_int32(token) % 128`` — the standard
  feature-hashing move, so OOV at the unigram level is impossible by
  construction while trigram/bigram coverage stays genuinely sparse;
- the model CONTAINS a deterministic subset of grams, decided by an
  independent hash (``md5('t3-…') % 10 < 1`` keeps ~10% of the 128³
  trigrams; ``md5('t2-…') % 10 < 4`` keeps ~40% of the 128² bigrams;
  all 128 unigrams exist) — membership is resolved by the JOIN
  (present row vs NULL), exactly how a KenLM table answers it;
- counts are md5-derived (``% 9000 + 1000``); context totals are
  derived FROM the kept-gram tables with one exact-integer groupBy
  (the BM25 df-from-tf discipline — never a second derivation that
  could drift); backoff weights are deterministic per-context
  fractions in [0.25, 0.75).

NLL ladder in INTEGER MICRO-NATS (the ``lm_pretrained`` design
point — transcendentals live in MODEL-sized tables, the corpus path
is broadcast probes + LONG adds, exact and aggregation-order-free):
multiplication of backoff weights becomes ADDITION of their
``-ln`` micro-nat forms, so

    nll(a,b,c) = coalesce(nll3_u, bo3_u(a,b) + nll2_u(b,c),
                          bo3_u(a,b) + bo2_u(b) + nll1_u(c))

The second and third rungs share everything right of ``bo3_u``, and
both are total over (b,c), so the model builder PRE-COALESCES them
into one complete 128²-row table (``nll2bo_u``) — the corpus-path
ladder is then one 2-rung coalesce over three broadcast joins
(sparse trigram LEFT, complete bo3, complete nll2bo).  The 3-rung
ladder is still fully observable: ``has_bi`` rides the pre-coalesced
table so per-doc bigram- and unigram-backoff counts come out exact.

Scale shape: model generation is ``spark.range(128³)`` (2M rows,
filtered to ~210k) — trivial next to any corpus; all three probe
tables broadcast (a few MB); the corpus path is one token pass →
trigram windows via arrays_zip-of-slices (no posexplode self-join) →
three broadcast hash joins → one map-side-combinable LONG-sum agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.exact import fround
from ..functions.hashing import md5_int32

W = 128  # hashed-word-id vocabulary size
UNK = W - 1  # top-UNK vocabulary size of the real-vocab tier; its <unk> wid
TRI_KEEP_MOD, TRI_KEEP_LT = 10, 1  # ~10% of 128^3 trigrams in-model
BI_KEEP_MOD, BI_KEEP_LT = 10, 4  # ~40% of 128^2 bigrams in-model
CNT_MOD, CNT_BASE = 9000, 1000
BO_MOD, BO_BASE = 500, 250  # weight = (md5 % 500 + 250) / 1000
_MICRO = 1_000_000


def _key_hash(prefix: str, *cols: Column) -> Column:
    """md5_int32 of ``prefix || c1 || '_' || c2 …`` with integer
    columns rendered as plain decimal strings — the identical string
    both engines hash."""
    parts: list[Column] = [F.lit(prefix)]
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit("_"))
        parts.append(c.cast("string"))
    return md5_int32(F.concat(*parts))


def _nll_u(p_ratio: Column) -> Column:
    """floor(ln(ratio) * 1e6 + 0.5) as LONG — positive ratios only,
    so half-up equals half-away (the pq._query_lut rounding)."""
    return (
        F.floor(F.log(p_ratio) * F.lit(float(_MICRO)) + F.lit(0.5))
        .cast("long")
    )


def backoff_model(
    spark: SparkSession,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three apply-ready probe tables:

    - ``tri (a, b, c, nll3_u)`` — the SPARSE kept-trigram table;
      a miss here is what triggers backoff;
    - ``bo3 (a, b, bo3_u)`` — complete 128² backoff-weight table,
      ``bo3_u = -ln((md5('b3-a_b') % 500 + 250)/1000)`` micro-nats;
    - ``nll2bo (b, c, nll2bo_u, has_bi)`` — complete 128² table
      pre-coalescing the bigram and unigram rungs:
      ``coalesce(nll2_u(b,c), bo2_u(b) + nll1_u(c))``, with
      ``has_bi`` preserving which rung it was.
    """
    from pyspark.sql import Window as Wd

    # Context totals as WINDOW sums over the generated tables (r12
    # optimization; guide §1.2/§2.4): the former groupBy + join-back
    # spelling inlined the kept-gram derivation TWICE in the physical
    # plan (once for the rows, once for the context aggregate), so the
    # W^3 range + double-md5 filter — the model build's entire cost —
    # ran two full passes, plus an aggregate exchange and a broadcast
    # join per rung.  A window partitioned by the context key computes
    # the identical exact LONG sum in ONE pass with one model-sized
    # exchange and no join.  The windows live strictly on model-sized
    # tables (≤ W^3 rows pre-filter, partitions of ≤ W rows); the
    # corpus path stays broadcast-probes-only (pinned in
    # tests/test_lm_backoff.py).
    ids3 = spark.range(W**3)
    a3 = (F.col("id") / F.lit(W * W)).cast("long") % W
    b3 = (F.col("id") / F.lit(W)).cast("long") % W
    c3 = F.col("id") % W
    tri_kept = ids3.select(
        a3.alias("a"), b3.alias("b"), c3.alias("c")
    ).filter(
        _key_hash("t3-", F.col("a"), F.col("b"), F.col("c")) % TRI_KEEP_MOD
        < TRI_KEEP_LT
    ).withColumn(
        "cnt",
        _key_hash("c3-", F.col("a"), F.col("b"), F.col("c")) % CNT_MOD
        + CNT_BASE,
    )
    ctx3 = F.sum("cnt").over(Wd.partitionBy("a", "b")).cast("long")
    tri = tri_kept.select(
        "a",
        "b",
        "c",
        _nll_u(ctx3.cast("double") / F.col("cnt")).alias("nll3_u"),
    )

    ids2 = spark.range(W * W)
    b2 = (F.col("id") / F.lit(W)).cast("long") % W
    c2 = F.col("id") % W
    pairs = ids2.select(b2.alias("b"), c2.alias("c"))
    bo3 = pairs.select(
        F.col("b").alias("a"),
        F.col("c").alias("b"),
        _nll_u(
            F.lit(1000.0)
            / (
                _key_hash("b3-", F.col("b"), F.col("c")) % BO_MOD + BO_BASE
            ).cast("double")
        ).alias("bo3_u"),
    )
    # nll2bo in ONE pass over the complete 128² pair table, no joins:
    # every component is a per-row md5 expression except the two
    # totals, and BOTH are window sums over partitionBy(b) — ctx2(b)
    # sums the kept bigrams of context b, and the unigram total
    # Σ_c cnt1(c) equals the same window's sum of cnt1 because every
    # partition b contains each c exactly once.
    has_bi = (
        _key_hash("t2-", F.col("b"), F.col("c")) % BI_KEEP_MOD < BI_KEEP_LT
    )
    cnt2 = _key_hash("c2-", F.col("b"), F.col("c")) % CNT_MOD + CNT_BASE
    ctx2 = (
        F.sum(F.when(has_bi, cnt2)).over(Wd.partitionBy("b")).cast("long")
    )
    nll2_u = F.when(
        has_bi, _nll_u(ctx2.cast("double") / cnt2)
    )
    bo2_u = _nll_u(
        F.lit(1000.0)
        / (_key_hash("b2-", F.col("b")) % BO_MOD + BO_BASE).cast("double")
    )
    cnt1 = _key_hash("c1-", F.col("c")) % CNT_MOD + CNT_BASE
    tot1 = F.sum(cnt1).over(Wd.partitionBy("b")).cast("long")
    nll1_u = _nll_u(tot1.cast("double") / cnt1)
    nll2bo = pairs.select(
        "b",
        "c",
        F.coalesce(nll2_u, bo2_u + nll1_u).alias("nll2bo_u"),
        has_bi.alias("has_bi"),
    )
    return tri, bo3, nll2bo


def _score_windows(ws: DataFrame, keys: list[str]) -> DataFrame:
    """The corpus path shared by both tiers: ``ws`` carries ``keys``
    plus the per-doc wid array ``ws`` (already filtered to >= 3
    wids).  Each doc contributes its ``len-2`` interior trigram
    windows; the ladder resolves per gram as
    ``coalesce(nll3_u, bo3_u + nll2bo_u)`` over three broadcast
    probes; the per-doc sum is an exact LONG sum of micro-nats, its
    mean rounded to 6 dp.
    Returns ``(*keys, n_grams, n_bigram_backoffs, n_unigram_backoffs,
    mean_nll, perplexity)``."""
    tri, bo3, nll2bo = backoff_model(ws.sparkSession)
    grams = ws.selectExpr(
        *keys,
        "inline(transform(sequence(1, size(ws) - 2), i -> named_struct("
        "'a', element_at(ws, i), 'b', element_at(ws, i + 1), "
        "'c', element_at(ws, i + 2))))",
    )
    scored = (
        grams.join(F.broadcast(tri), ["a", "b", "c"], "left")
        .join(F.broadcast(bo3), ["a", "b"])
        .join(F.broadcast(nll2bo), ["b", "c"])
        .select(
            *keys,
            F.coalesce(
                F.col("nll3_u"), F.col("bo3_u") + F.col("nll2bo_u")
            ).alias("nll_u"),
            F.col("nll3_u").isNull().cast("int").alias("bo"),
            (F.col("nll3_u").isNull() & ~F.col("has_bi"))
            .cast("int")
            .alias("bo1"),
        )
    )
    per_doc = scored.groupBy(*keys).agg(
        F.count("*").cast("int").alias("n_grams"),
        F.sum("bo").cast("int").alias("n_bigram_backoffs"),
        F.sum("bo1").cast("int").alias("n_unigram_backoffs"),
        fround(
            F.sum("nll_u").cast("double")
            / F.lit(float(_MICRO))
            / F.count("*"),
            6,
        ).alias("mean_nll"),
    )
    return per_doc.select(
        *keys,
        "n_grams",
        "n_bigram_backoffs",
        "n_unigram_backoffs",
        "mean_nll",
        fround(F.exp(F.col("mean_nll")), 4).alias("perplexity"),
    )


def backoff_lm_scores(docs: DataFrame) -> DataFrame:
    """Per-document backoff-LM score: (doc_id, n_grams,
    n_bigram_backoffs, n_unigram_backoffs, mean_nll, perplexity).

    Tokens (whitespace, lowered) hash to wids; each doc contributes
    its ``len-2`` interior trigram windows (docs with <3 tokens drop,
    the bigram-LM convention — no BOS padding, so every scored gram
    has a real 2-word context), scored by :func:`_score_windows`."""
    from ..functions.hashing import md5_int32_sql
    from ..functions.text import tokens_sql

    # SQL-string construction for the token/gram trees (r12, guide §5
    # — see dedup.minhash_perm_band_hashes for the measured rationale)
    ws = docs.selectExpr(
        "doc_id",
        f"transform({tokens_sql('lower(text)')}, "
        f"t -> {md5_int32_sql('t')} % {W}) AS ws",
    ).filter(F.size("ws") >= 3)
    return _score_windows(ws, ["doc_id"])


def top_k_vocab(docs: DataFrame) -> list[tuple[str, int]]:
    """The corpus-derived top-``UNK`` vocabulary as ``(token, wid)``
    with wid = frequency rank (0-based), ties broken by token —
    deterministic in both engines.  Token counting is one map-side-
    combinable groupBy over the exploded token stream; the top-k is
    TakeOrderedAndProject, and the returned list is a BOUNDED driver
    collect (``UNK`` rows, the nprobe-ids pattern) destined for a
    broadcast-style map literal in the apply expression."""
    counts = (
        docs.select(
            F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    rows = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(UNK).collect()
    return [(r["token"], i) for i, r in enumerate(rows)]


def backoff_lm_scores_vocab(docs: DataFrame) -> DataFrame:
    """:func:`backoff_lm_scores` with a REAL corpus-derived vocabulary
    instead of the hash trick (VERDICT r11 next-round #6: a 128-bucket
    hash vocab exercises the ladder, but every "word" is a 1/128
    collision class — the CCNet filter's actual shape is a top-K
    vocabulary with an ``<unk>`` floor and a measured OOV rate).

    The top-``UNK`` tokens (frequency rank, ties by token) map to wids
    0..UNK-1; everything else maps to the ``<unk>`` wid ``UNK`` — so
    with UNK = 127 the id space is exactly the model's 128 and
    the SAME pretrained tables serve both tiers (an id is an id; what
    changed is that each non-unk id now denotes ONE word).  The
    token→wid map rides the plan as a literal map expression built
    from the bounded vocab collect — an expression-level broadcast
    LUT, no per-token join or shuffle.  Output adds ``n_tokens`` and
    ``n_unk`` per doc, so the OOV rate is measurable row-wise and in
    aggregate."""
    vocab = top_k_vocab(docs)
    map_args: list[Column] = []
    for tok, wid in vocab:
        map_args.append(F.lit(tok))
        map_args.append(F.lit(wid))
    vmap = F.create_map(*map_args) if map_args else F.create_map()
    ws = docs.select(
        "doc_id",
        F.transform(
            T.tokens(F.lower(F.col("text"))),
            lambda t: F.coalesce(
                vmap[t], F.lit(UNK).cast("long")
            ),
        ).alias("ws"),
    )
    counted = ws.selectExpr(
        "doc_id",
        "ws",
        "size(ws) AS n_tokens",
        f"size(filter(ws, w -> w = {UNK})) AS n_unk",
    ).filter(F.size("ws") >= 3)
    return _score_windows(counted, ["doc_id", "n_tokens", "n_unk"])
