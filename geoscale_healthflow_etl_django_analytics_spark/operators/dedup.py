"""Deduplication operators for a large-scale training-data pipeline.

Four tiers, trading exactness for scale (per BASELINE.json's
north-star ops, beyond the reference's surface — the reference's only
dedup is the C14 deterministic-id re-run idempotence,
`weather_data_prec_temp_etl_view.py:72-76`):

1. **Exact** — canonical-form fingerprint (md5) hash-groupBy. One
   shuffle on the fingerprint; scales to any corpus.
2. **N-gram Jaccard** — exact pairwise similarity over k-word
   shingle sets, blocked on a cheap key (lang here). Quadratic per
   block: the ground-truth/verification path, not the scale path.
3. **MinHash + LSH** — signature → bands → bucket join. The scale
   path: candidate generation is linear + one shuffle on band
   hashes; only candidates pay the exact-verify cost.
4. **SimHash** — sketch + banded blocking, near-dups = small Hamming
   distance (pigeonhole: hamming ≤ 3 pairs must share one of 4
   bands). DEFAULT = :func:`simhash_adaptive_pairs` (r7): the
   120-bit wide sketch, a block-combination band plan DERIVED FROM
   THE CORPUS COUNT (Manku/Jain/Sarma WWW'07 multi-block scheme —
   4x30-bit bands while the chance-candidate floor stays under 0.5%
   of corpus size, 20 3-of-6-block 60-bit keys beyond), and an exact
   token-Jaccard verify stage that keeps the OUTPUT linear even on
   low-sketch-entropy corpora. The fixed-band tiers survive fenced:
   :func:`simhash_pairs_wide` (120-bit/30-bit, hamming-only) and the
   60-bit/15-bit :func:`simhash_pairs` whose chance floor (n²/2¹⁵
   per band) makes its output quadratic past ~10⁴ docs.

All pure Column expressions — no Python UDFs. The LSH/SimHash
pipelines hash via md5-derived integers (functions/hashing.py) rather
than murmur3/xxhash64: bit-identical in DuckDB, so the FULL
candidate-generation + verify pipelines are value-hash oracle-checked
(registry.py carries the equivalent ANSI SQL), not just rows-counted.

CONSTRUCTION-TIME EXECUTION: the MinHash-LSH / SimHash pair builders
eagerly ``localCheckpoint()`` their sketch/band tables, so merely
CONSTRUCTING those DataFrames runs the upstream pipeline as Spark
jobs (ADVICE r5 #2 — documented contract). This is deliberate: the
checkpointed table feeds both sides of the expansion self-join plus
the verify stage, and a lazy cache() would race its first use between
them. Build on the *_band_hashes / with_simhash*
primitives directly when only the plan shape is needed; benchmark
harnesses must time builder + action together (scale_bench.py does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    MINHASH_PRIME,
    affine_perm_coeffs,
    md5_int32,
)
from ..functions.text import fingerprint, tokens
from ..functions.exact import fround

# MinHash-LSH settings shared by every pair operator and by the
# registry's oracle generators: NUM_PERM permutation mins over
# functions.text.SHINGLE_K-word shingles, sliced into BANDS bands of
# NUM_PERM // BANDS rows (P(candidate | j) = 1-(1-j^4)^16).
NUM_PERM = 64
BANDS = 16
PAIR_JACCARD = 0.8  # verified shingle Jaccard of a near-dup pair
# Cross-document repeated spans: a SPAN_W-token window shared by at
# least SPAN_MIN_DOCS distinct documents is duplicated text.
SPAN_W = 10
SPAN_MIN_DOCS = 2


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Tier 1 — groups by canonical fingerprint: representative id +
    duplicate count. The 100 TB plan: one hash-shuffle, map-side
    partial counts."""
    return (
        docs.select(
            fingerprint(F.col("text")).alias("fp"),
            F.col("doc_id"),
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    block_on_lang: bool = True,
) -> DataFrame:
    """Tier 2 — exact shingle-set Jaccard pairs.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) over ``SHINGLE_K``-word
    shingles; pairs keyed doc_a < doc_b.
    ``block_on_lang`` keeps the self-join quadratic-per-block only
    (cross-lang dups are then invisible — the trade every blocked
    dedup makes); unblocked mode is the ground-truth path used to
    measure LSH recall in tests. At corpus scale use
    :func:`minhash_lsh_pairs` for candidates and this as the verifier.
    """
    from ..functions.text import word_shingles_sql

    s = docs.selectExpr(
        "doc_id", "lang", f"{word_shingles_sql('text')} AS sh"
    )
    a = s.select(
        F.col("doc_id").alias("doc_a"), F.col("lang"), F.col("sh").alias("sh_a")
    )
    b = s.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("sh").alias("sh_b"),
    )
    if block_on_lang:
        pairs = a.join(b, a.lang == b.lang_b)
    else:
        pairs = a.crossJoin(b)
    pairs = pairs.filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter.cast("double") / union
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            fround(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def repeated_substring_spans(docs: DataFrame) -> DataFrame:
    """Cross-document repeated-substring spans — the EXACT-SUBSTRING
    half of training-data dedup (Lee et al. 2021, arXiv:2107.06499,
    whose production form is a suffix array; this is the
    Spark-native windowed-hash equivalent at window width ``SPAN_W``).

    A ``SPAN_W``-token window whose md5 appears in >= ``SPAN_MIN_DOCS``
    DISTINCT documents is duplicated text; per document,
    overlapping-or-touching duplicated windows (next start within
    ``SPAN_W`` of the previous) merge into maximal spans via
    gaps-and-islands. Output: (doc_id, span_start, span_end,
    dup_windows), token positions 1-based inclusive.

    Scale shape (100 TB): one linear window explode (≈ one row per
    token), one map-side-combinable groupBy on the 32-hex window
    hash with a distinct-doc count, one shuffle join back on the
    hash, and one per-doc window for the island merge — no
    quadratic stage anywhere; the duplicated-window table the join
    carries is output-sized, not corpus-sized. md5 window hashes
    make the whole pipeline replayable in ANSI SQL (the oracle runs
    the identical plan in DuckDB)."""
    from pyspark.sql import Window

    w = SPAN_W
    t = tokens(F.lower(F.col("text")))

    def build(tc: Column) -> Column:
        n = F.size(tc)
        idx = F.sequence(F.lit(1), n - w + 1)
        wins = F.transform(
            idx,
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(tc, i, w))).alias("wh"),
            ),
        )
        return F.when(n >= w, wins).otherwise(
            F.array().cast("array<struct<pos:int,wh:string>>")
        )

    win = (
        docs.select(
            "doc_id",
            F.explode(
                F.element_at(F.transform(F.array(t), build), 1)
            ).alias("pw"),
        )
        .select("doc_id", F.col("pw.pos").alias("pos"), F.col("pw.wh").alias("wh"))
    )
    dup = (
        win.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= SPAN_MIN_DOCS)
        .select("wh")
    )
    # the duplicated-hash table is OUTPUT-scale (a corpus fraction),
    # not dimension-scale: its post-filter size is unknowable at plan
    # time, and AQE's optimistic broadcast of it collected 1.1 GB of
    # build-side partitions to the driver at x200 sf0.1 (measured
    # driver.maxResultSize abort, BENCH_scale_r6 probing) — at 100 TB
    # it can be arbitrarily large. Pin the join to shuffle-hash: both
    # sides exchange on the 32-hex window hash, no driver collection,
    # still codegen.
    dwin = win.join(dup.hint("shuffle_hash"), "wh").select("doc_id", "pos")
    order = Window.partitionBy("doc_id").orderBy("pos")
    running = order.rowsBetween(Window.unboundedPreceding, 0)
    brk = F.when(
        F.col("pos") - F.lag("pos").over(order) <= w, F.lit(0)
    ).otherwise(F.lit(1))
    islands = dwin.withColumn("brk", brk).withColumn(
        "g", F.sum("brk").over(running)
    )
    return (
        islands.groupBy("doc_id", "g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).cast("int").alias("span_end"),
            F.count("*").alias("dup_windows"),
        )
        .select("doc_id", "span_start", "span_end", "dup_windows")
    )


def remove_repeated_spans(docs: DataFrame) -> DataFrame:
    """APPLY stage of cross-document substring dedup: rebuild every
    document with its :func:`repeated_substring_spans` token ranges cut
    out (Lee et al. 2021, arXiv:2107.06499 §4 — they delete every
    duplicated span occurrence and keep the remainder; dropping the
    whole doc would throw away its unique text).

    Output one row per input doc: ``doc_id``, ``n_spans``,
    ``n_tokens`` (pre-cut), ``removed_tokens``, ``clean_text`` (the
    kept tokens of ``lower(text)`` re-joined with single spaces —
    the same canonical token stream the span positions index).

    Scale shape (100 TB): the span table is output-sized, so the
    per-doc span list built by one ``collect_list`` groupBy is small
    (spans per doc are bounded by doc length / SPAN_W); the join back to
    the corpus is a left join on ``doc_id`` — docs with no spans
    never shuffle a payload — and the cut itself is a pure Column
    ``filter`` over the token array with an ``exists`` interval
    probe per kept token (tokens x spans-per-doc, both per-row
    bounded; no Python, no second corpus scan).
    """
    spans = repeated_substring_spans(docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("spans")
    )
    t = tokens(F.lower(F.col("text")))
    out = (
        docs.select("doc_id", t.alias("lt"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.size("spans"), F.lit(0)).cast("int").alias("n_spans"),
            F.size("lt").cast("int").alias("n_tokens"),
            F.filter(
                # sequence(1, 0) would be the DESCENDING [1, 0] on an
                # empty token array — guard to an empty index list
                F.when(
                    F.size("lt") >= 1, F.sequence(F.lit(1), F.size("lt"))
                ).otherwise(F.array().cast("array<int>")),
                lambda i: ~F.coalesce(
                    F.exists(
                        F.col("spans"),
                        lambda sp: (i >= sp["s"]) & (i <= sp["e"]),
                    ),
                    F.lit(False),
                ),
            ).alias("keep"),
            F.col("lt"),
        )
    )
    return out.select(
        "doc_id",
        "n_spans",
        "n_tokens",
        (F.col("n_tokens") - F.size("keep")).cast("int").alias("removed_tokens"),
        F.concat_ws(
            " ", F.transform(F.col("keep"), lambda i: F.element_at(F.col("lt"), i))
        ).alias("clean_text"),
    )


def minhash_perm_band_hashes(docs: DataFrame) -> DataFrame:
    """Tier 3 candidate-generation front half, TRUE-PERMUTATION form:
    (doc_id, band, bh) rows — a classic ``NUM_PERM``-wise MinHash
    signature over ``SHINGLE_K``-word shingles sliced into ``BANDS``
    band hashes.

    Why not one-permutation hashing: OPH (even rotationally densified)
    fills each band from however many of the doc's shingles happen to
    route into its slots — for SHORT docs (tens of shingles) a 4-slot
    band often carries only 1-2 *distinct* min values, so its
    collision probability degrades from j^4 toward j^1..j^2, and docs
    sharing a globally-small shingle hash collide en masse. That floor
    is quadratic in corpus size: the r6 deep scale point measured
    ~495M distinct candidate pairs (vs ~560k true near-dup pairs) at
    x500 sf0.1, OOMing the verify join — plan shape was irrelevant,
    the candidate STREAM was the bottleneck. True permutations make
    per-band collisions genuinely j^4: a random-pair floor of
    n^2 * 16 * j_bg^4, negligible for any realistic background
    similarity j_bg.

    Cost shape: shingle-hash once per doc (md5-derived, oracle-
    replayable), explode to one row per (doc, shingle-hash), then ONE
    codegen groupBy(doc_id) whose aggregate list is the 64 per-
    permutation mins of the affine family (a_i*h + b_i) mod P — the
    64 transforms are arithmetic on an already-computed 8-byte hash,
    all whole-stage codegen, and map-side combine reduces the shuffle
    to ONE row per doc. Band hashes are md5 over the comma-joined
    mins, a fixed 32-hex shuffle key any engine reproduces.

    CONSTRUCTION COST (r12, guide §5): this builder sits inside every
    LSH-family query, and its repetitive trees (the shingle pipeline,
    64 affine mins, 16 band structs) were measured costing ~3 s of
    py4j round trips PER BUILD at one call per expression node.  The
    trees are now composed as SQL strings and parsed by the JVM in a
    handful of expr() calls — the identical expressions (value oracles
    + the one-exchange plan pin hold unchanged), built ~6x faster."""
    from ..functions.hashing import md5_int32_sql
    from ..functions.text import word_shingles_sql
    from ..sources.catalog import ensure_parallelism

    docs = ensure_parallelism(docs, key="doc_id")
    r = NUM_PERM // BANDS
    coeffs = affine_perm_coeffs(NUM_PERM)
    P = MINHASH_PRIME
    shingle_hashes = (
        f"array_distinct(transform({word_shingles_sql('text')}, "
        f"s -> {md5_int32_sql('s')}))"
    )
    shingled = docs.selectExpr(
        "doc_id", f"explode({shingle_hashes}) AS h"
    )
    sig = shingled.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({a}L * (h % {P}L) + {b}L) % {P}L)").alias(f"m{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    band_cells = ", ".join(
        "named_struct('band', CAST({b} AS INT), 'bh', "
        "md5(concat_ws(',', {cols})))".format(
            b=b, cols=", ".join(f"m{b * r + j}" for j in range(r))
        )
        for b in range(BANDS)
    )
    return sig.selectExpr("doc_id", f"inline(array({band_cells}))")


def _verify_candidates(
    docs: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact-verify stage of the MinHash pair operators:
    ``(doc_a, doc_b, jaccard, *extra)`` for the candidate pairs whose
    ``SHINGLE_K``-shingle Jaccard is >= ``threshold``. Candidate columns beyond
    the pair ids (``link_type``) pass through after ``jaccard``.
    ``candidates`` should be materialized: its two id projections and
    the verify join all read it."""
    from ..functions.text import word_shingles_sql

    # shingle ONLY candidate docs: a left-semi against the (tiny)
    # candidate set first means the verify stage re-tokenizes
    # ~|candidates| docs, not the corpus.
    cand_docs = docs.join(
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct(),
        "doc_id",
        "left_semi",
    )
    s = cand_docs.selectExpr(
        "doc_id", f"{word_shingles_sql('text')} AS sh"
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = candidates.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter.cast("double") / union
    extra = [c for c in candidates.columns if c not in ("doc_a", "doc_b")]
    return verified.select(
        "doc_a", "doc_b", fround(jac, 4).alias("jaccard"), *extra
    ).filter(F.col("jaccard") >= threshold)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = PAIR_JACCARD,
    band_table: DataFrame | None = None,
) -> DataFrame:
    """Tier 3 — LSH banding: TRUE-PERMUTATION MinHash signature
    (:func:`minhash_perm_band_hashes`) sliced into ``BANDS`` bands of
    ``NUM_PERM/BANDS`` rows; docs sharing any band-hash become
    candidate pairs; candidates are exact-verified with shingle
    Jaccard >= threshold. (16 bands, rows=4 → P(candidate | j) =
    1-(1-j^4)^16: j=0.8 → 99.98%, j=0.3 → 12% — and with true
    permutations those are the ACTUAL per-pair rates.)

    Scale: explode → shuffle on (band, band_hash, salt) → per-bucket
    pairs. A band bucket above ``_SALT_CAP`` docs (a MEGA-CLUSTER of
    near-identical docs) is split into ``ceil(size/_SALT_TARGET)``
    sub-buckets by an md5-derived per-doc salt, so no single task
    expands a quadratic bucket; the cluster still links up
    transitively (every band re-partitions it differently), which is
    what the downstream connected-components step consumes. Proven by
    tests/test_skew.py::test_lsh_mega_cluster_salted_buckets.

    ``band_table``: a caller that also persists the
    ``(doc_id, band, bh)`` table passes its already-materialized frame
    so the band derivation runs once per corpus.
    """
    # CONSTRUCTION-TIME EXECUTION CONTRACT: the band-hash table is
    # eagerly checkpointed HERE — building this DataFrame runs the
    # shingle → per-permutation-min → band pipeline as a Spark job
    # before any action on the returned frame. Deliberate: three
    # downstream consumers (the over-cap bucket census, both sides of
    # the expansion self-join) read materialized blocks instead of
    # re-deriving the pipeline, and lazy cache() would race its
    # first-use between them. Callers that only want the plan shape
    # should build on minhash_perm_band_hashes directly (ADVICE r5 #2).
    exploded = (
        band_table
        if band_table is not None
        else minhash_perm_band_hashes(docs).localCheckpoint()
    )
    # ADAPTIVE bucket-cap salting, oracle-replayable (md5-derived
    # salt, data-dependent but deterministic). Buckets at or under
    # _SALT_CAP keep salt 0, so at gate corpus sizes the pair set is
    # byte-identical to the unsalted form. Why: one universally-shared
    # rare shingle can pin a slot-min across a whole document family —
    # the round-5 x50 corpus put 3,045 docs in ONE bucket, 9.3M of the
    # query's 10.8M candidate pairs, virtually all false positives. A
    # true near-dup pair split apart here still meets in any of its
    # other 15 bands, so recall loss is confined to pairs whose ONLY
    # collision was the pathological bucket.
    #
    # The census of over-cap buckets runs over the CHECKPOINTED band
    # table and is collected under a hard cap (ADVICE r6 #2):
    #   * empty census (every gate corpus): salt is a LITERAL 0 — no
    #     join stage at all;
    #   * <= _CENSUS_COLLECT_CAP rows: the collected census is
    #     re-parallelized as a local relation and broadcast;
    #   * larger (degenerate corpus): no driver collect; the full
    #     census joins under a pinned shuffle_hash hint.
    census = (
        exploded.groupBy("band", "bh")
        .agg(F.count("*").alias("__bsz"))
        .filter(F.col("__bsz") > _SALT_CAP)
    )
    census_rows = census.limit(_CENSUS_COLLECT_CAP + 1).collect()
    n_salts = F.ceil(F.col("__bsz") / F.lit(_SALT_TARGET)).cast("bigint")
    salted = F.when(
        F.col("__bsz").isNotNull(),
        md5_int32(F.concat_ws(":", F.col("doc_id"), F.col("band")))
        % n_salts,
    ).otherwise(F.lit(0).cast("bigint"))
    if not census_rows:
        exploded = exploded.withColumn("salt", F.lit(0).cast("bigint"))
    elif len(census_rows) <= _CENSUS_COLLECT_CAP:
        overcap = docs.sparkSession.createDataFrame(
            census_rows, census.schema
        )
        exploded = (
            exploded.join(F.broadcast(overcap), ["band", "bh"], "left")
            .withColumn("salt", salted)
            .drop("__bsz")
        )
    else:
        exploded = (
            exploded.join(
                census.hint("shuffle_hash"), ["band", "bh"], "left"
            )
            .withColumn("salt", salted)
            .drop("__bsz")
        )
    bucket_key = ["band", "bh", "salt"]
    # Candidate expansion as a CODEGEN SELF-JOIN on the bucket key over
    # the eagerly-materialized band-hash table (the signature pipeline
    # runs ONCE — both join sides read checkpointed blocks). The
    # previous in-array form (collect_set → nested transform/slice)
    # produced the identical pair set but ran banding's inherent
    # bucket-size-squared expansion in the interpreted expression
    # walker inside ONE post-agg task per bucket — the round-5 x50
    # scale point stalled for minutes on a single straggler exactly
    # that way (same lesson as simhash_pairs). The pinned repartition
    # keeps the expansion spread at any corpus size; the salting above
    # bounds a bucket too hot even for that.
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    banded = exploded.repartition(n_part, *bucket_key)
    a_side = banded.select(*bucket_key, F.col("doc_id").alias("doc_a"))
    b_side = banded.select(*bucket_key, F.col("doc_id").alias("doc_b"))
    candidates = (
        a_side.join(b_side, bucket_key)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        # tiny by construction; eagerly materialized (lineage cut) so
        # the verify stage's consumers read blocks instead of re-running
        # the signature pipeline. localCheckpoint beats cache() here: no
        # lazy-first-use race between the consumers, no growing cache
        # registry across repeated builder invocations.
        .localCheckpoint()
    )
    return _verify_candidates(docs, candidates, threshold)


# Bit i of the sketch is the sign of Σ_tokens(±1 by bit i of the
# token hash). 60 bits (not 64): the token hash is a 15-hex-char md5
# prefix — the widest md5 slice that stays inside signed-64 for the
# SQL-oracle replay.
# Adaptive LSH bucket-cap salting (minhash_lsh_pairs):
# buckets above _SALT_CAP split into ceil(size/_SALT_TARGET) salted
# sub-buckets. Cap chosen above any bucket the gate corpora produce
# (sf0.1 max band bucket is well under 512) so gate outputs are
# byte-identical to the historical unsalted form.
_SALT_CAP = 512
_SALT_TARGET = 128
# Max over-cap census rows the salting stage will pull to the driver
# (ADVICE r6 #2). A census this size means >= _CENSUS_COLLECT_CAP *
# _SALT_CAP band rows live in mega-buckets (~10M+ rows); beyond it the
# census joins via a pinned shuffle_hash hint instead of ever touching
# the driver.
_CENSUS_COLLECT_CAP = 20_000
# Star-contraction rounds before connected_components gives up on a
# fixpoint (O(log n) rounds converge any realistic graph).
_CC_MAX_ITER = 25

SIMHASH_BITS = 60
# SimHash near-dups: hamming distance at most MAX_HAMMING (4 bands stay
# pigeonhole-complete), and for the adaptive tier a verified token-set
# Jaccard of at least SIMHASH_JACCARD.
MAX_HAMMING = 3
SIMHASH_JACCARD = 0.7


def with_simhash(docs: DataFrame) -> DataFrame:
    """Tier 4a — 60-bit SimHash over distinct tokens. md5-derived
    token hashes keep the sketch bit-identical across engines.

    Shape matters for speed (same lesson as the MinHash signature): the
    per-row nested fold — 60 bit positions x every token hash inside
    ``aggregate()`` — runs in the interpreted expression walker and
    measured ~10x slower than this explode → groupBy form, where the
    60 per-bit ±1 sums are plain conditional aggregates inside
    whole-stage codegen with map-side partial aggregation. The
    shuffle moves ≤ one 8-byte hash per (doc, distinct token), and
    the sketch assembles from the 60 signs in one projection.

    Token-less documents are dropped (explode of an empty array emits
    nothing), matching the SQL oracle's unnest behavior: a zero-token
    sum would satisfy ">= 0" for every bit and produce an all-ones
    sketch — making every pair of empty docs a hamming-0 "near-dup"
    and silently diverging from the oracle."""
    from ..functions.hashing import md5_int60_sql
    from ..functions.text import tokens_sql
    from ..sources.catalog import ensure_parallelism

    docs = ensure_parallelism(docs, key="doc_id")
    hashed = docs.selectExpr(
        "doc_id",
        f"explode(transform(array_distinct({tokens_sql('lower(text)')}), "
        f"t -> {md5_int60_sql('t')})) AS h",
    )
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"_b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sketch = " + ".join(
        f"(CASE WHEN _b{i} >= 0 THEN {1 << i}L ELSE 0L END)"
        for i in range(SIMHASH_BITS)
    )
    return bit_sums.selectExpr("doc_id", f"({sketch}) AS simhash")


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Tier 4b (NARROW/COMPAT FORM — small corpora only) — near-dup
    pairs by 60-bit SimHash Hamming distance, blocked on 15-bit
    sub-bands (a pair within hamming ≤ 3 must agree on at least one
    of 4 bands — pigeonhole; wider hamming trades recall).

    BOUNDED SCALE, measured not suspected (BENCH_scale_r5): two docs
    collide in a 15-bit band by pure chance at rate n²/2¹⁵ per band,
    so once the corpus outgrows ~2¹⁵ docs the OUTPUT itself is
    quadratic in corpus size regardless of plan quality — the x50
    point emitted 1.72M collision-floor pairs (vs ~28.6k true
    near-dups) in 28.6 s. Use :func:`simhash_adaptive_pairs` (the
    120-bit/30-bit-band tier, collision floor n²/2³⁰ — sub-linear
    through x50) for anything beyond ~10⁴-doc corpora; this form is
    kept for small-corpus/compat use and as the oracle-pinned 60-bit
    reference semantics.

    Candidate expansion is a CODEGEN SELF-JOIN on (band, bh) over the
    eagerly-materialized sketch table, not an in-array transform. The
    round-5 scale curve measured the in-array form (collect_set →
    nested transform/slice) spending ~67 s at 10x sf0.1: banding is
    inherently quadratic in bucket size (that corpus has 15-bit band
    buckets of ~5k docs → 41M candidates), and the array expansion
    runs that quadratic work in the INTERPRETED expression walker on
    AQE-narrowed post-agg tasks. The join form produces the identical
    pair set, but each candidate is one codegen xor/bit_count row,
    the hamming filter runs BEFORE the distinct (cutting its shuffle
    from all candidates to true near-dups), and the pinned
    repartition keeps the expansion spread across the cluster
    (same AQE-expansion lesson as similarity.knn_join_adaptive). The
    sketch is localCheckpoint-ed so the join's two sides read
    materialized blocks instead of re-running the sketch pipeline."""
    band_bits = SIMHASH_BITS // 4
    band_mask = (1 << band_bits) - 1
    sh = with_simhash(docs).localCheckpoint()
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("simhash"), bi * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("bh"),
                    )
                    for bi in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    n_part = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    banded = banded.repartition(n_part, "band", "bh")
    a = banded.select(
        "band", "bh", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a")
    )
    b = banded.select(
        "band", "bh", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b")
    )
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= MAX_HAMMING)
        .distinct()
    )


def _local_union_find(pairs: list) -> dict:
    """Driver-side union-find with path compression over a SMALL edge
    list (the two-level CC finish — see connected_components). Returns
    node -> component-min for every node appearing in ``pairs``."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by value: smaller id becomes the root, so the
            # root IS the component minimum — no second pass needed.
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = {a for a, _ in pairs} | {b for _, b in pairs}
    return {n: find(n) for n in nodes}


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    local_threshold: int = 200_000,
) -> DataFrame:
    """Duplicate-CLUSTER formation: ``(doc_id, component)`` for every
    endpoint of a near-dup pair graph, ``component`` being the minimum
    id of the node's connected component. This is the step that turns
    pairwise near-dup hits into keep-one-per-cluster decisions in a
    training pipeline.

    TWO-LEVEL EXECUTION (the standard large-graph CC refinement, cf.
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). The distinct edge set is checkpointed once, then at most
    ``local_threshold + 1`` of its rows are collected (each row is two
    ids, so the default caps driver transfer at a few MB). If the cap
    is not hit, those rows ARE the graph: a path-compressed union-find
    finishes on the driver and the result is a driver-built table, with
    no further Spark job. Only a graph above the cap runs the
    distributed loop.

    The loop alternates large-star/small-star contraction — the
    shuffle-efficient CC shape for MapReduce-style engines, converging
    in O(log n) rounds versus O(diameter) for plain min-label
    propagation. Per round: LARGE-STAR connects every neighbor larger
    than u to the minimum of u's closed neighborhood; SMALL-STAR
    re-points u and its not-larger neighbors at that minimum. Both
    only ever replace an endpoint by a smaller node id, so the edge
    set monotonically contracts onto stars rooted at each component's
    minimum id — the same fixpoint as the recursive-CTE oracle. Each
    round is checkpointed to keep lineage flat, and its convergence
    signature returns the exact contracted edge count, so once the
    graph has contracted under ``local_threshold`` edges the remaining
    rounds are replaced by one collect + union-find + a broadcast
    label join.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    # materialize the upstream pipeline exactly ONCE; the fast-path
    # probe, the node universe and the iteration's edge set all read
    # these blocks. Self-loops stay in, so a node appearing only in a
    # self-loop still gets a (singleton) component.
    raw = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .distinct()
        .localCheckpoint()
    )
    id_type = raw.schema["a"].dataType

    def _label_table(comp_map: dict, key: str) -> DataFrame:
        return raw.sparkSession.createDataFrame(
            list(comp_map.items()),
            T.StructType(
                [
                    T.StructField(key, id_type),
                    T.StructField("component", id_type),
                ]
            ),
        )

    # Fast path, ONE bounded job: if the cap is not hit, the collected
    # rows are the complete distinct edge set, and the union-find labels
    # every endpoint (a self-loop only contributes its node).
    rows = raw.limit(local_threshold + 1).collect()
    if len(rows) <= local_threshold:
        return _label_table(
            _local_union_find([(r["a"], r["b"]) for r in rows]), "doc_id"
        )
    # no checkpoint: consumed once by the final label join, reading
    # raw's cached blocks
    nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    cur = raw.filter(F.col("a") != F.col("b")).localCheckpoint()

    def _sig(df: DataFrame) -> tuple:
        """Order-insensitive multiset signature of an edge set — one
        tiny agg job per round in place of a count + anti-join probe.
        Sets are distinct'ed, so signature equality means set equality
        up to a 64-bit hash-sum collision (~2^-64 per round)."""
        dec = "decimal(38,0)"  # hash-sums overflow long under ANSI mode
        row = df.agg(
            F.count("*"),
            F.sum(F.col("a").cast(dec)),
            F.sum(F.col("b").cast(dec)),
            F.sum(F.xxhash64("a", "b").cast(dec)),
        ).collect()[0]
        return tuple(row)

    def _finish_local(edge_rows: list) -> DataFrame:
        """Level-two finish: the contracted edge set is driver-sized.
        Union-find over already-collected rows; the node->min mapping
        is emitted as a broadcast dimension for the label join. Every
        non-isolated node of the ORIGINAL graph still appears as an
        endpoint in the contracted set (contraction only ever
        collapses a node once it points at its component min), so the
        mapping is total over non-singletons; singletons label
        themselves via the coalesce.
        """
        comp_df = _label_table(
            _local_union_find([(r["a"], r["b"]) for r in edge_rows]), "a"
        )
        return nodes.join(
            F.broadcast(comp_df), nodes.node == comp_df.a, "left"
        ).select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )

    # Closed-neighborhood minimum as a window over the edge partition
    # key: ONE exchange per star phase (a groupBy + re-join spelling
    # costs an aggregate exchange AND a join boundary — with AQE each
    # extra boundary is a driver re-plan, the dominant per-round cost
    # once edge volume stops being the bottleneck).
    w_min = F.least(F.col("a"), F.min("b").over(Window.partitionBy("a")))

    cur_sig = _sig(cur)
    for _ in range(_CC_MAX_ITER):
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # large-star: (v, m(u)) for every neighbor v > u. The window
        # sits ABOVE the b>a filter (predicates on non-partition
        # columns don't push through it), so m is the min over the
        # FULL closed neighborhood. No distinct — duplicates are
        # harmless to the min downstream and collapse in the final
        # distinct, saving a shuffle per round.
        large = (
            sym.withColumn("m", w_min)
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # small-star over the large-star output: u and its not-larger
        # neighbors all re-point at the closed-neighborhood minimum
        small = (
            large.union(large.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .filter(F.col("b") <= F.col("a"))
            .withColumn("m", w_min)
        )
        nxt = (
            small.select(F.col("b").alias("v"), F.col("m"))
            .union(small.select(F.col("a").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
            .localCheckpoint()
        )
        nxt_sig = _sig(nxt)
        converged = nxt_sig == cur_sig
        cur, cur_sig = nxt, nxt_sig
        if converged:
            break
        if cur_sig[0] is not None and cur_sig[0] <= local_threshold:
            return _finish_local(cur.collect())
    # fixpoint is a star per component: every edge is (member, root).
    # Roots (and any isolated nodes) label themselves.
    comp = cur.groupBy("a").agg(F.min("b").alias("component"))
    return nodes.join(comp, nodes.node == comp.a, "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    )


def with_simhash_wide(docs: DataFrame) -> DataFrame:
    """120-bit SimHash as two 60-bit halves (md5 hex chars 1-15 and
    16-30) — the WIDE-SKETCH scale tier of :func:`with_simhash`.
    Same explode → groupBy conditional-sum shape (here 120 codegen
    sums); token-less docs drop out identically."""
    from ..functions.hashing import md5_int60_sql
    from ..functions.text import tokens_sql
    from ..sources.catalog import ensure_parallelism

    docs = ensure_parallelism(docs, key="doc_id")
    # SQL-string construction for the repetitive trees (r12, guide §5
    # — see minhash_perm_band_hashes): one md5 per token, two 60-bit
    # slices, 120 conditional sums, two 60-term sketch assemblies.
    hashed = docs.selectExpr(
        "doc_id",
        f"explode(array_distinct({tokens_sql('lower(text)')})) AS t",
    ).selectExpr(
        "doc_id",
        f"{md5_int60_sql('t')} AS h0",
        f"{md5_int60_sql('t', start=16)} AS h1",
    )

    def _sums(col: str, tag: str):
        return [
            F.expr(
                f"sum(CASE WHEN (shiftright({col}, {i}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"_{tag}{i}")
            for i in range(SIMHASH_BITS)
        ]

    sums = hashed.groupBy("doc_id").agg(
        *_sums("h0", "a"), *_sums("h1", "b")
    )

    def _sketch(tag: str) -> str:
        return " + ".join(
            f"(CASE WHEN _{tag}{i} >= 0 THEN {1 << i}L ELSE 0L END)"
            for i in range(SIMHASH_BITS)
        )

    return sums.selectExpr(
        "doc_id", f"({_sketch('a')}) AS sk0", f"({_sketch('b')}) AS sk1"
    )


def simhash_pairs_wide(docs: DataFrame) -> DataFrame:
    """Near-dup pairs by 120-bit SimHash hamming, blocked on FOUR
    30-BIT bands — the scale tier that removes the 60-bit form's
    n^2/2^15 random-collision floor (documented in PLANS.md): a
    30-bit band collides by chance at n^2/2^30, pushing the
    candidate tier back to cluster structure. Hamming <= 3 with 4
    bands stays pigeonhole-complete. It is the 4-block plan of
    :func:`simhash_hamming_survivors` over the checkpointed sketch,
    at the shuffle-partition width. FENCED since r7: the DEFAULT
    surface is :func:`simhash_adaptive_pairs`, which adds the
    corpus-count-derived band plan and an exact Jaccard verify stage
    — this fixed-band, hamming-only form stays registered as the
    oracle-pinned reference semantics (its super-linear output floor
    on low-sketch-entropy corpora is measured in PLANS.md)."""
    return simhash_hamming_survivors(with_simhash_wide(docs).localCheckpoint(), 4)


# ---------------------------------------------------------------------------
# Adaptive SimHash (r7) — corpus-count-derived band plan + exact verify
# ---------------------------------------------------------------------------

# Largest corpus the 4x30-bit plan serves: the expected chance-candidate
# stream of a plan with `keys` band keys of width `w` bits is
# keys * n^2/2 / 2^w; holding it under 0.5% of the corpus size
# (4 * n^2/2 / 2^30 <= 0.005*n) gives n <= 0.005 * 2^29 = 2,684,354.
# Past that the plan widens to 20 3-of-6-block keys of 60 bits
# (20 * n^2/2 / 2^60 <= 0.005*n holds to n ~ 5.7e14 docs — beyond any
# 100 TB corpus), so no third regime is needed.
_SIMHASH_B4_MAX = 2_684_354

# Work-derived width target for the pinned (band, bh) expansion
# exchange (r13, guide §2): one task per ~64k band-key rows.  Small
# enough that per-bucket squared expansion stays spread long before a
# task could balloon, large enough that gate-SF corpora don't pay a
# 32-way exchange + 32 task launches to move a few hundred thousand
# 40-byte rows.
_BAND_ROWS_PER_TASK = 65_536

# The twenty 3-subsets of the six 20-bit sketch blocks, in a fixed
# order shared with the SQL oracle replay (combo index = band id).
SIMHASH_COMBOS6: tuple[tuple[int, int, int], ...] = tuple(
    (i, j, kk)
    for i in range(6)
    for j in range(i + 1, 6)
    for kk in range(j + 1, 6)
)


def simhash_block_plan(n_docs: int) -> int:
    """Number of sketch blocks for the adaptive band plan, derived
    from the corpus count the same way similarity.knn_join_adaptive
    derives its bucket bits (VERDICT r6 "Next round" #1).

    4 blocks -> the classic 4x30-bit quarter bands (keys = single
    blocks, combo size 4-3=1). 6 blocks -> every 3-subset of six
    20-bit blocks concatenated into a 60-bit key (Manku/Jain/Sarma,
    WWW'07 §3): a pair within hamming<=3 has at most 3 dirty blocks,
    so at least one clean 3-subset — pigeonhole-complete either way,
    but the 60-bit key pushes the chance-candidate floor from
    n^2*4/2^31 to n^2*20/2^61."""
    return 4 if n_docs <= _SIMHASH_B4_MAX else 6


def _simhash_banded_keys(sh: DataFrame, blocks: int) -> DataFrame:
    """Explode a (doc_id, sk0, sk1) sketch table into (doc_id, sk0,
    sk1, band, bh) band-key rows under the 4- or 6-block plan."""
    if blocks == 4:
        mask30 = (1 << 30) - 1
        cells = [
            f"named_struct('band', 0, 'bh', sk0 & {mask30})",
            "named_struct('band', 1, 'bh', shiftright(sk0, 30))",
            f"named_struct('band', 2, 'bh', sk1 & {mask30})",
            "named_struct('band', 3, 'bh', shiftright(sk1, 30))",
        ]
    else:
        mask20 = (1 << 20) - 1
        blk = [
            f"(sk0 & {mask20})",
            f"(shiftright(sk0, 20) & {mask20})",
            "shiftright(sk0, 40)",
            f"(sk1 & {mask20})",
            f"(shiftright(sk1, 20) & {mask20})",
            "shiftright(sk1, 40)",
        ]
        cells = [
            f"named_struct('band', {ci}, 'bh', "
            f"({blk[i]} | shiftleft({blk[j]}, 20)) | "
            f"shiftleft({blk[kk]}, 40))"
            for ci, (i, j, kk) in enumerate(SIMHASH_COMBOS6)
        ]
    return sh.selectExpr(
        "doc_id", "sk0", "sk1", f"inline(array({', '.join(cells)}))"
    )


def simhash_hamming_survivors(
    sh: DataFrame, blocks: int, n_docs: int | None = None
) -> DataFrame:
    """Candidate generation + exact hamming filter over a (doc_id,
    sk0, sk1) sketch table, UNcheckpointed (plan-inspectable): band
    explode under the given block plan, pinned (band, bh) repartition
    so the bucket-size-squared expansion stays spread (the AQE post-
    agg-narrowing lesson), codegen self-join, exact 120-bit hamming
    <= ``MAX_HAMMING``, distinct. Returns (doc_a, doc_b, hamming).

    ``n_docs`` (r13, VERDICT r12 next-round #4 / guide §2
    scale-adaptive partitioning): when the caller knows the sketch
    count, the pinned exchange width is WORK-derived — ceil(band-key
    rows / _BAND_ROWS_PER_TASK), never above the configured shuffle
    partitions — instead of the shuffle-partition constant.  At gate
    SF the same expansion runs in a handful of right-sized tasks; at
    corpus scale the row count saturates the configured width, so the
    deep-scale behaviour (the r5 expansion-spread lesson the pin
    exists for) is exactly as before.  Width is a partitioning
    decision only — the pair set is identical under any width."""
    keyed = _simhash_banded_keys(sh, blocks)
    n_part = int(sh.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if n_docs is not None:
        rows = n_docs * (4 if blocks == 4 else len(SIMHASH_COMBOS6))
        n_part = max(1, min(n_part, -(-rows // _BAND_ROWS_PER_TASK)))
    keyed = keyed.repartition(n_part, "band", "bh")
    a = keyed.select(
        "band", "bh", F.col("doc_id").alias("doc_a"),
        F.col("sk0").alias("a0"), F.col("sk1").alias("a1"),
    )
    b = keyed.select(
        "band", "bh", F.col("doc_id").alias("doc_b"),
        F.col("sk0").alias("b0"), F.col("sk1").alias("b1"),
    )
    ham = (
        F.bit_count(F.col("a0").bitwiseXOR(F.col("b0")))
        + F.bit_count(F.col("a1").bitwiseXOR(F.col("b1")))
    ).cast("integer")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= MAX_HAMMING)
        .distinct()
    )


def simhash_adaptive_pairs(docs: DataFrame, blocks: int | None = None) -> DataFrame:
    """THE DEFAULT SimHash surface (r7) — near-dup pairs as
    (doc_a, doc_b, hamming, jaccard): 120-bit sketch, a band plan
    derived from the corpus count (:func:`simhash_block_plan`), exact
    hamming filter, then an exact token-set-Jaccard verify stage that
    keeps pairs at ``SIMHASH_JACCARD`` or above.

    Why both adaptivity AND verification (VERDICT r6 "What's wrong"
    #1): the fixed 4x30 tier showed super-linear OUTPUT growth at
    x500 (~27k of 330k pairs). Because 4x30 banding is already
    pigeonhole-complete and the hamming filter is exact, that excess
    cannot be band chance-collisions (those land at hamming ~60 and
    are filtered) — it is SKETCH-level: low-token-entropy doc pairs
    whose 120-bit sketches agree within 3 bits without high set
    overlap. No band plan removes it; an exact Jaccard check on the
    (linear-sized) hamming-survivor set does, and is what Manku et
    al.'s production pipeline does after its own block filter. The
    band plan adaptivity separately keeps the CANDIDATE stream linear
    (the floor that killed the OPH minhash front half at x500): the
    4-key/30-bit plan's chance-candidate floor n^2*4/2^31 passes 0.5%
    of corpus size at ~2.7M docs, where the plan widens to 20
    3-of-6-block 60-bit keys (good to ~10^14 docs).

    ``blocks`` overrides the plan (tests pin both regimes; the two
    plans are both pigeonhole-complete for hamming<=3, so their final
    outputs are IDENTICAL — asserted by tests/test_dedup.py).

    Scale shape: one sketch shuffle (120 codegen conditional sums,
    map-side combined), one count on the checkpointed sketch, band
    explode (4 or 20 rows/doc) -> pinned repartition on (band, bh) ->
    codegen self-join -> exact hamming -> distinct (linear survivor
    set) -> token semi-join + Jaccard verify on survivors only."""
    from ..functions.text import tokens_sql

    sh = with_simhash_wide(docs).localCheckpoint()
    n_docs = sh.count()
    if blocks is None:
        blocks = simhash_block_plan(n_docs)
    survivors = (
        simhash_hamming_survivors(sh, blocks, n_docs=n_docs)
        # linear-sized by the hamming filter; materialized so the
        # verify stage's three consumers (two id semi-joins + the
        # token join) read blocks, same contract as minhash_lsh_pairs
        .localCheckpoint()
    )
    # exact verify on survivors only, over the SAME distinct-token
    # sets the sketch is built from (SimHash is a token-set cosine
    # sketch, so the verify metric is token-set Jaccard — the shingle
    # variant belongs to the minhash tier)
    tk = docs.join(
        survivors.select(F.col("doc_a").alias("doc_id"))
        .union(survivors.select(F.col("doc_b").alias("doc_id")))
        .distinct(),
        "doc_id",
        "left_semi",
    ).selectExpr(
        "doc_id",
        f"array_distinct({tokens_sql('lower(text)')}) AS tk",
    )
    ta = tk.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("tk_a"))
    tb = tk.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tk_b"))
    inter = F.size(F.array_intersect(F.col("tk_a"), F.col("tk_b")))
    union = F.size(F.col("tk_a")) + F.size(F.col("tk_b")) - inter
    jac = fround(inter.cast("double") / union, 4)
    return (
        survivors.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", "hamming", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= SIMHASH_JACCARD)
    )

