"""Bloom-filter membership pre-screening as pure Column arithmetic.

The production problem this solves (extends the decontamination family
in ``operators/dedup.py`` / ``registry.py``; the reference has no
equivalent — its pipelines are single-process pandas, cf.
``app/etl_app/views`` upload flows): corpus-side n-gram semijoins
shuffle every distinct ``(doc_id, gram)`` of a 100 TB corpus even
though only a vanishing fraction of grams can possibly match the tiny
eval set.  A Bloom filter built over the eval grams is a CONSTANT-size
(``m_bits/8`` bytes — 128 KiB at the 2^20 default, corpus-independent
like the DSIR LM tables) one-row broadcast that each corpus task
probes with pure JVM bit arithmetic, discarding non-matching grams
BEFORE they reach the exchange.  False positives are retired by the
exact verify join that follows, so the composed operator's output is
byte-identical to the exact tier — the filter only changes the
physical plan, never the answer (no false negatives, by construction).

Representation: a DENSE ``array<long>`` of exactly ``m_bits/64``
packed words (always ``m_bits/8`` bytes — 128 KiB at the default,
16 MiB at the ``bloom_plan`` cap), built with one
``groupBy(word).agg(bit_or)`` (map-side combinable), left-joined onto
the full word range and collapsed to a single ordered row — the same
sanctioned scalar-composition shape as the sketch-bounds queries.
Dense, not a map: Spark's map ``element_at`` is a linear key scan,
measured at 25 s of a 30 s x10 cell (see ``bloom_bitmap``).

Hashing: ``xxhash64(gram, seed=i)`` for the k probe positions —
JVM-side, whole-stage-codegen friendly, no Python in the hot path.
The Bloom stage is deliberately NOT replayed by any DuckDB oracle:
correctness never depends on it (exact-verify downstream), which is
what makes the operator oracle-checkable end-to-end despite the
engine-specific hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Defaults sized for real benchmark suites (eval sets are KBs against
# a 100 TB corpus): m = 2^20 bits, k = 7 keeps the false-positive rate
# under ~1% out to ~100k inserted grams ((1 - e^{-kn/m})^k).
BLOOM_M_BITS = 1 << 20
BLOOM_K = 7
# Adaptive sizing bounds (bloom_plan): never below the default, never
# above 2^27 bits (16 MiB broadcast — still executor-trivial).  Past
# the cap the FPR rises and the tier degrades gracefully toward the
# semijoin tier's cost; correctness never moves (exact verify).
BLOOM_M_CAP = 1 << 27
BLOOM_BITS_PER_ITEM = 16  # k=7 at 16 bits/item -> FPR ~ 7e-4


def bloom_plan(n_items: int) -> int:
    """Corpus-count-derived filter size (the simhash_block_plan
    pattern): the smallest power of two >= 16 bits/item, clamped to
    [BLOOM_M_BITS, BLOOM_M_CAP].  The round-8 x10 scale point
    measured WHY this must adapt: the scale corpora grow the eval
    split with the corpus, and a saturated fixed-size filter (FPR ->
    1) pays full probe cost while cutting nothing — 28.9s vs the
    broadcast tier's 8.7s.  Real eval sets are KBs and sit at the
    floor; the clamp keeps adversarial eval sets from inflating the
    broadcast."""
    m = BLOOM_M_BITS
    while m < BLOOM_M_CAP and m < n_items * BLOOM_BITS_PER_ITEM:
        m <<= 1
    return m


def _positions(gram: Column, m_bits: int) -> list[Column]:
    """The ``BLOOM_K`` bit positions for one gram.  ``m_bits`` must be a power
    of two so the modulo is a mask (``& (m-1)`` of a negative xxhash64
    is still non-negative — only low bits survive)."""
    if m_bits & (m_bits - 1):
        raise ValueError(f"m_bits must be a power of two, got {m_bits}")
    return [
        F.xxhash64(gram, F.lit(i)).bitwiseAND(F.lit(m_bits - 1))
        for i in range(BLOOM_K)
    ]


def bloom_bitmap(
    grams: DataFrame,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """ONE-row DataFrame ``(bloom: array<long>)`` — the packed filter
    over every value of ``grams["gram"]``, as a DENSE word array of
    exactly ``m_bits/64`` entries.

    Dense array, NOT a map: Spark's ``element_at`` on a map is a
    LINEAR key scan (ArrayBasedMapData), which the round-8 x10 probe
    measured at ~17 µs/gram against a 32k-entry map — 25 s of the
    tier's 30 s, 3× the entire broadcast tier.  Array ``element_at``
    is O(1) indexing; the same probe pass drops to scan speed.  The
    density cost is bounded by the ``bloom_plan`` cap (2^27 bits →
    a 16 MiB array — still executor-trivial).

    Shape: explode k positions per gram → distinct → pack to
    (word, bits) with a map-side-combinable ``bit_or`` → left-join
    onto the full word range → one ordered collapse.  The row rides
    a ``crossJoin(broadcast(...))`` into the corpus scan (see
    ``registry.dedup_decontaminate_bloom``).
    """
    pos = grams.select(
        F.explode(F.array(*_positions(F.col("gram"), m_bits))).alias(
            "pos"
        )
    ).distinct()
    packed = (
        pos.select(
            F.floor(F.col("pos") / 64).cast("long").alias("word"),
            (F.col("pos") % 64).cast("int").alias("off"),
        )
        .groupBy("word")
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.col("off")
                )
            ).alias("bits")
        )
    )
    dense = (
        grams.sparkSession.range(m_bits // 64)
        .withColumnRenamed("id", "word")
        # packed is <= m/64 rows by construction — broadcast it
        # explicitly so the fill join can never regress to a
        # shuffle+sort under unknown stats
        .join(F.broadcast(packed), "word", "left")
        .select("word", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
    )
    return dense.agg(
        F.array_sort(F.collect_list(F.struct("word", "bits"))).alias("wb")
    ).select(
        F.transform(F.col("wb"), lambda x: x["bits"]).alias("bloom")
    )


def bloom_contains(
    gram: Column,
    bloom: Column,
    m_bits: int = BLOOM_M_BITS,
) -> Column:
    """True iff every one of the gram's k probe bits is set in
    ``bloom`` (the dense ``array<long>`` word array; O(1) indexing —
    see bloom_bitmap).  Guaranteed True for every inserted gram;
    False positives possible at the configured rate, False negatives
    impossible.  ``m_bits`` must match the build."""
    out: Column | None = None
    for pos in _positions(gram, m_bits):
        word_idx = (F.floor(pos / 64) + 1).cast("int")  # 1-based
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        hit = F.element_at(bloom, word_idx).bitwiseAND(mask) != 0
        out = hit if out is None else (out & hit)
    assert out is not None
    return out
