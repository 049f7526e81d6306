"""Text-analysis expression library (training-data-pipeline ops).

Beyond the reference's surface: language-ID heuristics, quality
scoring, token counting and fingerprinting for an LLM data pipeline,
all as JVM-side Column expressions (no Python in the hot path) so
they hold up on a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from .exact import fround

# a tiny function-word list; enough for a deterministic heuristic.
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is", "it")
# words per shingle of the near-dup tiers (operators/dedup.py)
SHINGLE_K = 3


def tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string> (drops empty tokens)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    """SQL-string twin of :func:`tokens` — the identical tree composed
    as text, so hot builders parse the whole subtree in one JVM call
    instead of one py4j round trip per node (r12; see
    hashing.md5_int32_sql for the rationale and drift guard)."""
    return f"filter(split(trim({expr}), '\\\\s+'), t -> t != '')"


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


# BPE-style pre-tokenization (GPT-2-family shape: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs).
# Deliberately lookahead-free so Java regex (Spark) and RE2 (DuckDB
# oracle) extract identical token lists; the trailing-whitespace
# alternative of the original pattern is dropped for the same reason.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pre-tokenization → array<string>. Approximates an LLM
    tokenizer's pre-split (the unit BPE merges operate on), which is
    the practical 'how many tokens is this corpus' estimator when the
    real merge table isn't shipped with the engine."""
    return F.regexp_extract_all(col, F.lit(BPE_PATTERN), F.lit(0))


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col))


def avg_token_length(col: Column) -> Column:
    """Mean token length (2 dp), 0.0 for empty docs."""
    toks = tokens(col)
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n = F.size(toks)
    return fround(
        F.when(n > 0, total_len.cast("double") / n).otherwise(0.0), 2
    )


def stopword_count(col: Column) -> Column:
    toks = tokens(F.lower(col))
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


def stopword_ratio(col: Column, decimals: int = 4) -> Column:
    n = token_count(col)
    return fround(
        F.when(n > 0, stopword_count(col).cast("double") / n).otherwise(0.0),
        decimals,
    )


def non_alpha_ratio(col: Column, decimals: int = 4) -> Column:
    """Share of characters that are not [a-z ] after lowering —
    punctuation/digit density as a quality signal."""
    total = F.length(col)
    alpha = F.length(F.regexp_replace(F.lower(col), r"[^a-z ]", ""))
    return fround(
        F.when(total > 0, (total - alpha).cast("double") / total).otherwise(0.0),
        decimals,
    )


def quality_score(col: Column, decimals: int = 4) -> Column:
    """Composite [0,1] quality heuristic: rewards mid-length docs,
    function-word presence and clean alphabetic text. Deterministic,
    SQL-expressible (oracle-checkable)."""
    n = token_count(col)
    length_term = F.when(n >= 20, F.lit(1.0)).otherwise(n.cast("double") / 20.0)
    stop_term = F.least(stopword_ratio(col, 6) * 4.0, F.lit(1.0))
    clean_term = F.lit(1.0) - non_alpha_ratio(col, 6)
    return fround((length_term + stop_term + clean_term) / 3.0, decimals)


def langid_en_score(col: Column, decimals: int = 4) -> Column:
    """English-likelihood = stopword hit ratio (n-gram-free heuristic;
    a real model slots in behind the same column contract)."""
    return stopword_ratio(col, decimals)


def predict_lang(col: Column) -> Column:
    """'en' when the English function-word ratio reaches 0.05, else
    'unknown'. Placeholder heuristic with a stable contract."""
    return F.when(langid_en_score(col, 6) >= 0.05, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def fingerprint(col: Column) -> Column:
    """Canonical-form document fingerprint: lower, collapse whitespace,
    md5. Key for exact dedup at any scale (hash-groupBy)."""
    canon = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(canon)


def word_shingles_sql(expr: str) -> str:
    """Distinct ``SHINGLE_K``-word shingles of the SQL text ``expr`` as
    array<string> — the unit set for Jaccard/MinHash near-dup
    detection; docs with fewer than SHINGLE_K tokens get their whole
    text as one shingle.

    The token array enters the shingle lambda as a BOUND variable
    (wrapped in a 1-element array + transform): referencing the
    tokenization inside the per-index lambda re-inlines and
    re-evaluates the split/filter once per shingle after projection
    collapse — measured ~10x slower on a 5k-doc corpus."""
    tok = tokens_sql(f"lower({expr})")
    k = SHINGLE_K
    return (
        f"element_at(transform(array({tok}), t -> array_distinct("
        f"CASE WHEN size(t) >= {k} THEN "
        f"transform(sequence(0, greatest(size(t) - {k}, 0)), "
        f"i -> concat_ws(' ', slice(t, i + 1, {k}))) "
        f"ELSE array(concat_ws(' ', t)) END)), 1)"
    )


def word_ngrams(col: Column, k: int) -> Column:
    """ALL overlapping k-word grams (duplicates KEPT, unlike
    :func:`word_shingles_sql`) — the unit for repetition-quality signals
    (duplicate-n-gram fraction, top-gram share, cf. the Gopher data
    rules). Same bound-variable trick as word_shingles_sql; docs with
    fewer than k tokens yield an empty array (no repetition is
    measurable)."""

    def build(t: Column) -> Column:
        n = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)))
        return F.when(n >= k, sh).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(tokens(F.lower(col))), build), 1)


def rolling_hash(col: Column) -> Column:
    """Order-SENSITIVE document fingerprint: polynomial (Rabin-Karp
    style) rolling hash over the token sequence —
    h = Σ h(tok_i)·31^(n-i) mod (2^31 - 1). Distinguishes permuted documents
    that the canonical md5 fingerprint (set/whitespace-normalized)
    would also distinguish, but composes incrementally, which is what
    makes it usable over chunked/streamed documents.

    Arithmetic stays below 2^36 between mod reductions (acc < 2^31,
    multiplier 31) so Spark's ANSI overflow checking never trips. Token
    hashes are md5-derived (functions/hashing.py) so the exact fold
    replays in ANSI SQL (DuckDB list_reduce) — value-hash checked.
    """
    from .hashing import md5_int32

    mod = 2147483647
    toks = tokens(F.lower(col))
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * 31 + F.pmod(md5_int32(t), F.lit(mod)), F.lit(mod)
        ),
    )
