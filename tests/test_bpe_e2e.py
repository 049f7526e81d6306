"""Real-BPE merge loop (functions/bpe.py) and the end-to-end curation
composition (curation_end_to_end) — round-8 additions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.plans import audit as pa
from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def test_bpe_hand_checked_merges(spark):
    """'aaaa bbbb' pre-tokenizes to ['aaaa', ' bbbb']. Merge 1 is
    (a,a) (total 3, ties with (b,b) broken lexicographically); merge
    2 is (b,b). After both: [aa, aa] and [' ', bb, bb] — 5 tokens,
    9 chars."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.bpe import (
        bpe_doc_stats,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa bbbb")], "doc_id long, text string"
    )
    row = bpe_doc_stats(docs, n_merges=2).collect()[0]
    assert row.bpe_tokens == 5
    assert row.chars == 9
    assert row.chars_per_token == 1.8


@pytest.mark.parametrize(
    "texts, n_merges",
    [
        (["aaaa bbbb"], 2),
        # runs out of pairs after 2 merges: (a, b), then (' ', ab)
        (["ab ab ab", "ab"], 4),
    ],
)
def test_bpe_doc_stats_equals_apply_of_learned_merges(spark, texts, n_merges):
    """The in-plan tier and the Python apply tier under the merge table
    the same loop learns give one row per doc with equal counts — also
    when the vocabulary runs out of pairs before ``n_merges``."""
    from geoscale_healthflow_etl_django_analytics_spark.functions import bpe

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    inplan = sorted(map(tuple, bpe.bpe_doc_stats(docs, n_merges).collect()))
    applied = sorted(
        map(
            tuple,
            bpe.bpe_apply_doc_stats(
                docs, bpe.learn_merges(docs, n_merges)
            ).collect(),
        )
    )
    assert len(inplan) == len(texts)
    assert inplan == applied


def test_bpe_merges_reduce_tokens(spark):
    """More merges can only shrink (or hold) every doc's token count,
    and zero merges equals the character count of the pre-tokens."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.bpe import (
        bpe_doc_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    base = {
        r.doc_id: r for r in bpe_doc_stats(docs, n_merges=0).collect()
    }
    merged = {
        r.doc_id: r for r in bpe_doc_stats(docs, n_merges=4).collect()
    }
    assert set(base) == set(merged)
    for did, b in base.items():
        assert b.bpe_tokens == b.chars  # 0 merges = char-level symbols
        m = merged[did]
        assert m.bpe_tokens <= b.bpe_tokens
        assert m.chars == b.chars


def test_bpe_plan_has_no_python(spark):
    """The whole learn+apply chain stays JVM-side: no Python eval
    nodes anywhere in the physical plan."""
    df = REGISTRY["text_bpe_tokenize"].builder(spark, SF)
    plan = pa.simple_plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def _distinct_exchanges(plan: str) -> int:
    """Distinct exchange subtrees in a NON-AQE physical plan: each
    ReusedExchange node both contains the substring 'Exchange' and
    stands in for a deduplicated duplicate, so distinct originals =
    total - 2 * reused."""
    return plan.count("Exchange") - 2 * plan.count("ReusedExchange")


def test_e2e_composition_adds_no_exchange(spark):
    """curation_end_to_end is ONE chained lazy plan: its DISTINCT
    exchange count must not exceed the SUM of its five component
    queries' — accidental re-materialization (an extra round-trip
    between stages) would push it over. Measured with AQE off so the
    static ReuseExchange rule is visible in the plan string (under
    AQE the same dedup happens at stage materialization, invisible
    to explain; shared stage frames referenced by several consumers
    plan as repeated subtrees that reuse collapses — measured here:
    composed distinct == component sum exactly, 28 == 28)."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        composed = _distinct_exchanges(
            pa.simple_plan(REGISTRY["curation_end_to_end"].builder(spark, SF))
        )
        parts = [
            "curation_pipeline",
            "dedup_apply_span_removal",
            "dedup_decontaminate",
            "curation_dsir_select",
            "layout_export_shuffle",
        ]
        budget = sum(
            _distinct_exchanges(
                pa.simple_plan(REGISTRY[name].builder(spark, SF))
            )
            for name in parts
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert composed <= budget, (composed, budget)


def test_e2e_is_deterministic_and_selects_budget(spark):
    out = REGISTRY["curation_end_to_end"].builder(spark, SF)
    rows = {(r.doc_id, r.shard, r.pos) for r in out.collect()}
    again = {
        (r.doc_id, r.shard, r.pos)
        for r in REGISTRY["curation_end_to_end"].builder(spark, SF).collect()
    }
    assert rows == again
    # constant-budget selection: min(200, survivors); every shard's
    # positions are 1..n_shard
    assert 0 < len(rows) <= 200
    by_shard: dict[int, list[int]] = {}
    for _, shard, pos in rows:
        by_shard.setdefault(shard, []).append(pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
