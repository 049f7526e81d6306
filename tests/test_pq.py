"""Product quantization (operators/pq.py): code-table invariants,
exact reconstruction for seed vectors, rerank recall against the
brute-force oracle, and the plan contracts (broadcast codebook, no
window exchange, TakeOrderedAndProject shortlist)."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.operators.pq import (
    PQ_KS,
    PQ_M,
    pq_codes,
    pq_topk,
)
from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import cosine_topk
from geoscale_healthflow_etl_django_analytics_spark.plans import audit as pa
from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def test_code_table_shape(spark):
    emb = _emb(spark)
    n = emb.count()
    rows = pq_codes(emb).collect()
    assert len(rows) == n * PQ_M
    assert all(0 <= r["code"] < PQ_KS for r in rows)


def test_seed_vectors_self_code(spark):
    """A codebook seed's own subvector is at distance exactly 0 from
    its codebook entry, so seeds must encode to themselves — the
    cheapest end-to-end sanity check of the argmin chain."""
    rows = pq_codes(_emb(spark)).filter(F.col("vec_id") < PQ_KS).collect()
    assert rows and all(r["code"] == r["vec_id"] for r in rows)


def test_seed_vectors_reconstruct_exactly(spark):
    """For a seed vector the PQ reconstruction IS the vector, so its
    ADC score must equal its true cosine to micro-unit precision —
    pins the whole LUT/ADC arithmetic without tolerance fudging."""
    hits = pq_topk(_emb(spark)).collect()
    seed_hits = [r for r in hits if r["vec_id"] < PQ_KS]
    assert seed_hits, "expected at least one seed among top-10"
    for r in seed_hits:
        assert abs(r["approx_score"] - r["cosine_sim"]) <= 2e-6, r


def test_rerank_recall_against_brute_force(spark):
    """ADC shortlist (50) + exact rerank must recover at least half
    of the true top-10 at the gate corpus (measured 0.6 with the
    deterministic seed codebooks; the bound is deliberately below
    the measurement, the pin is the mechanism working at all)."""
    pq = {r["vec_id"] for r in pq_topk(_emb(spark)).collect()}
    ex = {
        r["vec_id"]
        for r in cosine_topk(_emb(spark), query_vec_id=0, k=10).collect()
    }
    assert len(pq & ex) >= 5, (sorted(pq), sorted(ex))


def test_encode_plan_contract(spark):
    """Encoding must join a BROADCAST codebook and aggregate with a
    partial (map-side) min_by — no window function, no n*ks-row
    exchange."""
    import re

    plan = pa.formatted_plan(pq_codes(_emb(spark)))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    # min_by over a struct ordering plans as SortAggregate, still in
    # partial+final form: two aggregate nodes around one exchange
    assert len(set(re.findall(r"\((\d+)\) SortAggregate", plan))) == 2, plan


def test_shortlist_plan_is_take_ordered(spark):
    """The top-rerank cut must plan as TakeOrderedAndProject — never
    a full corpus sort."""
    plan = pa.formatted_plan(pq_topk(_emb(spark)))
    assert "TakeOrderedAndProject" in plan, plan


def test_ivfpq_probe_all_equals_plain_pq(spark):
    """With every inverted list probed, IVF-PQ's routing restriction
    vanishes and the composition must be byte-identical to plain PQ —
    pins that composing the two tiers changes ONLY the member set,
    never the scoring arithmetic."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.pq import ivfpq_topk

    full = {
        tuple(r) for r in ivfpq_topk(_emb(spark), nprobe=8).collect()
    }
    plain = {tuple(r) for r in pq_topk(_emb(spark)).collect()}
    assert full == plain


def test_ivfpq_hits_come_from_probed_lists(spark):
    """Every emitted neighbor must belong to one of the nprobe probed
    inverted lists — the routing contract."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.pq import ivfpq_topk
    from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import (
        ivf_assignments,
    )

    emb = _emb(spark)
    assign = {
        r["vec_id"]: r["cid"] for r in ivf_assignments(emb).collect()
    }
    hits = ivfpq_topk(emb, nprobe=2).collect()
    probed_lists = {assign[r["vec_id"]] for r in hits}
    assert len(probed_lists) <= 2, probed_lists


def test_ivfpq_recall_against_brute_force(spark):
    """Measured 0.8 at the gate corpus (the IVF restriction prunes
    distractor overestimates, beating plain PQ's 0.6); pinned below
    the measurement."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.pq import ivfpq_topk

    iv = {r["vec_id"] for r in ivfpq_topk(_emb(spark)).collect()}
    ex = {
        r["vec_id"]
        for r in cosine_topk(_emb(spark), query_vec_id=0, k=10).collect()
    }
    assert len(iv & ex) >= 6, (sorted(iv), sorted(ex))


def test_pq_lloyd_training_reduces_error(spark):
    """k-means monotonicity, observed end-to-end: total weighted
    quantization distance after 2 training rounds must not exceed the
    seed codebooks' (iters=0 runs the same assign on the untrained
    codebooks)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.pq import (
        pq_lloyd_codebooks,
    )

    def total(iters):
        rows = pq_lloyd_codebooks(_emb(spark), iters=iters).collect()
        return sum(r["n_assigned"] * r["mean_l2"] for r in rows), rows

    t0, _ = total(0)
    t2, rows = total(2)
    # tolerance scaled to the 6-dp per-row rounding noise in the
    # weighted totals (n rows of +-5e-7 each side), not a bare 1e-6
    n_rows = _emb(spark).count() * PQ_M
    assert t2 <= t0 + n_rows * 1e-6, (t2, t0)
    # every subspace fully assigned: per-s membership sums to n
    n = _emb(spark).count()
    per_s = {}
    for r in rows:
        assert 0 <= r["s"] < PQ_M and 0 <= r["cid"] < PQ_KS
        per_s[r["s"]] = per_s.get(r["s"], 0) + r["n_assigned"]
    assert per_s == {s: n for s in range(PQ_M)}


def test_pq_lloyd_plan_has_no_window(spark):
    """The per-round argmin is a min(struct) aggregate — a window
    here would shuffle n*ks rows per round."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.pq import (
        pq_lloyd_codebooks,
    )

    plan = pa.formatted_plan(pq_lloyd_codebooks(_emb(spark), iters=1))
    assert "Window" not in plan, plan


def test_pq_topk_codebooks_param_identity_and_trained_runs(spark):
    """codebooks=None and codebooks=<the seed table> must be the same
    query; a trained table must run end-to-end through the identical
    ADC chain (no recall claim — at n=500 recall@10 of one query is
    noise; the training win that IS pinned is sim_pq_lloyd's monotone
    quantization error)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.pq import (
        pq_codebooks,
        pq_train_codebooks,
    )

    emb = _emb(spark)
    default = {tuple(r) for r in pq_topk(emb).collect()}
    explicit = {
        tuple(r) for r in pq_topk(emb, codebooks=pq_codebooks(emb)).collect()
    }
    assert default == explicit
    trained = pq_topk(emb, codebooks=pq_train_codebooks(emb, iters=1)).collect()
    assert len(trained) == 10


# ------------------------------------------------ persisted index


def test_ivfpq_index_query_matches_inplan_chain(spark, tmp_path):
    """The persisted index is a MATERIALIZATION of the trained
    chain: query results are bit-identical to ivfpq_topk with the
    same trained codebooks (parquet round-trips the fragments)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import pq_index
    from geoscale_healthflow_etl_django_analytics_spark.operators.pq import (
        ivfpq_topk,
        pq_train_codebooks,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    pq_index.write_ivfpq_index(emb, path)
    got = pq_index.query_ivfpq_index(
        spark, path, pq_index.query_row(emb, 0), exclude_vec_id=0
    ).collect()
    want = ivfpq_topk(emb, codebooks=pq_train_codebooks(emb, iters=2)).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_ivfpq_index_query_prunes_partitions(spark, tmp_path):
    """Both corpus-sized reads (codes, vectors) carry literal
    PartitionFilters on list_id — a probe reads nprobe directories,
    never the corpus."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import pq_index

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    pq_index.write_ivfpq_index(emb, path)
    df = pq_index.query_ivfpq_index(
        spark, path, pq_index.query_row(emb, 0), exclude_vec_id=0
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended"
    )
    assert "PartitionFilters" in plan and "list_id" in plan


def test_ivfpq_index_ensure_skips_current_build(spark, tmp_path, monkeypatch):
    """ensure_ivfpq_index is a no-op when the Lloyd rounds + row count
    match the ledger, and rebuilds when the build setting changes."""
    import os

    from geoscale_healthflow_etl_django_analytics_spark.operators import pq_index

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    every = lambda c: F.lit(True)  # noqa: E731
    codes = os.path.join(path, "codes")
    pq_index.ensure_ivfpq_index(emb, every, [], path)
    mtime = os.path.getmtime(codes)
    pq_index.ensure_ivfpq_index(emb, every, [], path)  # current -> skip
    assert os.path.getmtime(codes) == mtime
    monkeypatch.setattr(pq_index, "LLOYD_ITERS", 1)
    pq_index.ensure_ivfpq_index(emb, every, [], path)  # setting -> rebuild
    assert os.path.getmtime(codes) > mtime


def test_ivfpq_add_is_append_only(spark, tmp_path):
    """add_to_ivfpq_index (the FAISS add() lifecycle, r11): every
    stored code/vector row survives the add byte-identical — queries
    over unchanged vectors cannot drift — and it writes data only (the
    ledger is ensure_ivfpq_index's, tests/test_compaction.py)."""
    import os

    from geoscale_healthflow_etl_django_analytics_spark.operators import pq_index

    def rowset(df):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        }

    emb = _emb(spark)
    idx = emb.filter(F.col("vec_id") % 10 < 8)
    path = str(tmp_path / "idx")
    pq_index.write_ivfpq_index(idx, path)
    pre_codes = rowset(spark.read.parquet(os.path.join(path, "codes")))
    pre_vecs = rowset(spark.read.parquet(os.path.join(path, "vectors")))
    pq_index.add_to_ivfpq_index(
        emb.filter(F.col("vec_id") % 10 >= 8), path
    )
    post_codes = rowset(spark.read.parquet(os.path.join(path, "codes")))
    post_vecs = rowset(spark.read.parquet(os.path.join(path, "vectors")))
    assert pre_codes <= post_codes and pre_vecs <= post_vecs
    for row in post_vecs - pre_vecs:
        assert row[0] % 10 >= 8  # vec_id: appended rows are batch only
    assert not os.path.exists(os.path.join(path, "_meta.json"))


def test_ivfpq_add_matches_frozen_inplan_chain(spark, tmp_path):
    """A query over the GROWN index is bit-identical to the in-plan
    trained chain with the quantizer frozen on the index subset —
    encoding/routing the whole corpus with codebooks trained on 80%
    of it (what add() produces) equals ivfpq_topk with those same
    codebooks (centroids vec_id<8 lie inside the index subset, so
    both chains route against identical centroids)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import pq_index
    from geoscale_healthflow_etl_django_analytics_spark.operators.pq import (
        ivfpq_topk,
        pq_train_codebooks,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    pq_index.ensure_ivfpq_index(
        emb, lambda c: c % 10 < 8, [lambda c: c % 10 >= 8], path
    )
    got = pq_index.query_ivfpq_index(
        spark, path, pq_index.query_row(emb, 0), exclude_vec_id=0
    ).collect()
    want = ivfpq_topk(
        emb,
        codebooks=pq_train_codebooks(
            emb.filter(F.col("vec_id") % 10 < 8), iters=2
        ),
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_ivfpq_add_recall_over_grown_corpus(spark, tmp_path):
    """Recall over the GROWN corpus: the frozen-quantizer index still
    finds the brute-force neighbors, including ones that arrived via
    add() (the added 20% contains true neighbors at this corpus)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import pq_index

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    pq_index.ensure_ivfpq_index(
        emb, lambda c: c % 10 < 8, [lambda c: c % 10 >= 8], path
    )
    got = {
        r["vec_id"]
        for r in pq_index.query_ivfpq_index(
            spark, path, pq_index.query_row(emb, 0), exclude_vec_id=0
        ).collect()
    }
    ex = {
        r["vec_id"]
        for r in cosine_topk(_emb(spark), query_vec_id=0, k=10).collect()
    }
    assert len(got & ex) >= 6, (sorted(got), sorted(ex))


def test_ivfpq_add_query_prunes_partitions(spark, tmp_path):
    """The grown index queries through the same partition-pruned path:
    literal list_id PartitionFilters survive the add (appended files
    land inside existing partition directories)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import pq_index

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    pq_index.ensure_ivfpq_index(
        emb, lambda c: c % 10 < 8, [lambda c: c % 10 >= 8], path
    )
    df = pq_index.query_ivfpq_index(
        spark, path, pq_index.query_row(emb, 0), exclude_vec_id=0
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended"
    )
    assert "PartitionFilters" in plan and "list_id" in plan
