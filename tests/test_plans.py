"""Physical-plan property tests — would this plan survive 100x the
data? Filter/column pushdown to the scan, broadcast dim joins,
map-side partial aggregation, no accidental cartesian products."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.plans import audit as pa
from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY
from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = load_table(spark, SF, "lineitem").filter(F.col("l_quantity") > 40).select(
        "l_orderkey", "l_quantity"
    )
    plan = pa.formatted_plan(df)
    assert pa.pushed_filters(plan), plan


def test_column_pruning_reaches_scan(spark):
    df = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    cols = pa.scan_columns(pa.formatted_plan(df))
    assert cols == {"l_orderkey", "l_quantity"}


def test_pricing_summary_prunes_and_pushes(spark):
    plan = pa.formatted_plan(REGISTRY["pricing_summary"].builder(spark, SF))
    # shipdate predicate pushed to parquet
    assert any("l_shipdate" in f for f in pa.pushed_filters(plan)), plan
    # only the 7 needed columns read, not all 11
    assert len(pa.scan_columns(plan)) <= 7, pa.scan_columns(plan)
    assert pa.has_partial_aggregation(plan)


def test_revenue_join_broadcasts_dims(spark):
    plan = pa.formatted_plan(
        REGISTRY["j9_revenue_by_nation_year"].builder(spark, SF)
    )
    assert pa.has_broadcast_join(plan), plan
    assert not pa.has_cartesian_product(plan)


def test_api_join_broadcasts(spark):
    plan = pa.formatted_plan(REGISTRY["api_c10_by_nation_year"].builder(spark, SF))
    assert pa.has_broadcast_join(plan)
    assert pa.has_partial_aggregation(plan)


def test_health_aggs_partial(spark):
    for q in ["hc_a1_yearly_slide_status", "hc_a4_daily_positivity"]:
        df = REGISTRY[q].builder(spark, SF)
        assert pa.has_partial_aggregation(pa.formatted_plan(df)), q


def test_binned_range_join_is_equi_join(spark):
    """The raster-scale zonal-stats form (geo.binned_zonal_join under
    geo_j6_raster_bench) must plan as an EQUI-join on the grid cell
    key (hash or sort-merge), never a nested-loop over the raw range
    predicate — that is the entire point of the binning."""
    plan = pa.formatted_plan(REGISTRY["geo_j6_raster_bench"].builder(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("HashJoin" in plan) or ("SortMergeJoin" in plan)
    # and the dimension-sized form DOES use the nested-loop (the right
    # plan when one side broadcasts) — the two shapes are a deliberate
    # pair, not an accident
    plan_dim = pa.formatted_plan(REGISTRY["geo_j6_zonal_stats"].builder(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan_dim


def test_asof_join_plans_without_a_join(spark):
    """The as-of operator's whole point: union + window carry, so the
    physical plan contains a Window over one key Exchange and NO join
    node of any kind."""
    plan = pa.formatted_plan(
        REGISTRY["asof_purchase_attribution"].builder(spark, SF)
    )
    assert "Window" in plan
    assert "Join" not in plan


def test_bucketed_gate_query_join_has_no_exchange(spark):
    """The registered bucketed-join query must actually get the
    co-located plan when neither side broadcasts (the at-scale
    situation, forced via the broadcast threshold): a sort-merge join
    fed by bucket scans, with the ONLY exchange being the final
    aggregation's. At test scale with defaults Catalyst broadcasts
    instead — equally shuffle-free, and also asserted."""
    df = REGISTRY["bucketed_revenue_by_segment"].builder(spark, SF)
    assert "Bucketed: true" in pa.formatted_plan(df)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = pa.simple_plan(
            REGISTRY["bucketed_revenue_by_segment"].builder(spark, SF)
        )
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_no_python_eval_in_oracle_queries(spark):
    """Every oracle-checked query must stay free of ROW-AT-A-TIME
    Python (BatchEvalPython/PythonUDF) — that eval shape is a 10-100x
    regression at scale. Arrow-batched mapInPandas stages (e.g.
    mm_feature_extract, which IS oracle-checked) are allowed: they
    show up as MapInPandas/ArrowEvalPython, not BatchEvalPython, and
    transfer whole columnar batches rather than pickled rows."""
    offenders = []
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        plan = pa.simple_plan(spec.builder(spark, SF))
        if "BatchEvalPython" in plan or "PythonUDF" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_no_cartesian_anywhere():
    # static sweep over every registered query plan
    from geoscale_healthflow_etl_django_analytics_spark.session import get_spark

    spark = get_spark(app_name="plan-sweep", master="local[2]", shuffle_partitions=4)
    bad = []
    for name, spec in REGISTRY.items():
        plan = pa.formatted_plan(spec.builder(spark, SF))
        # cross joins are fine only when one side is a broadcast
        # single-row query vector / tiny dim
        if pa.has_cartesian_product(plan):
            bad.append(name)
    assert not bad, bad


def test_semi_join_keeps_no_payload(spark):
    plan = pa.formatted_plan(REGISTRY["j3_semi_segment_orders"].builder(spark, SF))
    assert "LeftSemi" in plan or "left_semi" in plan.lower(), plan


def test_stratified_quota_pushes_rank_limit(spark):
    """The per-source quota sample must plan a WindowGroupLimit below
    the exchange (Spark's rank-limit pushdown): each map task keeps
    its local top-25 per source, so the shuffle carries candidates,
    not the corpus."""
    plan = pa.formatted_plan(
        REGISTRY["sample_stratified_quota"].builder(spark, SF)
    )
    assert "WindowGroupLimit" in plan, plan
    assert "Join" not in plan


def test_pii_scan_is_single_scan_no_python(spark):
    """PII scan: one parquet scan, no joins, no exchanges (pure per-row
    projection), zero Python eval nodes — the shape that streams
    through 100 TB at scan speed."""
    plan = pa.formatted_plan(REGISTRY["text_pii_scan"].builder(spark, SF))
    assert len(pa.scan_read_schemas(plan)) == 1, plan
    assert "Join" not in plan and "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "Python" not in plan


def test_pack_contexts_single_window_shuffle(spark):
    """Greedy packing: exactly one exchange feeds the (source, doc_id)
    window sort; the final aggregation reuses that partitioning where
    possible (at most one more exchange for the groupBy)."""
    plan = pa.simple_plan(REGISTRY["curation_pack_contexts"].builder(spark, SF))
    assert "Window" in plan
    assert plan.count("Exchange") <= 2, plan


def test_merge_pixel_regions_adjacency_is_equi_join(spark):
    """Region-merge adjacency must plan as hash/sort-merge equi-joins
    on the (i±1, j, value) keys — never a nested loop (the raster-
    scale disaster shape)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators.geo import (
        merge_pixel_regions,
    )

    px = spark.createDataFrame(
        [(i, j, float((i + j) % 2)) for i in range(4) for j in range(4)],
        "i int, j int, value double",
    )
    # plan only the edge construction (CC is iterative/driver-looped)
    from geoscale_healthflow_etl_django_analytics_spark.operators import geo as g

    node = (F.col("i").cast("long") * 8 + F.col("j")).alias("node")
    a = px.select("*", node).select("node", "i", "j", "value")
    b = a.select(
        F.col("node").alias("nnode"),
        F.col("i").alias("ni"),
        F.col("j").alias("nj"),
        F.col("value").alias("nvalue"),
    )
    right = a.join(
        b,
        (F.col("ni") == F.col("i") + 1)
        & (F.col("nj") == F.col("j"))
        & (F.col("nvalue") == F.col("value")),
    )
    plan = pa.formatted_plan(right)
    assert "NestedLoop" not in plan, plan
    assert ("HashJoin" in plan) or ("SortMergeJoin" in plan), plan


def test_weighted_sample_plans_take_ordered(spark):
    """The weighted exp-key sample's global top-k must plan as
    TakeOrderedAndProject — per-partition top-k then one k-row merge —
    never a full global Sort of the corpus."""
    plan = pa.formatted_plan(
        REGISTRY["sample_weighted_exp_key"].builder(spark, SF)
    )
    assert "TakeOrderedAndProject" in plan, plan

def test_decile_sketch_never_sorts_the_corpus(spark):
    """The decile SCALE tier (pricing_decile_sketch) must keep every
    corpus-sized dataflow keyed: the only sort/single-partition step
    is over the VALUE HISTOGRAM (keys=[pq...], bounded by the price
    domain), boundaries come back as a broadcast, and the final
    per-decile aggregate is map-side partial."""
    plan = pa.formatted_plan(
        REGISTRY["pricing_decile_sketch"].builder(spark, SF)
    )
    # no corpus-ordered sort anywhere (the profile twin's NTILE shape)
    assert "rangepartitioning" not in plan, plan
    assert "Sort [o_totalprice" not in plan, plan
    # boundaries reach the rows as a broadcast, not a shuffle join
    assert "BroadcastNestedLoopJoin" in plan, plan
    # decile aggregate is partially aggregated before its exchange
    assert "partial_count" in plan, plan


def test_decontaminate_broadcasts_bench_grams(spark):
    plan = pa.formatted_plan(REGISTRY["dedup_decontaminate"].builder(spark, SF))
    # the eval-set gram table must broadcast — a corpus-keyed shuffle on
    # grams would make the hygiene pass as expensive as a full dedup
    assert pa.has_broadcast_join(plan), plan
    assert not pa.has_cartesian_product(plan)


def test_source_mix_partial_agg_no_cartesian_blowup(spark):
    plan = pa.formatted_plan(REGISTRY["curation_source_mix"].builder(spark, SF))
    assert pa.has_partial_aggregation(plan)
    # the two single-row joins plan as broadcast nested loop; fine —
    # but the corpus-sized scan side must appear exactly once
    assert plan.count("Scan parquet") <= 1 or pa.has_broadcast_join(plan), plan


def test_perm_band_hashes_single_exchange_partial_min(spark):
    """True-permutation banding (the r6 default front half) must stay
    one-shuffle: explode shingle hashes, 64 partial_min aggregates
    map-side, ONE doc_id exchange, final agg, band explode. A second
    corpus exchange or a lost partial agg would re-open the cost the
    tier swap paid for."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import dedup as dd

    plan = pa.formatted_plan(
        dd.minhash_perm_band_hashes(load_table(spark, SF, "documents"))
    )
    # map-side combine of the 64 per-permutation mins
    assert "partial_min" in plan, plan
    # exactly one data exchange beyond the ensure_parallelism
    # round-robin (hashpartitioning on doc_id)
    assert plan.count("hashpartitioning(doc_id") == 1, plan
    assert not pa.has_cartesian_product(plan)


def test_substring_spans_no_quadratic_stage(spark):
    """dedup_substring_spans: window explode + hash groupBy + join
    back + per-doc window — partial aggregation present, no
    cartesian product, and the only sort is the per-doc island
    window (partitioned by doc_id), never a global one."""
    plan = pa.formatted_plan(REGISTRY["dedup_substring_spans"].builder(spark, SF))
    assert pa.has_partial_aggregation(plan)
    assert not pa.has_cartesian_product(plan)
    assert "rangepartitioning" not in plan, plan
    # the duplicated-hash table is output-scale and must NOT broadcast
    # (AQE's optimistic broadcast of it collected 1.1 GB to the driver
    # at x200 — measured); the hint pins a shuffle-hash join
    assert "ShuffledHashJoin" in plan, plan


def test_simhash_adaptive_pinned_exchange_no_cartesian(spark):
    """The adaptive SimHash tier (r7 default): band self-join must run
    on the pinned (band, bh) repartition (spread expansion, the
    AQE-narrowing lesson), with no cartesian stage anywhere and the
    verify join confined to hamming survivors (a left-semi keeps the
    token stage off the full corpus)."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import dedup as dd

    sh = dd.with_simhash_wide(load_table(spark, SF, "documents"))
    for blocks in (4, 6):
        plan = pa.formatted_plan(dd.simhash_hamming_survivors(sh, blocks))
        assert "hashpartitioning(band" in plan, plan
        assert not pa.has_cartesian_product(plan)
    # verify stage: token join confined to hamming survivors via a
    # left-semi (the final plan starts at the survivors checkpoint)
    full = pa.formatted_plan(
        dd.simhash_adaptive_pairs(load_table(spark, SF, "documents"))
    )
    assert "LeftSemi" in full, full
    assert not pa.has_cartesian_product(full)


def test_minhash_salting_empty_census_fast_path(spark):
    """r7 census rework (ADVICE r6 #2): the over-cap census is
    collected under a hard cap instead of unconditionally broadcast.
    On every gate corpus the census is EMPTY — pin that precondition
    — so the salting stage is a literal salt-0 column (no join); the
    pair values themselves are pinned by oracle parity."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import dedup as dd

    docs = load_table(spark, SF, "documents")
    exploded = dd.minhash_perm_band_hashes(docs)
    census = (
        exploded.groupBy("band", "bh")
        .agg(F.count("*").alias("__bsz"))
        .filter(F.col("__bsz") > dd._SALT_CAP)
    )
    assert census.count() == 0
    assert dd.minhash_lsh_pairs(docs).count() > 0


def test_decontaminate_semijoin_no_broadcast_anywhere(spark):
    """The large-eval-set decontamination tier exists to REMOVE the
    broadcast bound: both the gram join and the per-doc left join
    must be shuffle hash joins, and no BroadcastExchange may appear
    anywhere in the plan — at corpus-vs-corpus scale the eval gram
    set is corpus-sized and an AQE broadcast guess (cheap-looking at
    gate SF) is exactly the x200 driver-collect abort the substring-
    spans dup table hit. Output equality with the broadcast tier is
    pinned by the shared oracle."""
    plan = pa.formatted_plan(
        REGISTRY["dedup_decontaminate_semijoin"].builder(spark, SF)
    )
    assert plan.count("ShuffledHashJoin") >= 2, plan
    assert "BroadcastExchange" not in plan, plan
    assert not pa.has_cartesian_product(plan)


def test_decontaminate_tiers_agree(spark):
    """Both decontamination tiers are the same operator under two
    physical plans; their outputs must be row-identical."""
    a = {
        tuple(r)
        for r in REGISTRY["dedup_decontaminate"].builder(spark, SF).collect()
    }
    b = {
        tuple(r)
        for r in REGISTRY["dedup_decontaminate_semijoin"]
        .builder(spark, SF)
        .collect()
    }
    assert a == b and len(a) > 0


def test_dsir_select_topk_and_partial_agg(spark):
    """DSIR selection: constant-k pick must plan as
    TakeOrderedAndProject (per-partition top-k, one k-row merge),
    never a global sort; the (doc_id, bucket) count and the LM fits
    must partial-aggregate map-side; the only nested-loop join is the
    broadcast 1-row totals composition."""
    plan = pa.formatted_plan(REGISTRY["curation_dsir_select"].builder(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert pa.has_partial_aggregation(plan)
    assert "rangepartitioning" not in plan, plan


def test_hll_is_two_phase_constant_state(spark):
    """HLL: map-side-combinable register aggregation (partial max),
    no sort-merge join, the only join a one-row broadcast."""
    plan = pa.simple_plan(REGISTRY["text_hll_distinct"].builder(spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") == 1
    assert "partial" in plan.lower()  # register max combines map-side


def test_line_dedup_no_join_back_to_exploded(spark):
    """The survivor set IS the groupBy(fp).min(struct) result — the
    plan must carry no self-join of the exploded segment table (<= 3
    exchanges total: fp agg, doc_id reassembly agg, stats join)."""
    plan = pa.simple_plan(
        REGISTRY["dedup_line_level_apply"].builder(spark, SF)
    )
    assert plan.count("Exchange") <= 3, plan
    assert "partial" in plan.lower()


def test_ewma_preaggregates_before_window(spark):
    """EWMA: exactly the bucket groupBy + the per-key window exchange —
    the window never sees raw events."""
    plan = pa.simple_plan(REGISTRY["ts_ewma_anomaly"].builder(spark, SF))
    assert plan.count("Exchange") <= 2, plan
    assert "Window" in plan


def test_classifier_final_pass_is_one_aggregation(spark):
    """After training (driver holds 4 floats), the summary is ONE
    scalar aggregation over the feature scan — no joins, one exchange."""
    plan = pa.simple_plan(
        REGISTRY["curation_quality_classifier"].builder(spark, SF)
    )
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


# Two dumps of the same plan from two processes (shapes taken from
# formatted plans of the split family, a JSON round trip and the GeoTIFF
# zonal query): only process-global counters, the fixture dir's pid and
# the Python call site differ.
_PLAN_A = r"""(3) Scan ExistingRDD
Arguments: [doc_a#24768L, doc_b#24770L, link_type#24780], MapPartitionsRDD[4904] at localCheckpoint at <unknown>:0, ExistingRDD, UnknownPartitioning(0)
(7) Generate
Arguments: explode(filter(split(trim(lower(text#893), None), \s+, -1), lambdafunction(NOT (lambda x_153#14957 = ), lambda x_153#14957, false))), [doc_id#892L], false, [token#14958]
(8) Generate
Arguments: transform(g#14962, lambdafunction(substr(lambda x_154#14960, lambda x_155#14961, 4), lambda x_155#14961, false))
(9) Exchange
Arguments: hashpartitioning(doc_a#24768L, 32), ENSURE_REQUIREMENTS, [plan_id=78570]
(10) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=78576]
(11) Scan json
Location: InMemoryFileIndex [file:/tmp/spark_graft_fixtures/json_orders_root_testdata_sf0.01_13205]
(12) Scan parquet
Location: InMemoryFileIndex [file:/tmp/spark_graft_fixtures/cluster_fold_root_testdata_sf0.01_13205/clusters]
(13) Scan ExistingRDD
Arguments: [a#4680L, component#4681L], MapPartitionsRDD[1064] at applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)
"""
_PLAN_B = r"""(3) Scan ExistingRDD
Arguments: [doc_a#31L, doc_b#33L, link_type#40], MapPartitionsRDD[17] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)
(7) Generate
Arguments: explode(filter(split(trim(lower(text#5), None), \s+, -1), lambdafunction(NOT (lambda x_128#70 = ), lambda x_128#70, false))), [doc_id#4L], false, [token#71]
(8) Generate
Arguments: transform(g#75, lambdafunction(substr(lambda x_129#73, lambda x_130#74, 4), lambda x_130#74, false))
(9) Exchange
Arguments: hashpartitioning(doc_a#31L, 32), ENSURE_REQUIREMENTS, [plan_id=102]
(10) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=108]
(11) Scan json
Location: InMemoryFileIndex [file:/tmp/spark_graft_fixtures/json_orders_root_testdata_sf0.01_977]
(12) Scan parquet
Location: InMemoryFileIndex [file:/tmp/spark_graft_fixtures/cluster_fold_root_testdata_sf0.01_977/clusters]
(13) Scan ExistingRDD
Arguments: [a#3L, component#9L], MapPartitionsRDD[2] at applySchemaToPythonRDD at <unknown>:0, ExistingRDD, UnknownPartitioning(0)
"""


def test_normalize_plan_equates_process_dependent_text():
    """Two processes' dumps of one plan normalize to the same text, and
    every process-dependent token is gone from it."""
    a, b = pa.normalize_plan(_PLAN_A), pa.normalize_plan(_PLAN_B)
    assert a == b
    for token in ("#24768", "x_153", "plan_id=78570", "RDD[4904]", "13205",
                  "<unknown>:0", "NativeMethodAccessorImpl"):
        assert token not in a, token
    assert "sf0.01_<pid>/clusters" in a and "sf0.01_<pid>]" in a


def test_normalize_plan_keeps_real_differences():
    """Renumbering keeps the identity structure: merging two distinct
    ids, changing a partition count or a fixture kind still differs."""
    norm = pa.normalize_plan
    assert norm(_PLAN_A) != norm(_PLAN_A.replace("doc_b#24770L", "doc_b#24768L"))
    assert norm(_PLAN_A) != norm(_PLAN_A.replace("x_155", "x_154"))
    assert norm(_PLAN_A) != norm(_PLAN_A.replace(" 32)", " 16)"))
    assert norm(_PLAN_A) != norm(_PLAN_A.replace("cluster_fold_", "cluster_lifecycle_"))
