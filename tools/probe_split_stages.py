#!/usr/bin/env python
"""Stage-split probe for the incremental-split x500 band (VERDICT r11
next-round #1, second half): is the split family's super-linear x500
growth in the PAIR stage, the batch-graph CC, or the final
assignment?

Runs the ``curation_incremental_split_indexed`` dataflow at one scale
point (default x500) with each stage materialized and timed
separately against the layout-v2 generated corpus:

- **ensure** (untimed): build the persisted clusters+bands artifact
  for the index side — the query's steady-state precondition, ensured
  once per process exactly as the registered builder does;
- **stage A — pairs**: ``incremental_pairs_vs_index`` (stored-band
  read + batch band derivation + bucket selection + expansion + exact
  verify) to a noop sink;
- **stage B — pairs + batch CC**: connected components over the
  batch_batch edges of a RE-BUILT pair set (the stage includes A's
  work; B - A isolates the CC fixpoint);
- **stage C — full assignment** (the registered query shape).

Each stage is warmup-free but min-of-2 (same discipline as
scale_bench deep cells); stages re-run their upstream work by
construction, so the attribution is read from the DELTAS, which
cancels the shared upstream term.  Output: one JSON line.

Usage:
  SPARK_GRAFT_SCALES=500 python tools/probe_split_stages.py
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

import scale_bench  # noqa: E402
from geoscale_healthflow_etl_django_analytics_spark.operators import (  # noqa: E402
    dedup,
    splitting,
)
from geoscale_healthflow_etl_django_analytics_spark.session import get_spark  # noqa: E402
from geoscale_healthflow_etl_django_analytics_spark.sources import catalog  # noqa: E402


def _timed(make_df) -> float:
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        make_df().write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
        best = sec if best is None else min(best, sec)
    return round(best, 3)


def main() -> None:
    m = int(os.environ.get("SPARK_GRAFT_SCALES", "500"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark(app_name="probe-split-stages")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(scale_bench._partitions_for("curation_incremental_split_indexed", m)),
    )
    sf_dir = scale_bench._scale_dir(
        spark, m, ["curation_incremental_split_indexed"]
    )
    docs = catalog.load_table(spark, sf_dir, "documents")
    batch_pred = lambda c: c % 10 >= 8  # noqa: E731
    path = os.path.join(_REPO, "_scale_data", f"x{m}", "_probe_index_clusters")
    t0 = time.perf_counter()
    splitting.ensure_cluster_table(
        docs.filter(~batch_pred(F.col("doc_id"))), path
    )
    ensure_s = round(time.perf_counter() - t0, 3)

    def pairs_df():
        return splitting.incremental_pairs_vs_index(
            docs, batch_pred, path
        )

    a = _timed(pairs_df)

    def cc_df():
        bb = pairs_df().filter(F.col("link_type") == "batch_batch").select(
            "doc_a", "doc_b"
        )
        return dedup.connected_components(bb)

    b = _timed(cc_df)

    def full_df():
        iclu = spark.read.parquet(os.path.join(path, "clusters"))
        return splitting.incremental_leakage_safe_split(
            docs, iclu, pairs_df(), batch_pred
        )

    c = _timed(full_df)
    out = {
        "metric": "probe_split_stages",
        "unit": "sec",
        "scale": f"x{m}",
        "partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "ensure_untimed": ensure_s,
        "stage_a_pairs": a,
        "stage_b_pairs_plus_cc": b,
        "stage_c_full": c,
        "delta_cc": round(b - a, 3),
        "delta_assignment": round(c - b, 3),
        "method": "min-of-2 per stage, deltas cancel shared upstream",
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
