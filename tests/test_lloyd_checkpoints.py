"""Where the Lloyd loops materialize: Spark jobs launched while a
k-means builder is BUILT (before any action on its result).

Every round's centroid table is ``localCheckpoint``-ed so the next
round's broadcast does not re-execute the previous round's corpus
pass (lineage re-execution measured 2.6x on the pruned tier, PLANS.md
r7).  No value oracle can see a dropped checkpoint — the result is the
same, only slower — so this suite pins the construction-time job count
of each builder instead: a lost or added eager materialization changes
the count.
"""

from __future__ import annotations

import math

import pytest

from geoscale_healthflow_etl_django_analytics_spark.operators.pq import (
    pq_train_codebooks,
)
from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import (
    lloyd_assignments,
    lloyd_assignments_probe,
    lloyd_assignments_pruned,
)

DIM = 8


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (i, [math.sin(i * 7 + j * 3) for j in range(DIM)], i % 3)
        for i in range(48)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def _build_jobs(spark, build) -> int:
    sc = spark.sparkContext
    group = f"lloyd-build-{id(build)}"
    sc.setJobGroup(group, group)
    try:
        build()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


@pytest.mark.parametrize(
    "name, build, jobs",
    [
        ("flat", lambda e: lloyd_assignments(e, 4, iters=2), 10),
        ("pruned", lambda e: lloyd_assignments_pruned(e, 4), 14),
        ("probe", lambda e: lloyd_assignments_probe(e, 4), 79),
        (
            "pq_train",
            lambda e: pq_train_codebooks(e, dim=DIM, m=2, ks=4, iters=2),
            10,
        ),
    ],
)
def test_build_time_jobs(spark, emb, name, build, jobs):
    n = _build_jobs(spark, lambda: build(emb))
    assert n == jobs, (name, n)
